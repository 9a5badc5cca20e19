"""Pins for token-budget selection (queries/pipeline.py)."""

from __future__ import annotations

import random

from tests.conftest import SF_SMALL

_BUDGET = 10_000


def _docs(spark):
    from stockify_spark.registry import _t

    out = {}
    for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect():
        toks = r.text.lower().split(" ")
        out[r.doc_id] = (len(toks), round(len(set(toks)) / len(toks), 6))
    return out


def test_selection_is_the_density_greedy_prefix(spark):
    from stockify_spark.queries.pipeline import pipeline_budget_select

    docs = _docs(spark)
    order = sorted(docs, key=lambda d: (-docs[d][1], d))
    want = []
    cum = 0
    for d in order:
        cum += docs[d][0]
        if cum > _BUDGET:
            break
        want.append((d, cum))
    rows = sorted(
        pipeline_budget_select(spark, SF_SMALL).collect(),
        key=lambda r: r.cum_tokens,
    )
    assert [(r.doc_id, r.cum_tokens) for r in rows] == want
    assert rows[-1].cum_tokens <= _BUDGET
    # density invariant: min admitted TTR >= max rejected TTR minus
    # the tie-break window
    admitted = {r.doc_id for r in rows}
    min_in = min(docs[d][1] for d in admitted)
    rejected = [d for d in order if d not in admitted]
    if rejected:
        # only the boundary region may interleave; strictly better
        # density than the first rejection is always admitted
        first_rejected_ttr = docs[rejected[0]][1]
        assert min_in >= first_rejected_ttr - 1e-9


def test_greedy_dominates_random_same_budget_selections(spark):
    """The knapsack argument, verified empirically: no random
    budget-feasible selection beats greedy's total value (sum of
    ttr * tokens, the fractional objective)."""
    docs = _docs(spark)
    order = sorted(docs, key=lambda d: (-docs[d][1], d))
    cum = 0
    greedy = []
    for d in order:
        if cum + docs[d][0] > _BUDGET:
            break
        cum += docs[d][0]
        greedy.append(d)
    gval = sum(docs[d][0] * docs[d][1] for d in greedy)
    rng = random.Random(31)
    ids = list(docs)
    for _ in range(50):
        rng.shuffle(ids)
        c = 0
        val = 0.0
        for d in ids:
            if c + docs[d][0] > _BUDGET:
                continue
            c += docs[d][0]
            val += docs[d][0] * docs[d][1]
        # allow the boundary slack of one document's value
        assert val <= gval + max(
            docs[d][0] * docs[d][1] for d in docs
        ), val
