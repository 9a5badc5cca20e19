"""Pins for the round-13 corpus-statistics wave (queries: pipeline, text).

Pure-Python recomputation over sf0.001 — independent of both SQL
engines — plus the defining mathematical property of each statistic.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from tests.conftest import SF_SMOKE


def _docs(spark):
    from stockify_spark.registry import _t

    return _t(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).collect()


def test_sppmi_matches_python_and_is_shifted_pmi(spark):
    from stockify_spark.queries.text import text_sppmi

    pc: Counter = Counter()
    for r in _docs(spark):
        ts = r.text.lower().split(" ")
        for i, w in enumerate(ts):
            for d in (1, 2):
                if i + d < len(ts):
                    pc[(w, ts[i + d])] += 1
                    pc[(ts[i + d], w)] += 1
    nw: Counter = Counter()
    nc: Counter = Counter()
    for (w, c), n in pc.items():
        nw[w] += n
        nc[c] += n
    t = sum(pc.values())
    scored = {}
    for (w, c), n in pc.items():
        if n >= 3:
            scored[(w, c)] = round(
                max(0.0, math.log(n * t / (nw[w] * nc[c])) - math.log(5)), 6
            )
    want = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    rows = text_sppmi(spark, SF_SMOKE).collect()
    got = [((r.center, r.context), r.sppmi) for r in rows]
    assert sorted(got) == sorted(want)
    # shift property: sppmi <= max(0, pmi) and hits 0 where pmi < ln 5
    for (w, c), v in want:
        pmi = math.log(pc[(w, c)] * t / (nw[w] * nc[c]))
        assert v <= max(0.0, round(pmi, 6)) + 1e-9
        if pmi < math.log(5):
            assert v == 0.0


def test_vocab_coverage_python_recompute(spark):
    from stockify_spark.queries.text import tokenizer_vocab_coverage

    tok_by_lang = defaultdict(Counter)
    glob: Counter = Counter()
    for r in _docs(spark):
        for w in re.split(r"[^a-z0-9]+", r.text.lower()):
            if w:
                tok_by_lang[r.lang][w] += 1
                glob[w] += 1
    vocab = {
        w for w, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    }
    rows = {r.lang: r for r in tokenizer_vocab_coverage(spark, SF_SMOKE).collect()}
    assert set(rows) == set(tok_by_lang)
    for lang, cnt in tok_by_lang.items():
        n_tok = sum(cnt.values())
        cov = sum(n for w, n in cnt.items() if w in vocab) / n_tok
        oov = sum(1 for w in cnt if w not in vocab) / len(cnt)
        r = rows[lang]
        assert r.n_tokens == n_tok and r.n_types == len(cnt)
        assert abs(r.occ_coverage - cov) < 1e-6
        assert abs(r.oov_type_share - oov) < 1e-6
        # coverage audit invariant: occurrence coverage always beats
        # type coverage when the vocab is the frequency head
        assert r.occ_coverage >= 1 - r.oov_type_share - 1e-9


def test_mahalanobis_matches_numpy(spark):
    import numpy as np

    from stockify_spark.queries.pipeline import dq_mahalanobis_outliers

    feats, ids = [], []
    for r in _docs(spark):
        x2 = len(r.text.split(" "))
        feats.append([float(r.n_chars), float(x2), r.n_chars / x2])
        ids.append(r.doc_id)
    x = np.array(feats)
    mu = x.mean(axis=0)
    cov = np.cov(x.T, bias=True)
    inv = np.linalg.inv(cov)
    d = x - mu
    md2 = np.einsum("ij,jk,ik->i", d, inv, d)
    want = sorted(zip(ids, md2), key=lambda kv: (-round(kv[1], 6), kv[0]))[:50]
    got = dq_mahalanobis_outliers(spark, SF_SMOKE).collect()
    assert [r.doc_id for r in got] == [i for i, _ in want]
    for r, (_, m) in zip(got, want):
        assert abs(r.md2 - m) < 1e-4
    # md² of the whole corpus averages to the dimension (here 3) —
    # the Mahalanobis normalization identity
    assert abs(md2.mean() - 3.0) < 1e-9


def test_epoch_allocation_budget_and_discount(spark):
    from stockify_spark.queries.pipeline import pipeline_epoch_allocation

    rows = pipeline_epoch_allocation(spark, SF_SMOKE).collect()
    tokens = {}
    for r in _docs(spark):
        tokens[r.source] = tokens.get(r.source, 0) + len(r.text.split(" "))
    total = sum(tokens.values())
    wsum = sum(t**0.5 for t in tokens.values())
    assert {r.source for r in rows} == set(tokens)
    for r in rows:
        t = tokens[r.source]
        share = t**0.5 / wsum
        epochs = min(4.0, 2 * total * share / t)
        assert r.n_tokens == t
        assert abs(r.share - share) < 1e-6
        assert abs(r.epochs - epochs) < 1e-5
        # the discount never exceeds the allocation and never the
        # R*-asymptote
        assert r.effective_tokens <= r.allocated_tokens + 1e-6
        assert r.effective_tokens < 2.5 * t
        eff = t * 2.5 * (1 - math.exp(-epochs / 2.5))
        assert abs(r.effective_tokens - eff) < 0.1
    # temperature τ=0.5 flattens: small sources get MORE epochs
    by_tok = sorted(rows, key=lambda r: r.n_tokens)
    assert by_tok[0].epochs >= by_tok[-1].epochs
