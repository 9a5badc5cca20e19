"""Pins for systematic weighted resampling (queries/pipeline.py)."""

from __future__ import annotations

import math
from fractions import Fraction

from tests.conftest import SF_SMALL


def test_resample_matches_brute_force_probe_placement(spark):
    """Ground truth by literally placing the 200 probes with exact
    rational arithmetic and walking the cumulative intervals."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import _M, pipeline_systematic_resample

    docs = sorted(
        (r.doc_id, r.n_chars)
        for r in _t(spark, SF_SMALL, "documents")
        .select("doc_id", "n_chars")
        .collect()
    )
    tot = sum(w for _, w in docs)
    probes = [Fraction(2 * j + 1, 2) * Fraction(tot, _M) for j in range(_M)]
    mult: dict = {}
    cum = 0
    it = iter(probes)
    p = next(it, None)
    for doc_id, w in docs:
        cum += w
        while p is not None and p <= cum:
            mult[doc_id] = mult.get(doc_id, 0) + 1
            p = next(it, None)
    rows = {
        r.doc_id: r
        for r in pipeline_systematic_resample(spark, SF_SMALL).collect()
    }
    assert {d: r.multiplicity for d, r in rows.items()} == mult
    assert sum(r.multiplicity for r in rows.values()) == _M


def test_multiplicity_within_one_of_expectation(spark):
    """The low-variance property: every document's draw count is
    floor or ceil of its exact expectation m*w/W — systematic
    resampling's defining guarantee (independent draws only get
    this in expectation)."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import _M, pipeline_systematic_resample

    weights = {
        r.doc_id: r.n_chars
        for r in _t(spark, SF_SMALL, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    tot = sum(weights.values())
    got = {
        r.doc_id: r.multiplicity
        for r in pipeline_systematic_resample(spark, SF_SMALL).collect()
    }
    for doc_id, w in weights.items():
        exp = _M * w / tot
        m = got.get(doc_id, 0)
        assert math.floor(exp) <= m <= math.ceil(exp), (doc_id, exp, m)
