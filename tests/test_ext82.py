"""Pins for Cohen's kappa (queries/stats.py)."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_SMALL


def _kappa(pairs):
    n = len(pairs)
    po = sum(1 for t, p in pairs if t == p) / n
    rm: Counter = Counter(t for t, _ in pairs)
    cm: Counter = Counter(p for _, p in pairs)
    pe = sum(rm[l] * cm.get(l, 0) for l in rm) / (n * n)
    # labels predicted but never true add no diagonal chance mass,
    # matching the full-outer marginal join (their rk is 0)
    return po, pe, (po - pe) / (1 - pe)


def test_kappa_matches_reimplementation_and_exposes_chance(spark):
    from stockify_spark.functions.text import lang_id
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_cohens_kappa

    from pyspark.sql import functions as F

    pairs = [
        (r.t, r.p)
        for r in _t(spark, SF_SMALL, "documents")
        .select(F.col("lang").alias("t"), lang_id("text").alias("p"))
        .collect()
    ]
    po, pe, kappa = _kappa(pairs)
    r = stats_cohens_kappa(spark, SF_SMALL).collect()[0]
    assert r.n == len(pairs)
    assert abs(r.po - round(po, 6)) < 1e-9
    assert abs(r.pe - round(pe, 6)) < 1e-6
    assert abs(r.kappa - round(kappa, 6)) < 1e-4
    # the corpus truth: most agreement is marginal luck (the
    # classifier mostly predicts 'en' and most labels are 'en')
    assert r.kappa < r.po - 0.1
    assert -1 <= r.kappa <= 1


def test_kappa_algebra():
    perfect = [("a", "a")] * 30 + [("b", "b")] * 20
    po, pe, k = _kappa(perfect)
    assert po == 1.0 and abs(k - 1.0) < 1e-12
    # a constant predictor on a 70/30 split: po equals the majority
    # share, pe equals it too -> kappa exactly 0
    const = [("a", "a")] * 70 + [("b", "a")] * 30
    po, pe, k = _kappa(const)
    assert abs(po - 0.7) < 1e-12 and abs(pe - 0.7) < 1e-12
    assert abs(k) < 1e-12
    # systematic disagreement goes negative
    anti = [("a", "b")] * 50 + [("b", "a")] * 50
    _, _, k = _kappa(anti)
    assert k < 0
