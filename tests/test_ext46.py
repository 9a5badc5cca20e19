"""Pins for the Poisson bootstrap CI (queries/stats.py)."""

from __future__ import annotations

import hashlib
import math

from tests.conftest import SF_SMALL

from stockify_spark.queries.stats import _B, _HI_RANK, _LO_RANK, _POIS_CDF


def _weight(b: int, k: int) -> int:
    u = int(hashlib.md5(f"{b}|{k}".encode()).hexdigest()[:8], 16) / 4294967296.0
    for w, c in enumerate(_POIS_CDF):
        if u < c:
            return w
    return len(_POIS_CDF)


def test_ci_matches_independent_weight_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_bootstrap_ci

    rows = {
        r.priority: r for r in stats_bootstrap_ci(spark, SF_SMALL).collect()
    }
    data = (
        _t(spark, SF_SMALL, "orders")
        .select("o_orderpriority", "o_totalprice", "o_orderkey")
        .collect()
    )
    pri = sorted({r.o_orderpriority for r in data})[0]
    grp = [(r.o_orderkey, r.o_totalprice) for r in data if r.o_orderpriority == pri]
    means = []
    for b in range(1, _B + 1):
        num = den = 0.0
        for k, x in grp:
            w = _weight(b, k)
            num += w * x
            den += w
        if den > 0:
            means.append(round(num, 6) / den)
    means.sort()
    r = rows[pri]
    assert r.ci_lo == round(means[_LO_RANK - 1], 6)
    assert r.ci_hi == round(means[_HI_RANK - 1], 6)
    assert r.n == len(grp)
    # the 95% band must straddle the point estimate
    assert r.ci_lo <= r.point_mean <= r.ci_hi
    assert r.ci_lo < r.ci_hi


def test_weights_are_poisson_one(spark):
    """The ladder must actually produce Poisson(1): empirical pmf of
    the deterministic weights over a large (b, k) grid within 1% of
    e^-1/k!, and mean weight within 1% of 1 (resample size is
    conserved in expectation — the property that makes the
    replicate means unbiased)."""
    n = 40_000
    counts: dict = {}
    tot = 0
    for b in range(1, 5):
        for k in range(n // 4):
            w = _weight(b, k)
            counts[w] = counts.get(w, 0) + 1
            tot += w
    assert abs(tot / n - 1.0) < 0.01
    for w in range(4):
        want = math.exp(-1) / math.factorial(w)
        assert abs(counts.get(w, 0) / n - want) < 0.01
