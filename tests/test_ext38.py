"""Pins for the Benjamini-Hochberg FDR screen (queries/stats.py)."""

from __future__ import annotations

from statistics import NormalDist

from tests.conftest import SF_SMALL


def test_bh_matches_true_pvalue_procedure(spark):
    """The fence-ladder formulation must agree with the textbook
    procedure run on actual two-sided p-values: reject ranks 1..k*,
    k* = max{i : p_(i) <= q*i/m}."""
    from stockify_spark.queries.stats import stats_fdr_bh

    rows = sorted(stats_fdr_bh(spark, SF_SMALL).collect(), key=lambda r: r.rnk)
    m, q = len(rows), 0.10
    assert m == 25
    nd = NormalDist()
    pvals = [2 * (1 - nd.cdf(abs(r.zscore))) for r in rows]
    # ranked by |z| desc == p ascending
    assert pvals == sorted(pvals)
    kstar = max(
        (i + 1 for i in range(m) if pvals[i] <= q * (i + 1) / m), default=0
    )
    for i, r in enumerate(rows):
        assert r.rejected == (i + 1 <= kstar)


def test_bh_step_up_rejects_below_deepest_crossing(spark):
    """Step-up semantics: every rank at or above the deepest fence
    crossing is rejected even if it missed its OWN fence — the
    property that distinguishes BH from per-test thresholding."""
    from stockify_spark.queries.stats import stats_fdr_bh

    rows = sorted(stats_fdr_bh(spark, SF_SMALL).collect(), key=lambda r: r.rnk)
    crossing = [r.rnk for r in rows if abs(r.zscore) >= r.thr]
    kstar = max(crossing, default=0)
    rejected = {r.rnk for r in rows if r.rejected}
    assert rejected == set(range(1, kstar + 1))
    # fences are a strictly decreasing ladder
    thrs = [r.thr for r in rows]
    assert all(a > b for a, b in zip(thrs, thrs[1:]))
