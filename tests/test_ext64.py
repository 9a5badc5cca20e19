"""Pins for the lag-1 Granger test (queries/stats.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _series(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t

    rows = (
        _t(spark, SF_SMALL, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
        )
        .agg(
            (F.count(F.lit(1)).cast("double") / 100).alias("x"),
            (F.round(F.sum("o_totalprice"), 2) / 1000000).alias("y"),
        )
        .collect()
    )
    rows.sort(key=lambda r: r.ym)
    return np.array([r.x for r in rows]), np.array([r.y for r in rows])


def test_granger_matches_numpy_lstsq(spark):
    from stockify_spark.queries.stats import stats_granger

    x, y = _series(spark)
    yt, y1, x1 = y[1:], y[:-1], x[:-1]
    n = len(yt)
    # restricted: y ~ 1 + y1
    Xr = np.column_stack([np.ones(n), y1])
    br, rss_r = np.linalg.lstsq(Xr, yt, rcond=None)[0], None
    rss_r = float(np.sum((yt - Xr @ br) ** 2))
    # full: y ~ 1 + y1 + x1
    Xf = np.column_stack([np.ones(n), y1, x1])
    bf = np.linalg.lstsq(Xf, yt, rcond=None)[0]
    rss_f = float(np.sum((yt - Xf @ bf) ** 2))
    fstat = (rss_r - rss_f) * (n - 3) / rss_f
    r = stats_granger(spark, SF_SMALL).collect()[0]
    assert r.n == n
    assert abs(r.beta_restricted - br[1]) < 1e-4
    assert abs(r.beta_y_lag - bf[1]) < 1e-4
    assert abs(r.beta_x_lag - bf[2]) < 1e-4
    assert abs(r.rss_restricted - rss_r) < 1e-3 * max(rss_r, 1)
    assert abs(r.rss_full - rss_f) < 1e-3 * max(rss_f, 1)
    assert abs(r.f_stat - fstat) < 1e-3 * max(abs(fstat), 1)
    # structural identities of the algebra
    assert r.rss_full <= r.rss_restricted + 1e-9
    assert r.f_stat >= 0


def test_granger_detects_a_constructed_lead():
    """On synthetic series where x strictly leads y, the F statistic
    must be decisive; permuting x away destroys it."""
    rng = np.random.default_rng(3)
    n = 200
    x = rng.normal(size=n)
    y = np.zeros(n)
    for t in range(1, n):
        y[t] = 0.4 * y[t - 1] + 0.8 * x[t - 1] + 0.1 * rng.normal()

    def fstat(xs):
        yt, y1, x1 = y[1:], y[:-1], xs[:-1]
        m = len(yt)
        Xr = np.column_stack([np.ones(m), y1])
        Xf = np.column_stack([np.ones(m), y1, x1])
        rr = float(np.sum((yt - Xr @ np.linalg.lstsq(Xr, yt, rcond=None)[0]) ** 2))
        rf = float(np.sum((yt - Xf @ np.linalg.lstsq(Xf, yt, rcond=None)[0]) ** 2))
        return (rr - rf) * (m - 3) / rf

    assert fstat(x) > 100  # the true lead is unmissable
    assert fstat(rng.permutation(x)) < 10  # broken lead, no signal
