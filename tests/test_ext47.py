"""Pins for CUPED variance reduction (queries/stats.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _user_table(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import _SPLIT

    split = F.lit(_SPLIT).cast("timestamp")
    ev = _t(spark, SF_SMALL, "events")
    rows = (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)), 6
            ).alias("x"),
            F.round(
                F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)),
                6,
            ).alias("y"),
        )
        .collect()
    )
    return (
        np.array([r.user_id for r in rows]),
        np.array([r.x for r in rows]),
        np.array([r.y for r in rows]),
    )


def test_cuped_shrinks_variance_by_squared_correlation(spark):
    from stockify_spark.queries.stats import stats_cuped

    uid, x, y = _user_table(spark)
    out = {r.arm: r for r in stats_cuped(spark, SF_SMALL).collect()}
    assert set(out) == {0, 1}
    # pooled theory: with pooled theta, pooled residual variance is
    # var(y)(1 - rho^2); per-arm it holds approximately — check the
    # pooled identity on an independent numpy recomputation
    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    yc = y - theta * (x - x.mean())
    rho2 = np.corrcoef(x, y)[0, 1] ** 2
    assert abs(np.var(yc) - np.var(y) * (1 - rho2)) < 1e-6 * np.var(y)
    # the operator's per-arm numbers must match numpy per arm
    for arm in (0, 1):
        sel = (uid % 2) == arm
        r = out[arm]
        assert r.n_users == int(sel.sum())
        assert abs(r.mean_y - y[sel].mean()) < 1e-5
        assert abs(r.mean_y_cuped - yc[sel].mean()) < 1e-5
        assert abs(r.var_y - np.var(y[sel])) < 1e-4
        assert abs(r.var_y_cuped - np.var(yc[sel])) < 1e-4
        # the point of CUPED: variance must actually drop
        assert r.var_y_cuped < r.var_y


def test_cuped_preserves_the_pooled_mean(spark):
    """E[y_cuped] == E[y] by construction (the adjustment is centered
    on xbar): the estimator shifts nothing, it only shrinks."""
    from stockify_spark.queries.stats import stats_cuped

    out = stats_cuped(spark, SF_SMALL).collect()
    n = sum(r.n_users for r in out)
    pooled_raw = sum(r.mean_y * r.n_users for r in out) / n
    pooled_adj = sum(r.mean_y_cuped * r.n_users for r in out) / n
    assert abs(pooled_raw - pooled_adj) < 1e-4
