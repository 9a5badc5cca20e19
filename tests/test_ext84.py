"""Pins for A/B power analysis (queries/stats.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL

_ZA, _ZB = 1.959964, 0.841621


def test_mde_matches_numpy_recomputation(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_power_mde

    users = (
        _t(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .collect()
    )
    arms = {0: [], 1: []}
    for r in users:
        arms[r.user_id % 2].append(r.y)
    a, b = np.asarray(arms[0]), np.asarray(arms[1])
    se = np.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
    mde = (_ZA + _ZB) * se
    r = stats_power_mde(spark, SF_SMALL).collect()[0]
    assert (r.n0, r.n1) == (len(a), len(b))
    assert abs(r.mean_a - round(float(a.mean()), 6)) < 1e-4
    assert abs(r.mean_b - round(float(b.mean()), 6)) < 1e-4
    assert abs(r.mde - mde) < 1e-3 * mde
    assert abs(
        r.mde_relative - mde / (0.5 * (a.mean() + b.mean()))
    ) < 1e-3 * r.mde_relative
    assert r.mde > 0


def test_one_mde_effect_is_detected_at_eighty_percent():
    """The definition of 80% power, verified by simulation: inject a
    shift of exactly one MDE and the alpha=.05 z-test must reject in
    ~80% of replicates (and in ~5% under the null)."""
    rng = np.random.default_rng(41)
    n, sigma = 400, 2.0
    se = sigma * np.sqrt(2 / n)
    mde = (_ZA + _ZB) * se
    reps = 3000
    hits_alt = hits_null = 0
    for _ in range(reps):
        a = rng.normal(0, sigma, n)
        b = rng.normal(mde, sigma, n)
        z = (b.mean() - a.mean()) / np.sqrt(
            a.var(ddof=1) / n + b.var(ddof=1) / n
        )
        hits_alt += abs(z) > _ZA
        c = rng.normal(0, sigma, n)
        z0 = (c.mean() - a.mean()) / np.sqrt(
            a.var(ddof=1) / n + c.var(ddof=1) / n
        )
        hits_null += abs(z0) > _ZA
    assert abs(hits_alt / reps - 0.80) < 0.03
    assert abs(hits_null / reps - 0.05) < 0.02
