"""Pins for Holt-Winters seasonal smoothing (queries/windows.py)."""

from __future__ import annotations

import math

import numpy as np

from tests.conftest import SF_SMALL

from stockify_spark.queries.windows import _AL, _BE, _GA, _M


def _hw_ref(z):
    """Independent reimplementation over a raw series."""
    l = round(float(np.sum(z[:_M])) / _M, 6)
    b = round((float(np.sum(z[_M : 2 * _M])) - float(np.sum(z[:_M]))) / (_M * _M), 6)
    sl = [round(float(v) - l, 6) for v in z[:_M]]
    out = []
    for t in range(_M, len(z)):
        fitted = l + b + sl[0]
        lnew = _AL * (z[t] - sl[0]) + (1 - _AL) * (l + b)
        bnew = _BE * (lnew - l) + (1 - _BE) * b
        snew = _GA * (z[t] - lnew) + (1 - _GA) * sl[0]
        sl = sl[1:] + [snew]
        l, b = lnew, bnew
        out.append((fitted, l, b, snew))
    return out


def test_hw_matches_reference_on_real_series(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_holt_winters
    from pyspark.sql import functions as F

    rev = (
        _t(spark, SF_SMALL, "orders")
        .join(
            _t(spark, SF_SMALL, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            _t(spark, SF_SMALL, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, SF_SMALL, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("z"))
        .collect()
    )
    series: dict = {}
    for r in sorted(rev, key=lambda r: r.ym):
        series.setdefault(r.region, []).append(r.z)
    got: dict = {}
    for r in window_holt_winters(spark, SF_SMALL).collect():
        got.setdefault(r.region, []).append(r)
    for region, z in series.items():
        rows = sorted(got[region], key=lambda r: r.ym)
        want = _hw_ref(np.array(z))
        assert len(rows) == len(want)
        for r, (fitted, l, b, snew) in zip(rows, want):
            assert abs(r.fitted - fitted) < 1e-4
            assert abs(r.level - l) < 1e-4
            assert abs(r.trend - b) < 1e-4
            assert abs(r.season - snew) < 1e-4


def test_hw_recovers_a_pure_seasonal_and_beats_holt():
    """On trend+sinusoid data the seasonal state converges to the
    sinusoid and the fitted error beats seasonless Holt by a wide
    margin — the reason the third smoothing equation exists."""
    n = 8 * _M
    t = np.arange(n)
    z = 100.0 + 0.5 * t + 10.0 * np.sin(2 * math.pi * t / _M)
    out = _hw_ref(z)
    errs_hw = [abs(f - z[_M + i]) for i, (f, *_rest) in enumerate(out)]
    # seasonless Holt on the same series
    l, b = z[0], 0.0
    errs_h = []
    for i in range(1, n):
        errs_h.append(abs((l + b) - z[i]))
        lnew = _AL * z[i] + (1 - _AL) * (l + b)
        b = _BE * (lnew - l) + (1 - _BE) * b
        l = lnew
    tail_hw = float(np.mean(errs_hw[-2 * _M :]))
    tail_h = float(np.mean(errs_h[-2 * _M :]))
    assert tail_hw < tail_h / 3
    # seasonal state tracks the sinusoid's swing
    last_season = [s for (_f, _l, _b, s) in out[-_M:]]
    assert max(last_season) > 7 and min(last_season) < -7
