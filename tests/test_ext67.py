"""Pins for AR(1) mean-reversion half-life (queries/windows.py)."""

from __future__ import annotations

import math

import numpy as np

from tests.conftest import SF_SMALL


def test_halflife_matches_numpy_ols(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_ar1_halflife

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in window_ar1_halflife(spark, SF_SMALL).collect()}
    for t, vals in series.items():
        v = np.asarray(vals[1:])
        v1 = np.asarray(vals[:-1])
        beta = float(np.cov(v1, v, bias=True)[0, 1] / np.var(v1))
        r = rows[t]
        assert r.n == len(v)
        assert abs(r.beta - beta) < 1e-4
        if 0 < beta < 1:
            assert abs(r.half_life - (-math.log(2) / math.log(beta))) < 1e-2
        else:
            assert r.half_life is None


def test_known_ar1_recovers_beta_and_halving_time():
    """Simulated AR(1) with b = 0.5: the estimator recovers b, the
    half-life reads 1 observation, and the mean absolute deviation
    really does halve after that many steps (measured on the
    noise-free impulse response)."""
    rng = np.random.default_rng(11)
    b = 0.5
    n = 20_000
    v = np.zeros(n)
    for t in range(1, n):
        v[t] = b * v[t - 1] + rng.normal()
    x, y = v[:-1], v[1:]
    bhat = float(np.cov(x, y, bias=True)[0, 1] / np.var(x))
    assert abs(bhat - b) < 0.02
    hl = -math.log(2) / math.log(bhat)
    assert abs(hl - 1.0) < 0.05
    # impulse response: deviation after hl steps is half the start
    dev = 1.0
    for _ in range(round(hl)):
        dev *= b
    assert abs(dev - 0.5) < 1e-12
