"""Pins for the Ljung-Box portmanteau test (queries/windows.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL

_CHI2_3_95 = 7.814728


def _q(x, h=3):
    n = len(x)
    rhos = []
    for k in range(1, h + 1):
        a, b = x[k:], x[:-k]
        rho = round(float(np.corrcoef(a, b)[0, 1]), 6)
        rhos.append(rho)
    q = n * (n + 2.0) * sum(r * r / (n - k) for k, r in enumerate(rhos, 1))
    return rhos, q


def test_q_matches_numpy_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_ljung_box

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in window_ljung_box(spark, SF_SMALL).collect()}
    for t, vals in series.items():
        x = np.asarray(vals)
        rhos, q = _q(x)
        r = rows[t]
        assert r.n == len(vals)
        # engine corr pairs (value, lag) within the full window frame,
        # numpy uses the truncated overlap — agree to ACF tolerance
        for got, want in zip((r.rho1, r.rho2, r.rho3), rhos):
            assert abs(got - want) < 5e-3
        assert abs(r.q_stat - q) < 0.05 * max(abs(q), 1.0)
        assert r.reject_white_noise == (r.q_stat > _CHI2_3_95) or abs(
            r.q_stat - _CHI2_3_95
        ) < 1e-6


def test_white_noise_passes_and_ar1_rejects():
    rng = np.random.default_rng(17)
    white = rng.normal(size=4000)
    _, q_white = _q(white)
    assert q_white < _CHI2_3_95  # white noise stays under the fence
    ar = np.zeros(4000)
    for t in range(1, 4000):
        ar[t] = 0.5 * ar[t - 1] + rng.normal()
    _, q_ar = _q(ar)
    assert q_ar > 100 * _CHI2_3_95  # autocorrelation is unmissable
    # Q grows monotonically with the autocorrelation strength
    qs = []
    for b in (0.1, 0.3, 0.5):
        y = np.zeros(4000)
        for t in range(1, 4000):
            y[t] = b * y[t - 1] + rng.normal()
        qs.append(_q(y)[1])
    assert qs == sorted(qs)
