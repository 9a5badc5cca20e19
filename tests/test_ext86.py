"""Pins for Sharpe/Sortino risk ratios (queries/stocks.py)."""

from __future__ import annotations

import math

import numpy as np

from tests.conftest import SF_SMALL

_ANN = math.sqrt(252.0)


def test_ratios_match_numpy(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stocks import stocks_risk_ratios

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in stocks_risk_ratios(spark, SF_SMALL).collect()}
    for t, vals in series.items():
        v = np.asarray(vals)
        ret = v[1:] / v[:-1] - 1
        mean = ret.mean()
        vol = ret.std()  # population, matching s2/n - mean^2
        ddev = math.sqrt(float(np.sum(np.minimum(ret, 0) ** 2)) / len(ret))
        r = rows[t]
        assert r.n == len(ret)
        assert abs(r.mean_r - mean) < 1e-5
        assert abs(r.vol - vol) < 1e-5
        assert abs(r.downside_dev - ddev) < 1e-5
        assert abs(r.sharpe_ann - mean / vol * _ANN) < 2e-3
        assert abs(r.sortino_ann - mean / ddev * _ANN) < 2e-3


def test_sortino_penalizes_only_downside():
    def ratios(ret):
        ret = np.asarray(ret)
        mean, vol = ret.mean(), ret.std()
        ddev = math.sqrt(float(np.sum(np.minimum(ret, 0) ** 2)) / len(ret))
        return mean / vol, mean / ddev

    # positive skew: big gains, small losses -> sortino > sharpe
    pos_skew = [0.10, -0.01, -0.01, -0.01, 0.12, -0.01, -0.01, -0.01]
    sh, so = ratios(pos_skew)
    assert so > sh > 0
    # negative skew: small gains, rare crashes -> sortino < sharpe
    neg_skew = [0.01, 0.01, 0.01, -0.10, 0.01, 0.01, 0.01, -0.12]
    sh2, so2 = ratios(neg_skew)
    assert abs(so2) < abs(sh2) or so2 < sh2
    # symmetric returns: downside mass is half the raw second moment
    sym = [0.02, -0.02] * 50
    ret = np.asarray(sym)
    ddev2 = float(np.sum(np.minimum(ret, 0) ** 2)) / len(ret)
    assert abs(ddev2 - 0.5 * float(np.mean(ret**2))) < 1e-12
