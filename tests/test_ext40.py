"""Pins for Newton-logistic training (queries/ml.py)."""

from __future__ import annotations

import math

import numpy as np

from tests.conftest import SF_SMALL


def _newton_steps(x, y, iters=3):
    """Independent reimplementation with the operator's float
    policy: 6dp-rounded sufficient statistics and coefficients."""
    b0 = b1 = 0.0
    out = []
    for k in range(iters + 1):
        p = 1 / (1 + np.exp(-(b0 + b1 * x)))
        g0 = round(float(np.sum(y - p)), 6)
        g1 = round(float(np.sum(x * (y - p))), 6)
        h00 = round(float(np.sum(p * (1 - p))), 6)
        h01 = round(float(np.sum(x * p * (1 - p))), 6)
        h11 = round(float(np.sum(x * x * p * (1 - p))), 6)
        ll = round(float(np.sum(y * np.log(p) + (1 - y) * np.log(1 - p))), 6)
        if k >= 1:
            out.append((k, b0, b1, ll))
        det = h00 * h11 - h01 * h01
        b0 = round(b0 + (h11 * g0 - h01 * g1) / det, 6)
        b1 = round(b1 + (h00 * g1 - h01 * g0) / det, 6)
    return out


def test_newton_steps_match_numpy_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_logreg_newton

    rows = sorted(
        ml_logreg_newton(spark, SF_SMALL).collect(), key=lambda r: r.iter
    )
    o = (
        _t(spark, SF_SMALL, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    )
    x = np.array([r.o_totalprice / 100000 for r in o])
    y = np.array(
        [1.0 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0.0 for r in o]
    )
    expect = _newton_steps(x, y)
    assert len(rows) == 3
    for r, (k, b0, b1, ll) in zip(rows, expect):
        assert r.iter == k
        # numpy sums in a different order than Spark's partial
        # aggregates; the 6dp rounding is what makes them equal up
        # to at most one quantum of residual disagreement
        assert abs(r.b0 - b0) <= 2e-6
        assert abs(r.b1 - b1) <= 2e-6
        assert abs(r.ll - ll) <= 2e-6


def test_newton_converges_to_base_rate(spark):
    """Labels are independent of price in the synthetic data, so the
    MLE is (logit(urgent share), ~0) — and Newton must ascend the
    log likelihood every step."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_logreg_newton

    rows = sorted(
        ml_logreg_newton(spark, SF_SMALL).collect(), key=lambda r: r.iter
    )
    lls = [r.ll for r in rows]
    assert lls == sorted(lls)
    o = _t(spark, SF_SMALL, "orders").select("o_orderpriority").collect()
    share = sum(
        1 for r in o if r.o_orderpriority in ("1-URGENT", "2-HIGH")
    ) / len(o)
    logit = math.log(share / (1 - share))
    final = rows[-1]
    assert abs(final.b0 + final.b1 * 1.5 - logit) < 0.2  # near base rate
    assert abs(final.b1) < 0.5
