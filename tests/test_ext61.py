"""Pins for split-conformal intervals (queries/stats.py)."""

from __future__ import annotations

import math

from tests.conftest import SF_SMALL

_ALPHA = 0.1


def _splits(spark):
    from stockify_spark.registry import _t

    rows = (
        _t(spark, SF_SMALL, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .collect()
    )
    train, calib, test = {}, [], []
    sums: dict = {}
    for r in rows:
        f = r.o_orderkey % 4
        if f in (0, 2):
            s, n = sums.get(r.o_orderpriority, (0.0, 0))
            sums[r.o_orderpriority] = (s + r.o_totalprice, n + 1)
    model = {p: round(s, 6) / n for p, (s, n) in sums.items()}
    for r in rows:
        f = r.o_orderkey % 4
        if f == 1:
            calib.append(abs(r.o_totalprice - model[r.o_orderpriority]))
        elif f == 3:
            test.append(r)
    return model, sorted(calib), test


def test_conformal_matches_rank_rule_and_guarantees_coverage(spark):
    from stockify_spark.queries.stats import stats_conformal_interval

    model, calib, test = _splits(spark)
    n = len(calib)
    qhat = calib[math.ceil((n + 1) * (1 - _ALPHA)) - 1]
    rows = {r.o_orderkey: r for r in stats_conformal_interval(spark, SF_SMALL).collect()}
    assert len(rows) == len(test)
    covered = 0
    for t in test:
        r = rows[t.o_orderkey]
        pred = model[t.o_orderpriority]
        assert abs(r.pred - round(pred, 6)) < 1e-6
        assert abs(r.lo - round(pred - qhat, 6)) < 1e-6
        assert abs(r.hi - round(pred + qhat, 6)) < 1e-6
        want_cov = pred - qhat <= t.o_totalprice <= pred + qhat
        assert r.covered == want_cov
        covered += r.covered
    # the finite-sample guarantee: coverage >= 1 - alpha minus a
    # small finite-n slack (exchangeable synthetic folds)
    assert covered / len(test) >= 1 - _ALPHA - 0.02
    # and the intervals are not vacuously wide: they exclude > 1% of
    # test points (a degenerate qhat = max residual would cover all)
    assert covered < len(test)


def test_rank_rule_is_the_conservative_order_statistic():
    """ceil((n+1)(1-alpha)) must round UP: with n=9, alpha=0.1 it
    picks rank 9 (not 8) — the conservatism that makes the
    finite-sample guarantee hold exactly rather than asymptotically."""
    assert math.ceil((9 + 1) * 0.9) == 9
    assert math.ceil((19 + 1) * 0.9) == 18
    assert math.ceil((20 + 1) * 0.9) == 19  # not 18: (n+1), not n
