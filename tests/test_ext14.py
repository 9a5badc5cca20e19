"""Pins for the sequential-recursion wave (queries: stocks, windows)."""

from __future__ import annotations

import math

from tests.conftest import SF_SMALL


def _ramp_close(row_id: int) -> float:
    return 500.0 + (row_id % 18) * 10.0


def test_ema_exact_matches_independent_recursion(spark):
    """Recompute the recursion in plain Python from the ramp formula
    and demand exact equality after the same 6dp rounding — this is
    a THIRD independent face (the oracle CTE being the second)."""
    from stockify_spark.queries.windows import window_ema_exact

    rows = window_ema_exact(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    assert len(rows) == 1800
    for sym in (0, 3, 9):
        series = [r for r in rows if r.symbol == sym]
        assert [r.pos for r in series] == list(range(180))
        ema = _ramp_close(sym * 180)
        assert series[0].ema == round(ema, 6)
        for t in range(1, 180):
            ema = 0.2 * _ramp_close(sym * 180 + t) + 0.8 * ema
            assert series[t].ema == round(ema, 6), (sym, t)


def test_ema_exact_beats_truncation(spark):
    """The exact recursion retains mass the truncated lag expansion
    drops: at alpha=0.2 the 8-term tail weight is 0.8^8 ~ 0.168, so
    mid-series EMA must differ from the 8-term truncated sum —
    pinning that this query is NOT the window_ewma approximation."""
    from stockify_spark.queries.windows import window_ema_exact

    rows = window_ema_exact(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    r = next(x for x in rows if x.symbol == 0 and x.pos == 100)
    # truncated 8-term EWMA at the same point
    trunc = sum(
        0.2 * (0.8**j) * _ramp_close(100 - j) for j in range(8)
    )
    assert abs(r.ema - trunc) > 1.0  # truncation error is material


def test_macd_state_chain(spark):
    """histogram == macd - signal after rounding; signal is a
    smoothed (lower-variance) version of macd; pos 0 row is the
    zero seed."""
    from stockify_spark.queries.stocks import stocks_macd

    rows = stocks_macd(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    assert len(rows) == 1800
    s0 = [r for r in rows if r.symbol == 0]
    assert s0[0].macd == 0.0 and s0[0].signal_line == 0.0
    for r in s0:
        assert math.isclose(
            r.histogram, round(r.macd - r.signal_line, 6), abs_tol=2e-6
        )
    tail = s0[30:]
    var_m = _var([r.macd for r in tail])
    var_s = _var([r.signal_line for r in tail])
    assert var_s < var_m  # smoothing reduces variance


def _var(xs):
    m = sum(xs) / len(xs)
    return sum((x - m) ** 2 for x in xs) / len(xs)
