"""Pins for two-state burst detection (queries/events.py)."""

from __future__ import annotations

import math

from tests.conftest import SF_SMALL

_TAU, _LN2 = 1.0, math.log(2.0)


def _filter_d(gaps, a0):
    """The scalar cost-difference recursion."""
    d, flags = 0.0, []
    for x in gaps:
        d = a0 * x - _LN2 + min(_TAU, d) - min(0.0, d)
        flags.append(d < 0)
    return flags


def _full_dp(gaps, a0):
    """The explicit two-row DP the difference recursion collapses:
    forward-filtered state = argmin of the two running costs."""
    a1 = 2 * a0
    c0 = c1 = 0.0
    # c1 starts tau above c0 only through transitions; equal start
    flags = []
    for x in gaps:
        n0 = (a0 * x - math.log(a0)) + min(c0, c1)
        n1 = (a1 * x - math.log(a1)) + min(c0 + _TAU, c1)
        c0, c1 = n0, n1
        flags.append(c1 < c0)
        m = min(c0, c1)  # renormalize so costs stay bounded
        c0 -= m
        c1 -= m
    return flags


def test_difference_recursion_equals_full_dp_and_matches_engine(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.events import events_burst_detect

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r.ts.timestamp())
    rows = {r.event_type: r for r in events_burst_detect(spark, SF_SMALL).collect()}
    for t, secs in series.items():
        gaps = [b - a for a, b in zip(secs, secs[1:])]
        a0 = round((len(secs) - 1) / (secs[-1] - secs[0]), 9)
        flags = _filter_d(gaps, a0)
        assert flags == _full_dp(gaps, a0)  # the collapse is exact
        r = rows[t]
        assert r.n_gaps == len(gaps)
        assert r.n_burst == sum(flags)
        assert abs(r.burst_frac - round(sum(flags) / len(gaps), 6)) < 1e-9


def test_detector_fires_inside_a_planted_burst_only():
    """Uniform stream at the base rate: (almost) no flags. Plant a
    10x-rate burst in the middle: the flags concentrate inside it."""
    base_gaps = [1.0] * 200
    burst = [0.1] * 50
    gaps = base_gaps[:100] + burst + base_gaps[100:]
    n = len(gaps)
    a0 = round(n / sum(gaps), 9)
    flags = _filter_d(gaps, a0)
    quiet = sum(flags[:100]) + sum(flags[150:])
    inside = sum(flags[100:150])
    assert inside >= 45  # fires promptly within the burst
    assert quiet <= 5  # and stays quiet elsewhere
