"""Pins for the nearest-direction asof join (queries/joins.py)."""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMALL

_TOL_S = 600


def test_nearest_matches_brute_force_scan(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.joins import join_asof_nearest

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_id", "user_id", "event_type", "ts")
        .collect()
    )
    clicks: dict = defaultdict(dict)  # user -> ts -> max event_id
    purchases = []
    for r in ev:
        if r.event_type == "click":
            prev = clicks[r.user_id].get(r.ts)
            clicks[r.user_id][r.ts] = max(prev or 0, r.event_id)
        elif r.event_type == "purchase":
            purchases.append(r)
    def _ms(dt):
        import calendar

        return calendar.timegm(dt.timetuple()) * 1000 + dt.microsecond // 1000

    want = {}
    for p in purchases:
        best = None
        for cts, cid in clicks.get(p.user_id, {}).items():
            # engine gaps are unix_millis-based: microseconds truncate
            gap = abs(_ms(p.ts) - _ms(cts)) / 1000.0
            if gap > _TOL_S:
                continue
            # nearest; ties -> the earlier (backward) click
            key = (gap, 0 if cts <= p.ts else 1, cts)
            if best is None or key < best[0]:
                best = (key, cid, gap, "backward" if cts <= p.ts else "forward")
        if best is not None:
            want[p.event_id] = (best[1], round(best[2], 3), best[3])
    rows = {
        r.event_id: (r.click_id, round(r.gap_s, 3), r.direction)
        for r in join_asof_nearest(spark, SF_SMALL).collect()
    }
    assert rows == want
    assert rows  # tolerance window is not vacuous on this data
    # both directions genuinely occur — NEAREST is not backward-only
    dirs = {d for (_, _, d) in rows.values()}
    assert dirs == {"backward", "forward"}


def test_tie_goes_backward():
    """Equidistant clicks: the earlier one wins by contract."""
    from datetime import datetime, timedelta

    p = datetime(2024, 1, 1, 12, 0, 0)
    before = p - timedelta(seconds=30)
    after = p + timedelta(seconds=30)
    # replicate the operator's argmin key
    key_b = (30.0, 0, before)
    key_f = (30.0, 1, after)
    assert key_b < key_f
