"""Pins for changepoint localization (queries/windows.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _best_split(vals):
    """Explicit two-segment SSE scan — the O(n^2)-looking definition
    the prefix form must equal."""
    v = np.asarray(vals, dtype=float)
    n = len(v)
    total_sse = float(np.sum((v - v.mean()) ** 2))
    best = None
    for t in range(1, n):
        l, r = v[:t], v[t:]
        sse = float(np.sum((l - l.mean()) ** 2) + np.sum((r - r.mean()) ** 2))
        gain = total_sse - sse
        if best is None or gain > best[1] + 1e-12:
            best = (t, gain)
    return best


def test_changepoint_matches_explicit_sse_scan(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_changepoint

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in window_changepoint(spark, SF_SMALL).collect()}
    assert set(rows) == set(series)
    for t, vals in series.items():
        r = rows[t]
        bt, bg = _best_split(vals)
        assert r.n == len(vals)
        # rounded-gain argmax can differ from the float argmax only
        # within a rounding quantum of the peak
        assert abs(r.gain - round(bg, 6)) < 2e-6
        got_gain = _best_gain_at(vals, r.t_star)
        assert abs(got_gain - bg) < 2e-6
        v = np.asarray(vals)
        assert abs(r.mean_left - round(float(v[: r.t_star].mean()), 6)) < 1e-6
        assert abs(r.mean_right - round(float(v[r.t_star :].mean()), 6)) < 1e-6


def _best_gain_at(vals, t):
    v = np.asarray(vals, dtype=float)
    total = float(np.sum((v - v.mean()) ** 2))
    l, r = v[:t], v[t:]
    return total - float(
        np.sum((l - l.mean()) ** 2) + np.sum((r - r.mean()) ** 2)
    )


def test_changepoint_localizes_a_constructed_step():
    """A clean level shift must be found exactly, with the gain
    matching the closed form n_l*n_r/n*(mu_l-mu_r)^2."""
    vals = [10.0] * 60 + [14.0] * 40
    t, gain = _best_split(vals)
    assert t == 60
    want = 60 * 40 / 100 * (10.0 - 14.0) ** 2
    assert abs(gain - want) < 1e-9
    # and the prefix-sum form used by the engines agrees
    s = np.cumsum(vals)
    n, sn = len(vals), s[-1]
    pf = [
        s[k - 1] ** 2 / k + (sn - s[k - 1]) ** 2 / (n - k) - sn**2 / n
        for k in range(1, n)
    ]
    assert int(np.argmax(pf)) + 1 == 60
    assert abs(max(pf) - want) < 1e-9
