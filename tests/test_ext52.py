"""Pins for LTTB downsampling (queries/windows.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL

from stockify_spark.queries.windows import _BK, _LTTB_N as _N, _NB


def _lttb_ref(y):
    """Independent reimplementation used as ground truth."""
    out = [(1, y[0])]
    px, py = 1.0, y[0]
    for b in range(1, _NB + 1):
        lo = 2 + (b - 1) * _BK
        if b < _NB:
            nlo = lo + _BK
            cx = float(np.mean(np.arange(nlo, nlo + _BK)))
            cy = round(float(np.sum(y[nlo - 1 : nlo - 1 + _BK])), 6) / _BK
        else:
            cx, cy = float(_N), y[_N - 1]
        best, pick = -1.0, None
        for x in range(lo, lo + _BK):
            area = abs((px - cx) * (y[x - 1] - py) - (px - x) * (cy - py))
            if area > best:
                best, pick = area, x
        out.append((pick, y[pick - 1]))
        px, py = float(pick), y[pick - 1]
    out.append((_N, y[_N - 1]))
    return out


def test_lttb_matches_reference_and_keeps_endpoints(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_lttb

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: r.event_id):
        series.setdefault(r.event_type, []).append(r.value)
    got: dict = {}
    for r in window_lttb(spark, SF_SMALL).collect():
        got.setdefault(r.event_type, []).append((r.pos, r.value))
    for t, vals in series.items():
        if len(vals) < _N:
            assert t not in got
            continue
        want = _lttb_ref(np.array(vals))
        assert sorted(got[t]) == sorted(want)
        poss = sorted(p for p, _ in got[t])
        assert poss[0] == 1 and poss[-1] == _N and len(poss) == _NB + 2
        # exactly one pick per interior bucket
        for b in range(1, _NB + 1):
            lo = 2 + (b - 1) * _BK
            assert sum(1 for p in poss if lo <= p < lo + _BK) == 1


def test_lttb_keeps_the_spike():
    """Shape preservation: a lone spike in an otherwise flat series
    must be selected (its triangle dwarfs every flat candidate) —
    the property that makes LTTB a VISUAL downsampler rather than a
    decimator (plain every-10th sampling misses it)."""
    y = np.zeros(_N)
    spike_pos = 137  # interior, not on a bucket edge
    y[spike_pos - 1] = 50.0
    picks = {p for p, _ in _lttb_ref(y)}
    assert spike_pos in picks
    assert spike_pos % _BK != 0  # a stride-10 decimator would skip it
