"""Pins for DTW distance (queries/windows.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _dtw_matrix(xs, tpl):
    """Independent full-matrix DP (different code path from the
    operator's two-row loop; same recurrence)."""
    n, m = len(xs), len(tpl)
    D = np.full((n, m), np.inf)
    for i in range(n):
        for j in range(m):
            c = abs(xs[i] - tpl[j])
            if i == 0 and j == 0:
                D[i, j] = c
            elif i == 0:
                D[i, j] = c + D[i, j - 1]
            elif j == 0:
                D[i, j] = c + D[i - 1, j]
            else:
                D[i, j] = c + min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1])
    return D[-1, -1]


def test_dtw_matches_full_matrix_dp(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import _DTW_N as _N, _TPL, window_dtw

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: r.event_id):
        series.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in window_dtw(spark, SF_SMALL).collect()}
    expect = {
        t: _dtw_matrix(np.array(v[:_N]), np.array(_TPL))
        for t, v in series.items()
        if len(v) >= _N
    }
    assert set(rows) == set(expect)
    for t, want in expect.items():
        assert abs(rows[t].dtw - round(want, 6)) < 1e-9
        assert rows[t].n_used == _N
        # the warping path must pay both endpoints
        xs, tpl = series[t][:_N], _TPL
        assert rows[t].dtw >= abs(xs[0] - tpl[0]) + abs(xs[-1] - tpl[-1]) - 1e-9


def test_dtw_identity_and_elasticity():
    from stockify_spark.queries.windows import _TPL

    tpl = np.array(_TPL)
    assert _dtw_matrix(tpl, tpl) == 0.0
    # time-stretching the template (each point doubled) stays at 0 —
    # the elasticity that separates DTW from pointwise L1
    stretched = np.repeat(tpl, 2)
    assert _dtw_matrix(stretched, tpl) == 0.0
    assert np.sum(np.abs(stretched[: len(tpl)] - tpl)) > 0
