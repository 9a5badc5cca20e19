"""Pins for the round-13 directional/centrality wave (queries: graph, stats, windows)."""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE

_TWO_PI = 2 * math.pi


def test_circular_stats_match_python_and_handle_wraparound(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.windows import window_circular_stats

    rows = (
        _t(spark, SF_SMOKE, "events")
        .select("event_type", F.unix_millis("ts").alias("ms"))
        .collect()
    )
    acc = defaultdict(lambda: [0, 0.0, 0.0])
    for r in rows:
        th = _TWO_PI * ((r.ms % 86400000) / 86400000.0)
        a = acc[r.event_type]
        a[0] += 1
        a[1] += math.cos(th)
        a[2] += math.sin(th)
    got = {r.event_type: r for r in window_circular_stats(spark, SF_SMOKE).collect()}
    for t, (n, c, s) in acc.items():
        rbar = math.sqrt(c * c + s * s) / n
        hour = ((math.atan2(s, c) + _TWO_PI) % _TWO_PI) * 24 / _TWO_PI
        assert got[t].n == n
        assert abs(got[t].r_bar - rbar) < 1e-5
        assert abs(got[t].mean_hour - hour) < 1e-4
        assert abs(got[t].circ_var - (1 - rbar)) < 1e-5
        assert 0 <= got[t].r_bar <= 1 and 0 <= got[t].mean_hour < 24
    # the wraparound pin: two angles straddling midnight average to
    # midnight, not noon (the arithmetic-mean failure mode)
    c = math.cos(_TWO_PI * 23 / 24) + math.cos(_TWO_PI * 1 / 24)
    s = math.sin(_TWO_PI * 23 / 24) + math.sin(_TWO_PI * 1 / 24)
    assert ((math.atan2(s, c) + _TWO_PI) % _TWO_PI) * 24 / _TWO_PI < 1e-9


def test_vif_matches_numpy_inverse(spark):
    import numpy as np

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_vif

    feats = []
    for r in _t(spark, SF_SMOKE, "documents").select("text", "n_chars").collect():
        x2 = len(r.text.split(" "))
        feats.append([float(r.n_chars), float(x2), r.n_chars / x2])
    x = np.array(feats)
    corr = np.corrcoef(x.T)
    inv = np.linalg.inv(corr)
    got = stats_vif(spark, SF_SMOKE).collect()[0]
    for i, col in enumerate(["vif_x1", "vif_x2", "vif_x3"]):
        assert abs(got[col] - inv[i, i]) < 1e-4
        assert got[col] >= 1 - 1e-9  # VIF is never below 1


def test_katz_matches_python_power_iterations(spark):
    from stockify_spark.queries.graph import _kcore_sym_edges
    from stockify_spark.queries.graph import graph_katz_centrality

    sym = _kcore_sym_edges(spark, SF_SMOKE)
    nbrs = defaultdict(list)
    for r in sym.collect():
        nbrs[r.a].append(r.b)
    x = {n: 1.0 for n in nbrs}
    for _ in range(3):
        x = {n: 1 + 0.05 * sum(x[m] for m in ms) for n, ms in nbrs.items()}
    got = {r.node: r.katz for r in graph_katz_centrality(spark, SF_SMOKE).collect()}
    assert set(got) == set(x)
    for n, v in x.items():
        assert abs(got[n] - v) < 1e-5
    # attenuated walks: every score exceeds the β floor and scales
    # with degree at round 1's dominance
    assert all(v > 1 for v in got.values())


def test_seasonal_strength_consistent_with_decomposition(spark):
    from stockify_spark.queries.windows import window_seasonal
    from stockify_spark.queries.stats import stats_seasonal_strength

    dec = window_seasonal(spark, SF_SMOKE).collect()
    rev = [r.rev for r in dec]
    seas = [r.seasonal for r in dec]
    trend = [r.trend for r in dec]
    # recompute UNROUNDED residuals the strength query aggregates
    resid = [r - t - s for r, t, s in zip(rev, trend, seas)]

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / len(xs)

    f_t = max(0.0, 1 - var(resid) / var([r - s for r, s in zip(rev, seas)]))
    f_s = max(0.0, 1 - var(resid) / var([r - t for r, t in zip(rev, trend)]))
    got = stats_seasonal_strength(spark, SF_SMOKE).collect()[0]
    assert got.n_days == len(dec)
    # window_seasonal ROUNDS its emitted components at 6dp, so the
    # recomputation agrees to ~1e-4, not exactly
    assert abs(got.f_trend - f_t) < 1e-3
    assert abs(got.f_seasonal - f_s) < 1e-3
    assert 0 <= got.f_trend <= 1 and 0 <= got.f_seasonal <= 1
