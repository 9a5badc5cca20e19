"""Pins for the round-13 model-loop wave (queries: ml, orders, stats)."""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE


def test_gbt_rounds_monotonically_reduce_sse(spark):
    from stockify_spark.queries.ml import ml_gbt_two_stumps

    r = ml_gbt_two_stumps(spark, SF_SMOKE).collect()[0]
    # every boosting round must strictly reduce training SSE
    assert 0 < r.sse_ratio_1 < 1
    assert 0 < r.sse_ratio_2 < 1
    # the two sides genuinely differ (a degenerate split would tie)
    assert r.mean_l1 != r.mean_r1
    # stage 2 fits residuals, whose two side-means straddle zero
    assert r.mean_l2 < 0 < r.mean_r2 or r.mean_r2 < 0 < r.mean_l2


def test_gbt_stage1_matches_exhaustive_python(spark):
    """Recompute stage 1 by brute force over ALL distinct-quantity
    thresholds: the decile-fence winner can't beat the exhaustive
    optimum, and the SSE at the chosen threshold must match."""
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_gbt_two_stumps

    rows = (
        _t(spark, SF_SMOKE, "lineitem")
        .select(
            F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
        )
        .collect()
    )
    xs = sorted({r.x for r in rows})
    got = ml_gbt_two_stumps(spark, SF_SMOKE).collect()[0]

    def split_sse(thr):
        left = [r.y for r in rows if r.x <= thr]
        right = [r.y for r in rows if r.x > thr]
        if not left or not right:
            return None
        s = sum(v * v for v in left) - sum(left) ** 2 / len(left)
        s += sum(v * v for v in right) - sum(right) ** 2 / len(right)
        return s

    at_thr = split_sse(got.thr1)
    left = [r.y for r in rows if r.x <= got.thr1]
    right = [r.y for r in rows if r.x > got.thr1]
    assert abs(got.mean_l1 - sum(left) / len(left)) < 1e-4
    assert abs(got.mean_r1 - sum(right) / len(right)) < 1e-4
    tot = sum(v * v for r in rows for v in [r.y]) - sum(
        r.y for r in rows
    ) ** 2 / len(rows)
    assert abs(got.sse_ratio_1 - at_thr / tot) < 1e-5
    best_any = min(s for s in (split_sse(t) for t in xs[:-1]) if s is not None)
    assert at_thr >= best_any - 1e-6  # fences can't beat exhaustive


def test_moments_merge_identity_holds(spark):
    from stockify_spark.queries.stats import stats_moments_merge

    rows = stats_moments_merge(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.merge_exact
        assert abs(r.var_direct - r.var_merged) < 2e-6


def test_calibration_ece_python_recompute(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_calibration_ece

    o = _t(spark, SF_SMOKE, "orders").select("o_totalprice", "o_orderstatus").collect()
    vals = [r.o_totalprice for r in o]
    mu = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / len(vals))
    buckets = defaultdict(lambda: [0, 0.0, 0.0])
    for r in o:
        prob = 1 / (1 + math.exp(-round((r.o_totalprice - mu) / sd, 6)))
        b = min(9, int(prob * 10))
        cell = buckets[b]
        cell[0] += 1
        cell[1] += prob
        cell[2] += 1.0 if r.o_orderstatus == "F" else 0.0
    n_tot = sum(c[0] for c in buckets.values())
    ece = (
        sum(abs(c[2] / c[0] - c[1] / c[0]) * c[0] for c in buckets.values()) / n_tot
    )
    got = {r.bucket: r for r in ml_calibration_ece(spark, SF_SMOKE).collect()}
    assert set(got) == set(buckets)
    for b, (n, psum, ysum) in buckets.items():
        assert got[b].n == n
        assert abs(got[b].conf - psum / n) < 1e-5
        assert abs(got[b].acc - ysum / n) < 1e-6
        assert abs(got[b].ece - ece) < 1e-5
    # ECE is a weighted mean of gaps: bounded by the largest gap
    assert all(r.ece <= max(x.gap for x in got.values()) + 1e-9 for r in got.values())


def test_npv_discount_is_correct_and_orders_rank(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.orders import orders_customer_npv

    o = _t(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    ).collect()
    d0 = min(r.o_orderdate for r in o).date()
    npv = defaultdict(float)
    cnt = defaultdict(int)
    for r in o:
        days = (r.o_orderdate.date() - d0).days
        npv[r.o_custkey] += r.o_totalprice / (1.1 ** (days / 365.0))
        cnt[r.o_custkey] += 1
    want = sorted(
        ((k, cnt[k], round(v, 2)) for k, v in npv.items()),
        key=lambda t: (-t[2], t[0]),
    )[:50]
    got = [(r.o_custkey, r.n_orders, r.npv) for r in orders_customer_npv(spark, SF_SMOKE).collect()]
    assert sorted(got, key=lambda t: (-t[2], t[0])) == want
    # discounting strictly shrinks value vs the raw sum
    raw = defaultdict(float)
    for r in o:
        raw[r.o_custkey] += r.o_totalprice
    for k, _, v in want:
        assert v <= raw[k] + 1e-9
