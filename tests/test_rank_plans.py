"""Round-14 verdict task 1: the three exact-rank statistics (plus
the legacy Spearman) must never feed a FULL TABLE through
``Exchange SinglePartition`` — every single-partition stage in their
executed plans has to sit above a HashAggregate (the distinct-value
groupBy), so the rows crossing it are bounded by value cardinality.

Also unit-pins the two ranks helpers (operators/ranks.py) against
Spark's own window implementations on synthetic data, including the
NTILE remainder arithmetic on non-divisible row counts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from stockify_spark.operators.ranks import distinct_value_ranks, ntile_bucket_bounds
from stockify_spark.queries.orders import orders_credit_scorecard
from stockify_spark.queries.stats import stats_gini_auc, stats_spearman, stats_wilcoxon_signed_rank

from tests.conftest import SF_SMOKE


def _assert_single_partition_exchanges_post_agg(df, name):
    """Every Exchange SinglePartition in the executed plan must meet
    a HashAggregate in its subtree BEFORE any parquet scan: plan
    lines print depth-first, so between the exchange line and the
    first following Scan line an aggregate must appear — otherwise
    raw fact rows are crossing the exchange."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    hits = 0
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        hits += 1
        for nxt in lines[i + 1 :]:
            if "HashAggregate" in nxt or "SortAggregate" in nxt:
                break
            assert "Scan parquet" not in nxt and "FileScan" not in nxt, (
                f"{name}: Exchange SinglePartition fed by a raw scan:\n{plan}"
            )
    assert hits >= 1, f"{name}: expected the bounded prefix-sum stage:\n{plan}"


class TestScaleSafeRankPlans:
    def test_gini_auc_plan(self, spark):
        dbg: dict = {}
        df = stats_gini_auc(spark, SF_SMOKE, _debug=dbg)
        _assert_single_partition_exchanges_post_agg(df, "stats_gini_auc")
        # the distinct-score frame is tiny relative to the fact
        n_vals = dbg["rank_frame"].count()
        n_rows = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
        assert 0 < n_vals <= n_rows

    def test_wilcoxon_plan(self, spark):
        df = stats_wilcoxon_signed_rank(spark, SF_SMOKE)
        _assert_single_partition_exchanges_post_agg(
            df, "stats_wilcoxon_signed_rank"
        )

    def test_scorecard_plan(self, spark):
        df = orders_credit_scorecard(spark, SF_SMOKE)
        _assert_single_partition_exchanges_post_agg(
            df, "orders_credit_scorecard"
        )

    def test_spearman_plan(self, spark):
        df = stats_spearman(spark, SF_SMOKE)
        _assert_single_partition_exchanges_post_agg(df, "stats_spearman")

    def test_control_naive_rank_fails_the_check(self, spark):
        """The assertion is not vacuous: the pre-r14 shape (global
        rank straight over the fact) trips it."""
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        naive = o.select(
            F.rank().over(Window.orderBy("o_totalprice")).alias("r")
        ).agg(F.sum("r").alias("s"))
        try:
            _assert_single_partition_exchanges_post_agg(naive, "control")
        except AssertionError:
            return
        raise AssertionError("control plan should have failed the check")


class TestRanksHelpers:
    def test_distinct_value_ranks_matches_window_ranks(self, spark):
        rows = [(v,) for v in [3.0, 1.0, 3.0, 2.0, 3.0, 1.0, 5.0]]
        df = spark.createDataFrame(rows, "v double")
        got = {
            r["v"]: (r["cnt"], r["minrank"], r["midrank"])
            for r in distinct_value_ranks(df, "v").collect()
        }
        ref = (
            df.select(
                "v",
                F.rank().over(Window.orderBy("v")).alias("rnk"),
                F.count(F.lit(1)).over(Window.partitionBy("v")).alias("ties"),
            )
            .groupBy("v")
            .agg(
                F.first("ties").alias("cnt"),
                F.first("rnk").alias("minrank"),
                F.avg(F.col("rnk") + (F.col("ties") - 1) / 2.0).alias("mid"),
            )
            .collect()
        )
        assert len(got) == 4
        for r in ref:
            cnt, minrank, mid = got[r["v"]]
            assert (cnt, minrank, float(mid)) == (
                r["cnt"],
                r["minrank"],
                float(r["mid"]),
            )

    def test_distinct_value_ranks_drops_nulls(self, spark):
        df = spark.createDataFrame([(1.0,), (None,), (2.0,)], "v double")
        vals = sorted(
            r["v"] for r in distinct_value_ranks(df, "v").collect()
        )
        assert vals == [1.0, 2.0]

    def test_ntile_bounds_match_spark_ntile(self, spark):
        """23 rows / 10 buckets: 3 buckets of 3, 7 of 2 — the exact
        remainder split Spark's NTILE produces."""
        n = 23
        df = spark.range(n).select(F.col("id").cast("double").alias("x"))
        via_ntile = (
            df.select(F.ntile(10).over(Window.orderBy("x")).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        ref = {r["b"]: r["count"] for r in via_ntile}
        tot = df.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        fences = {
            r["bucket"]: (r["b_start"], r["b_end"])
            for r in ntile_bucket_bounds(spark, tot, 10).collect()
        }
        assert len(fences) == 10
        covered = []
        for b in range(1, 11):
            s, e = fences[b]
            assert e - s + 1 == ref[b]
            covered.append((s, e))
        # fences tile [1, n] exactly
        covered.sort()
        assert covered[0][0] == 1 and covered[-1][1] == n
        for (s1, e1), (s2, e2) in zip(covered, covered[1:]):
            assert s2 == e1 + 1


class TestWeightedMedianChunkedPlan:
    def test_final_window_input_is_domain_bounded(self, spark):
        """r15: agg_weighted_median's chunked prefix scan. The
        per-price window must consume the fence-joined single-chunk
        slice, never the full distinct-price table: in the formatted
        plan, every Window node's subtree must contain either only
        the tiny per-chunk aggregate (prefix-sum over ~|domain/256|
        rows) or a BroadcastHashJoin against the one-row-per-flag
        fence BEFORE the parquet scan."""
        from stockify_spark.queries.aggregates import agg_weighted_median

        df = agg_weighted_median(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        win_lines = [i for i, ln in enumerate(lines) if "Window" in ln]
        assert len(win_lines) >= 2, plan  # chunk prefix-sum + slice window
        for i in win_lines:
            sub = lines[i + 1 :]
            ok = False
            for ln in sub:
                if "BroadcastHashJoin" in ln or "HashAggregate" in ln:
                    ok = True
                    break
                if "Scan parquet" in ln or "FileScan" in ln:
                    break
            assert ok, f"Window over raw fact rows:\n{plan}"

    def test_chunk_boundary_crossing_exact(self, spark):
        """Synthetic fence edge: cumulative weight hits exactly tot/2
        at the last price of a chunk — the median must be THAT price
        (2·cw >= tot is inclusive), not the first price of the next
        chunk. Checked against the direct window form."""
        from pyspark.sql import Window as W

        rows = [
            # flag 'X': prices straddle the 256-chunk fence at 512
            ("X", 300.0, 2),   # cw 2
            ("X", 511.0, 2),   # cw 4 = tot/2 -> median price 511.0
            ("X", 600.0, 3),
            ("X", 700.0, 1),   # tot 8
        ]
        df = spark.createDataFrame(
            rows, "l_returnflag string, l_extendedprice double, l_quantity int"
        )
        w = df.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
        ).agg(F.sum(F.col("l_quantity").cast("long")).alias("wt"))
        win = W.partitionBy("flag").orderBy("price")
        tot = w.groupBy("flag").agg(F.sum("wt").alias("tot"))
        direct = (
            w.select("flag", "price", F.sum("wt").over(win).alias("cw"))
            .join(F.broadcast(tot), "flag")
            .filter(2 * F.col("cw") >= F.col("tot"))
            .groupBy("flag")
            .agg(F.min("price").alias("p"), F.max("tot").alias("t"))
            .collect()
        )
        assert direct[0].p == 511.0
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            df.write.parquet(os.path.join(td, "lineitem.parquet"))
            from stockify_spark.queries.aggregates import agg_weighted_median

            got = agg_weighted_median(spark, td).collect()
        assert len(got) == 1
        assert got[0].weighted_median_price == 511.0
        assert got[0].total_weight == 8
