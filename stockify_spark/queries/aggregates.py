"""Aggregates: global and grouped aggregation, distinct counting,
sketches (HLL, count-min, KMV, t-digest) and the ordered and weighted
aggregates (medians, percentiles, mode).
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from stockify_spark.functions.scale import materialize
from stockify_spark.operators import compare, filter_rows, global_agg, group_agg
from stockify_spark.operators.aggregates import (
    cube_agg,
    exact_heavy_hitters,
    rollup_agg,
    summary_stats,
)
from stockify_spark.registry import register, _t
from stockify_spark.sources.io import load_table


# ---------------------------------------------------------------------------
# A1-A4 — global aggregates (SURVEY §2.3). Spark's partial/final
# HashAggregate replaces the reference's atomicAdd + host reduce.
# ---------------------------------------------------------------------------
@register(
    "agg_sum",
    "SELECT ROUND(SUM(l_extendedprice), 2) AS sum_price FROM lineitem",
)
def agg_sum(spark, sf_dir):
    """A1 (sumLowPrice, stockify.cu:135-138) — double, not float32."""
    return global_agg(
        _t(spark, sf_dir, "lineitem"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "agg_min_max",
    "SELECT MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,"
    " MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price FROM lineitem",
)
def agg_min_max(spark, sf_dir):
    """A2/A3 (stockify.cu:556-562, 599-605)."""
    return global_agg(
        _t(spark, sf_dir, "lineitem"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "agg_stats",
    "SELECT ROUND(SUM(l_extendedprice), 2) AS sum, MIN(l_extendedprice) AS min,"
    " MAX(l_extendedprice) AS max, COUNT(l_extendedprice) AS count,"
    " ROUND(AVG(l_extendedprice), 6) AS avg FROM lineitem",
)
def agg_stats(spark, sf_dir):
    """A1-A3 + the free count/avg extensions in one pass."""
    df = summary_stats(_t(spark, sf_dir, "lineitem"), "l_extendedprice")
    return df.select(
        F.round("sum", 2).alias("sum"),
        "min",
        "max",
        "count",
        F.round("avg", 6).alias("avg"),
    )


@register(
    "agg_filtered",
    "SELECT ROUND(SUM(l_extendedprice), 2) AS sum_price, COUNT(*) AS cnt"
    " FROM lineitem WHERE l_quantity >= 25",
)
def agg_filtered(spark, sf_dir):
    """Filter + aggregate fused in one plan — experiments 1.x + 2.a
    composed; the filter is pushed into the scan, the aggregate is
    partial/final."""
    return global_agg(
        filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_quantity", "ge", 25.0)),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_count_distinct",
    "SELECT COUNT(DISTINCT l_orderkey) AS n_orders,"
    " COUNT(DISTINCT l_returnflag) AS n_flags, COUNT(*) AS n_rows FROM lineitem",
)
def agg_count_distinct(spark, sf_dir):
    return global_agg(
        _t(spark, sf_dir, "lineitem"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Group-by, joins, set ops, scalar
# functions, streaming-equivalent windows, and the LLM-pipeline
# operators. Registered into the same driver-contract registry as the
# parity queries (see registry.py for the determinism conventions).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Group-by aggregation (SURVEY §7.6.1)
# ---------------------------------------------------------------------------
@register(
    "groupby_q1",
    "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,"
    " ROUND(SUM(l_extendedprice), 2) AS sum_base_price,"
    " ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,"
    " ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,"
    " ROUND(AVG(l_quantity), 6) AS avg_qty, ROUND(AVG(l_extendedprice), 6) AS avg_price,"
    " ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS count_order"
    " FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'"
    " GROUP BY l_returnflag, l_linestatus",
)
def groupby_q1(spark, sf_dir):
    """TPC-H Q1 shape: the canonical scan→filter→partial-agg→final-agg
    pipeline; 8 aggregates share one shuffle keyed on a 6-value key."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
    return group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "groupby_month",
    "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,"
    " COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total"
    " FROM orders GROUP BY 1",
)
def groupby_month(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return group_agg(
        df.withColumn("order_month", F.to_date(F.date_trunc("month", "o_orderdate"))),
        ["order_month"],
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "groupby_having",
    "SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS spend"
    " FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15",
)
def groupby_having(spark, sf_dir):
    df = group_agg(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )
    return df.filter(F.col("n_orders") >= 15)


@register(
    "groupby_rollup",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty"
    " FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
)
def groupby_rollup(spark, sf_dir):
    return rollup_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "groupby_cube",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty"
    " FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
)
def groupby_cube(spark, sf_dir):
    return cube_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "groupby_pivot",
    "SELECT l_returnflag,"
    " ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS status_O,"
    " ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS status_F"
    " FROM lineitem GROUP BY l_returnflag",
)
def groupby_pivot(spark, sf_dir):
    out = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_extendedprice"), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("status_O"),
        F.col("F").alias("status_F"),
    )


@register(
    "agg_approx_distinct",
    # HLL estimates are engine-specific, so raw values can't hash-
    # match. Instead BOTH engines emit the exact cardinalities plus a
    # boolean asserting their own HLL estimate lands within 10% of
    # exact (5x the default rsd=0.05 — deterministic per engine, far
    # outside normal sketch variance). The comparison stays hash-
    # exact AND verifies each engine's sketch against ground truth.
    "SELECT COUNT(DISTINCT l_orderkey) AS n_orders,"
    " COUNT(DISTINCT l_partkey) AS n_parts,"
    " ABS(approx_count_distinct(l_orderkey) - COUNT(DISTINCT l_orderkey))"
    "  <= 0.1 * COUNT(DISTINCT l_orderkey) AS orders_estimate_ok,"
    " ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))"
    "  <= 0.1 * COUNT(DISTINCT l_partkey) AS parts_estimate_ok"
    " FROM lineitem",
)
def agg_approx_distinct(spark, sf_dir):
    """HyperLogLog distinct — the approximate path for 100 TB-scale
    cardinality (exact countDistinct is a full shuffle of the keys;
    the HLL sketch is a fixed-size map-side accumulator). The oracle
    checks tolerance-of-truth, not raw sketch values (see SQL)."""
    df = _t(spark, sf_dir, "lineitem")
    exact_o = F.countDistinct("l_orderkey")
    exact_p = F.countDistinct("l_partkey")
    approx_o = F.approx_count_distinct("l_orderkey")
    approx_p = F.approx_count_distinct("l_partkey")
    return df.agg(
        exact_o.alias("n_orders"),
        exact_p.alias("n_parts"),
        (F.abs(approx_o - exact_o) <= 0.1 * exact_o).alias("orders_estimate_ok"),
        (F.abs(approx_p - exact_p) <= 0.1 * exact_p).alias("parts_estimate_ok"),
    )


@register(
    "agg_percentile",
    "SELECT ROUND(median(l_extendedprice), 4) AS p50,"
    " ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95 FROM lineitem",
)
def agg_percentile(spark, sf_dir):
    """Exact continuous percentiles (Spark ``percentile``; the scale
    path is percentile_approx — tested rows-only in tests)."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# SQL entry point (SURVEY §3.4 B): the same engine surface through
# spark.sql over registered views — including GROUPING SETS, which
# the DataFrame API doesn't expose directly.
# ---------------------------------------------------------------------------
_GROUPING_SETS_SQL = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n,"
    " ROUND(SUM(l_quantity), 2) AS sum_qty FROM {table}"
    " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
)


@register("groupby_grouping_sets", _GROUPING_SETS_SQL.format(table="lineitem"))
def groupby_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(_GROUPING_SETS_SQL.format(table="_gs_lineitem"))


# ---------------------------------------------------------------------------
# Statistical aggregates, ordered collection
# aggregates, array explode/unnest, additional date arithmetic, null
# handling, and the pandas-UDF surface verified against a declarative
# SQL oracle. Same determinism conventions as registry.py.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Statistical aggregates (§7.6.1 continued) — all one-pass partial/final.
# ---------------------------------------------------------------------------
@register(
    "agg_stddev_corr",
    "SELECT ROUND(stddev_samp(l_extendedprice), 4) AS price_sd,"
    " ROUND(stddev_pop(l_extendedprice), 4) AS price_sd_pop,"
    " ROUND(var_samp(l_quantity), 4) AS qty_var,"
    " ROUND(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,"
    " ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_cov"
    " FROM lineitem",
)
def agg_stddev_corr(spark, sf_dir):
    """Moment-based aggregates: Spark computes all of them with
    single-pass merge formulas (partial/final), no second scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("price_sd_pop"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("price_qty_cov"),
    )


@register(
    "agg_collect_ordered",
    "SELECT l_returnflag, string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)"
    " AS statuses FROM lineitem GROUP BY l_returnflag",
)
def agg_collect_ordered(spark, sf_dir):
    """Ordered collection aggregate. collect_set is unordered by
    contract — sorting before joining makes the result deterministic
    (required for any differential check)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses")
    )


@register(
    "agg_percentile_approx",
    # tolerance-of-truth oracle (the agg_approx_distinct pattern):
    # sketch estimates are engine-specific, so BOTH engines emit the
    # exact interpolated percentiles (rounded identically) plus a
    # boolean asserting their OWN sketch lands within 2% of exact —
    # hash-exact comparison that still verifies each engine's sketch
    # against ground truth.
    "SELECT ROUND(median(l_extendedprice), 4) AS p50_exact,"
    " ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,"
    " ABS(approx_quantile(l_extendedprice, 0.5) - median(l_extendedprice))"
    "  <= 0.02 * median(l_extendedprice) AS p50_estimate_ok,"
    " ABS(approx_quantile(l_extendedprice, 0.95) - quantile_cont(l_extendedprice, 0.95))"
    "  <= 0.02 * quantile_cont(l_extendedprice, 0.95) AS p95_estimate_ok"
    " FROM lineitem",
)
def agg_percentile_approx(spark, sf_dir):
    """The 100 TB percentile path: a mergeable quantile sketch
    (single pass, bounded memory) instead of the exact sort-based
    percentile. The oracle checks tolerance-of-truth — exact
    percentiles hash-match, each engine's sketch is asserted within
    2% of its exact value (error bound also pinned in
    tests/test_aggregates.py)."""
    li = _t(spark, sf_dir, "lineitem")
    exact50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact95 = F.expr("percentile(l_extendedprice, 0.95)")
    approx50 = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))
    approx95 = F.percentile_approx("l_extendedprice", F.lit(0.95), F.lit(10000))
    return li.agg(
        F.round(exact50, 4).alias("p50_exact"),
        F.round(exact95, 4).alias("p95_exact"),
        (F.abs(approx50 - exact50) <= 0.02 * exact50).alias("p50_estimate_ok"),
        (F.abs(approx95 - exact95) <= 0.02 * exact95).alias("p95_estimate_ok"),
    )


@register(
    "groupby_mom_change",
    "WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,"
    " ROUND(SUM(o_totalprice), 2) AS revenue FROM orders GROUP BY 1)"
    " SELECT order_month, revenue,"
    " ROUND(revenue - LAG(revenue) OVER (ORDER BY order_month), 2) AS mom_delta"
    " FROM m",
)
def groupby_mom_change(spark, sf_dir):
    """Aggregate→window composition: monthly revenue plus its
    month-over-month delta. The window runs over the AGGREGATED rows
    (dozens of months), so the global ORDER BY here is bounded — the
    post-aggregation cardinality, not the fact table, sets the
    window's partition size."""
    from pyspark.sql import Window

    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy("order_month")
    return monthly.select(
        "order_month",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("mom_delta"),
    )


@register(
    "agg_bitwise_bool",
    "SELECT l_returnflag,"
    " bit_and(l_linenumber) AS all_bits, bit_or(l_linenumber) AS any_bits,"
    " bit_xor(l_linenumber) AS xor_bits,"
    " bool_or(l_quantity > 49) AS any_max_qty, bool_and(l_quantity > 0) AS all_positive"
    " FROM lineitem GROUP BY l_returnflag",
)
def agg_bitwise_bool(spark, sf_dir):
    """Bitwise and boolean aggregates — all one-pass partial/final
    (each partial is a single machine word per group)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").alias("all_bits"),
        F.bit_or("l_linenumber").alias("any_bits"),
        F.bit_xor("l_linenumber").alias("xor_bits"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_max_qty"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
    )


@register(
    "agg_skew_kurt",
    "SELECT ROUND(skewness(l_extendedprice), 4) AS price_skew,"
    " ROUND(kurtosis(l_extendedprice), 4) AS price_kurt FROM lineitem",
)
def agg_skew_kurt(spark, sf_dir):
    """Higher-moment aggregates (one-pass partial/final). Both
    engines compute sample-adjusted skewness/excess kurtosis — the
    oracle run proves the formulas agree to 4 decimals."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.skewness("l_extendedprice"), 4).alias("price_skew"),
        F.round(F.kurtosis("l_extendedprice"), 4).alias("price_kurt"),
    )


@register(
    "groupby_time_rollup",
    # hypertable-style continuous-aggregate shape: one pass emits the
    # day, month, year, and grand-total grains via ROLLUP. Sums ride
    # in DECIMAL (exact, order-independent) — grand-total groups sum
    # ~60k doubles, where engine summation order would drift. The
    # FINAL total casts to DOUBLE (correctly rounded on both engines)
    # because a DECIMAL output degrades to float64 in DuckDB's pandas
    # path and hash-mismatches the driver on identical values.
    "SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,"
    " CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,"
    " CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,"
    " COUNT(*) AS n_events,"
    " CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total"
    " FROM events GROUP BY ROLLUP (y, m, d)",
)
def groupby_time_rollup(spark, sf_dir):
    """Time-hierarchy rollup (the hypertable/continuous-aggregate
    shape): day → month → year → total in ONE partial/final aggregate
    pass — Spark expands the rollup grouping sets map-side, so the
    shuffle carries one partial row per (grain, group), not one scan
    per grain. At 100 TB this replaces four separate aggregation jobs
    and is the natural incremental-materialization target (each grain
    is derivable from the finer one)."""
    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.col("value").cast("decimal(18,6)").alias("_v"),
    )
    return g.rollup("y", "m", "d").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_v").cast("decimal(38,6)").cast("double").alias("total"),
    )


@register(
    "agg_sum_f32",
    # float32 fidelity mode (SURVEY §1.3): inputs quantized to REAL —
    # IEEE double->float rounding is identical in both engines, so
    # min/max are bit-exact and the double-accumulated sum agrees to
    # the rounded cent. The reference's float32-atomic accumulator
    # drift is a documented non-goal (nondeterministic on the GPU
    # itself; both SQL engines promote float sums to double).
    "SELECT ROUND(SUM(CAST(l_extendedprice AS REAL)), 2) AS sum_price_f32,"
    " MIN(CAST(l_extendedprice AS REAL)) AS min_price_f32,"
    " MAX(CAST(l_extendedprice AS REAL)) AS max_price_f32,"
    " COUNT(*) AS cnt FROM lineitem WHERE CAST(l_quantity AS REAL) >= 25",
)
def agg_sum_f32(spark, sf_dir):
    """The reference's experiment 1.x+2.a in its OWN precision: scan
    → float32-quantized filter + aggregate (sumLowPrice used float
    atomics, stockify.cu:135-138). Comparisons and min/max happen on
    the quantized values, so the float32 semantics — including any
    filter-boundary flips caused by quantization — are reproduced."""
    from stockify_spark.operators import compare, filter_rows, global_agg

    li = _t_f32(spark, sf_dir, "lineitem")
    return global_agg(
        filter_rows(li, F.col("l_quantity") >= 25.0),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price_f32"),
        F.min("l_extendedprice").alias("min_price_f32"),
        F.max("l_extendedprice").alias("max_price_f32"),
        F.count(F.lit(1)).alias("cnt"),
    )


def _t_f32(spark, sf_dir, name):
    from stockify_spark.sources.io import load_table

    return load_table(spark, sf_dir, name, float32=True)


# ---------------------------------------------------------------------------
# Classic analytics the
# reference's users reach for next — gaps-and-islands sessionization,
# EWMA / drawdown time-series windows (the stock-analytics natives),
# fixed-width histograms, deterministic mode, unpivot/melt, Pareto
# skyline — plus degree-oriented triangle enumeration
# (operators/graph.triangles), corpus normalization dedup, and
# re-aggregatable HLL sketch union.
#
# Same determinism conventions as registry.py. Two specific to this
# file: EWMA uses alpha = 0.5 so every weight is an exact power of two
# (weight·x is a pure exponent shift — no rounding — and the explicit
# left-associated sum is bit-identical across engines), and every
# ranking ties on a unique id column.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Fixed-width histogram — the width_bucket aggregation every
# profiler/BI layer needs. Bucket ids are exact integer arithmetic.
# ---------------------------------------------------------------------------
@register(
    "agg_histogram",
    "SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,"
    " CAST(COUNT(*) AS BIGINT) AS n,"
    " ROUND(SUM(o_totalprice), 2) AS total,"
    " MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi"
    " FROM orders GROUP BY 1",
)
def agg_histogram(spark, sf_dir):
    """20-bucket fixed-width histogram of order totals: one map-side
    bucket-id expression, one group-by with map-side combine — the
    shuffle moves |buckets| partial rows per task, scale-free. (A
    data-adaptive variant is agg_percentile_approx's quantile sketch;
    this is the exact fixed-bounds profile.)"""
    t = _t(spark, sf_dir, "orders")
    return (
        t.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / 25000.0).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic mode — most frequent value per group with a total
# tie order (count DESC, value ASC), the portable definition of the
# MODE() aggregate.
# ---------------------------------------------------------------------------

@register(
    "agg_mode",
    "WITH c AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt"
    "  FROM customer GROUP BY 1, 2),"
    " r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment"
    "   ORDER BY cnt DESC, c_nationkey ASC) AS rk FROM c)"
    " SELECT c_mktsegment, CAST(c_nationkey AS INT) AS mode_nation,"
    " CAST(cnt AS BIGINT) AS cnt FROM r WHERE rk = 1",
)
def agg_mode(spark, sf_dir):
    """Per-segment modal nation: count pairs (map-side combine),
    then a rank-1 window over the compact (segment, nation, count)
    table. Built-in MODE() is non-deterministic on ties in both
    engines; the explicit (cnt DESC, value ASC) order is the
    differential-testable definition. Two shuffles, both over
    |segments|×|nations| rows — group-bounded, scale-free."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), F.col("c_nationkey").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("int").alias("mode_nation"),
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Unpivot / melt — wide-to-long reshape via stack(), the inverse of
# groupby_pivot. Counts stay BIGINT-exact.
# ---------------------------------------------------------------------------

@register(
    "groupby_unpivot",
    "WITH wide AS (SELECT n_nationkey,"
    "  (SELECT COUNT(*) FROM customer WHERE c_nationkey = n_nationkey)"
    "   AS customers,"
    "  (SELECT COUNT(*) FROM supplier WHERE s_nationkey = n_nationkey)"
    "   AS suppliers FROM nation)"
    " SELECT CAST(n_nationkey AS INT) AS nation, metric,"
    "  CAST(val AS BIGINT) AS val FROM ("
    "  SELECT n_nationkey, 'customers' AS metric, customers AS val FROM wide"
    "  UNION ALL"
    "  SELECT n_nationkey, 'suppliers' AS metric, suppliers AS val FROM wide)",
)
def groupby_unpivot(spark, sf_dir):
    """Melt a wide per-nation count table to (nation, metric, val)
    rows with stack() — the inverse reshape of groupby_pivot. The
    wide table is built by aggregating each fact side to |nations|
    rows FIRST and broadcast-joining onto the nation spine, so the
    unpivot itself is a zero-shuffle per-row expansion."""
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nation")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    wide = (
        nation.join(F.broadcast(cust), "nation", "left")
        .join(F.broadcast(supp), "nation", "left")
        .select(
            "nation",
            F.coalesce("customers", F.lit(0)).alias("customers"),
            F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
        )
    )
    return wide.select(
        F.col("nation").cast("int").alias("nation"),
        F.expr(
            "stack(2, 'customers', customers, 'suppliers', suppliers)"
            " AS (metric, val)"
        ),
    ).select("nation", "metric", F.col("val").cast("long").alias("val"))


# ---------------------------------------------------------------------------
# Re-aggregatable HLL sketches: per-group sketches unioned to a
# global estimate — the sketch-cube pattern (build once at fine
# grain, roll up without rescanning). Tolerance-of-truth oracle, the
# agg_approx_distinct convention: estimates are engine-specific, so
# each engine asserts its own estimate against the exact answer.
# ---------------------------------------------------------------------------
@register(
    "agg_sketch_union",
    "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,"
    " CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_groups,"
    " TRUE AS union_estimate_ok FROM orders",
)
def agg_sketch_union(spark, sf_dir):
    """Datasketches HLL cube: one sketch per order priority
    (hll_sketch_agg — map-side mergeable state), then hll_union_agg
    rolls the five group sketches into the global estimate WITHOUT
    rescanning orders — the pre-aggregated-cube pattern that makes
    distinct-count dashboards O(groups) instead of O(rows) per
    query. The oracle is tolerance-of-truth (agg_approx_distinct
    convention): the unioned estimate must land within 10% of the
    exact global cardinality, asserted engine-side."""
    orders = _t(spark, sf_dir, "orders")
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    unioned = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return exact.crossJoin(F.broadcast(unioned)).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_groups").cast("long").alias("n_groups"),
        (
            F.abs(F.col("est") - F.col("n_exact")) <= 0.1 * F.col("n_exact")
        ).alias("union_estimate_ok"),
    )


# ---------------------------------------------------------------------------
# Quantile sketch cube — per-segment approx medians rolled up, the
# percentile sibling of agg_sketch_union. Tolerance-of-truth oracle:
# each engine's sketch must land within 5% of ITS exact per-group
# median (both engines also emit the exact medians, hash-compared).
# ---------------------------------------------------------------------------
@register(
    "agg_quantile_cube",
    "SELECT c_mktsegment,"
    " CAST(COUNT(*) AS BIGINT) AS n,"
    " ROUND(median(c_acctbal), 2) AS exact_median,"
    " TRUE AS sketch_ok"
    " FROM customer GROUP BY c_mktsegment",
)
def agg_quantile_cube(spark, sf_dir):
    """Per-segment exact median (hash-compared) beside the
    percentile_approx sketch estimate (tolerance-asserted): the
    exact form needs a per-group sort, the sketch is fixed-size
    mergeable map-side state — at 100 TB the sketch column is the
    one that survives, same shuffle shape as any group agg. DuckDB's
    median of an even group interpolates like Spark's
    percentile(0.5), so the exact columns hash-match."""
    t = _t(spark, sf_dir, "customer")
    approx = F.percentile_approx("c_acctbal", 0.5, 1000)
    exact = F.percentile("c_acctbal", 0.5)
    return t.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(exact, 2).alias("exact_median"),
        (
            F.abs(approx - exact)
            <= F.greatest(F.abs(exact) * 0.05, F.lit(50.0))
        ).alias("sketch_ok"),
    )


# ---------------------------------------------------------------------------
# Robust statistics per group — median / MAD / IQR, the
# outlier-resistant profile. Exact interpolated percentiles on both
# engines, ROUND()ed like every multi-double aggregate.
# ---------------------------------------------------------------------------
@register(
    "agg_robust_stats",
    # discrete (order-statistic) percentiles, not interpolated ones:
    # selection returns an actual data value — bit-exact across
    # engines, where the interpolation a+(b-a)·f vs a·(1-f)+b·f
    # drifts in the last ulp and flipped a ROUND(2) boundary
    "WITH med AS (SELECT c_mktsegment,"
    "  quantile_disc(c_acctbal, 0.5) AS med,"
    "  quantile_disc(c_acctbal, 0.25) AS p25,"
    "  quantile_disc(c_acctbal, 0.75) AS p75"
    "  FROM customer GROUP BY c_mktsegment)"
    " SELECT m.c_mktsegment,"
    " m.med AS median_bal,"
    " m.p75 - m.p25 AS iqr,"
    " quantile_disc(ABS(c.c_acctbal - m.med), 0.5) AS mad"
    " FROM customer c JOIN med m USING (c_mktsegment)"
    " GROUP BY m.c_mktsegment, m.med, m.p25, m.p75",
)
def agg_robust_stats(spark, sf_dir):
    """Median / IQR / MAD per market segment — the robust location
    and spread profile (outliers move mean/stddev, not these). Two
    passes by construction (MAD needs the group median first): a
    per-group quantile aggregate, broadcast back onto the rows, then
    a second quantile over the absolute deviations. Discrete
    quantiles (order statistics) keep every output an exact data
    value. Exact quantiles sort within each group — at 100 TB swap
    in the percentile_approx sketch (agg_quantile_cube pins the
    tolerance contract) unless exactness is the requirement."""
    cust = _t(spark, sf_dir, "customer")
    med = cust.groupBy("c_mktsegment").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)").alias("med"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal)").alias("p25"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal)").alias("p75"),
    )
    joined = cust.join(F.broadcast(med), "c_mktsegment").withColumn(
        "_dev", F.abs(F.col("c_acctbal") - F.col("med"))
    )
    return (
        joined.groupBy("c_mktsegment", "med", "p25", "p75")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _dev)").alias("mad")
        )
        .select(
            "c_mktsegment",
            F.col("med").alias("median_bal"),
            (F.col("p75") - F.col("p25")).alias("iqr"),
            "mad",
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit profile — the fraud-detection screen. The
# first digit comes from the integer part's decimal string (exact:
# integer-to-string is deterministic; no log10 whose last-ulp could
# flip a digit at powers of ten), and the expected Benford mass is
# a shared literal table.
# ---------------------------------------------------------------------------

_BENFORD = {1: 0.30103, 2: 0.17609, 3: 0.12494, 4: 0.09691,
            5: 0.07918, 6: 0.06695, 7: 0.05799, 8: 0.05115, 9: 0.04576}

# a plain list literal indexed 1-based by digit (DuckDB's MAP[k]
# extraction returns a one-element LIST, not the scalar)
_BENFORD_SQL = "[" + ", ".join(str(_BENFORD[d]) for d in range(1, 10)) + "]"


@register(
    "agg_benford",
    "WITH d AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)"
    "   AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders)"
    " SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,"
    " ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS freq,"
    f" CAST({_BENFORD_SQL}[CAST(digit AS INT)] AS DOUBLE) AS benford_expected"
    " FROM d GROUP BY digit",
)
def agg_benford(spark, sf_dir):
    """First-significant-digit distribution of order totals vs the
    Benford expectation — the classic anomaly screen over financial
    facts. Digit extraction goes through the integer part's decimal
    string (exact on both engines; floor(log10(x)) would hinge on
    libm's last ulp exactly at powers of ten). One group-bounded
    aggregate plus a window over the 9-row result."""
    t = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    expected = F.create_map(
        *[x for d, p in _BENFORD.items() for x in (F.lit(d), F.lit(p))]
    )
    d = t.select(digit.alias("digit"))
    return d.groupBy("digit").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.count(F.lit(1)) * 1.0 / F.sum(F.count(F.lit(1))).over(Window.partitionBy()),
            6,
        ).alias("freq"),
    ).withColumn("benford_expected", expected[F.col("digit")])


# ---------------------------------------------------------------------------
# agg_heavy_hitters — exact frequent items, sketch-pruned shuffle
# ---------------------------------------------------------------------------
_HH_SQL = """
WITH toks AS (SELECT unnest(string_split(lower(text),' ')) AS w FROM documents),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM toks),
c AS (SELECT w, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY w)
SELECT w AS word, cnt FROM c, tot WHERE cnt >= 0.02 * n
"""


@register("agg_heavy_hitters", _HH_SQL)
def agg_heavy_hitters(spark, sf_dir):
    """Exact 2%-heavy-hitter tokens via map-side Misra-Gries candidate
    summaries + an exact recount of candidates only
    (operators/aggregates.exact_heavy_hitters). The final answer is
    exact (the sketch prunes, never decides), which is what makes an
    ANSI-SQL oracle possible for a sketch-based plan."""
    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    return exact_heavy_hitters(tokens, "tok", phi=0.02)


# ---------------------------------------------------------------------------
# agg_exact_median — distributed selection (order statistic, no sort)
# ---------------------------------------------------------------------------
_MEDIAN_SQL = """
WITH o AS (SELECT l_extendedprice AS v,
                  ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
                  COUNT(*) OVER () AS n
           FROM lineitem)
SELECT v AS kth_value, n::BIGINT AS n, ((n + 1) // 2)::BIGINT AS k
FROM o WHERE rn = (n + 1) // 2
"""


@register("agg_exact_median", _MEDIAN_SQL)
def agg_exact_median(spark, sf_dir):
    """EXACT lower median of l_extendedprice via two-phase distributed
    selection (operators/sorts.exact_kth_smallest): min/max + bucket
    histogram (map-side combined), driver picks the rank-k bucket
    from the bounded histogram, second scan ranks only that bucket —
    no global sort, no full-range shuffle. The oracle is the global
    ORDER BY it avoids."""
    from stockify_spark.operators.sorts import exact_kth_smallest

    return exact_kth_smallest(_t(spark, sf_dir, "lineitem"), "l_extendedprice")


# ---------------------------------------------------------------------------
# agg_group_median — exact interpolated median per group
# ---------------------------------------------------------------------------
_GM_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS med_price,
       ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1_qty,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS q3_qty
FROM lineitem GROUP BY 1, 2
"""


@register("agg_group_median", _GM_SQL)
def agg_group_median(spark, sf_dir):
    """Exact per-group medians/quartiles: Spark's `percentile` and
    DuckDB's `quantile_cont` both use the linearly-interpolated
    (type-7) definition, so the comparison is value-exact after the
    documented ROUND(6) float policy. One shuffle on the group key;
    the sort happens within each group's partition."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("med_price"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("q1_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q3_qty"),
    )


# ---------------------------------------------------------------------------
# agg_entropy — Shannon entropy of each user's event-type mix (the
# behavioral-diversity / source-mix statistic corpus curation uses)
# ---------------------------------------------------------------------------
_ENTROPY_SQL = """
SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
       ROUND(-SUM((n / s) * ln(n / s)), 6) AS entropy
FROM (SELECT user_id, event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY user_id) AS DOUBLE) AS s
      FROM events GROUP BY user_id, event_type)
GROUP BY user_id
"""


@register("agg_entropy", _ENTROPY_SQL)
def agg_entropy(spark, sf_dir):
    """Shannon entropy (nats) of the per-user event-type
    distribution. The inner groupBy produces exact integer counts
    (one shuffle with map-side combine); the per-user total comes
    from a window over the tiny grouped table, not a second scan;
    the entropy sum adds ≤5 terms so ln drift is ~ulp against the
    6dp round."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .withColumn(
            "s", F.sum("n").over(Window.partitionBy("user_id")).cast("double")
        )
    )
    p = F.col("n") / F.col("s")
    return c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(-F.sum(p * F.ln(p)), 6).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# agg_gini — inequality statistic over customer spend per nation
# ---------------------------------------------------------------------------
_GINI_SQL = """
WITH s AS (
  SELECT c_nationkey, o_custkey, SUM(o_totalprice) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey),
r AS (
  SELECT c_nationkey, x,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY x, o_custkey) AS i,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM s)
SELECT c_nationkey, CAST(MAX(n) AS BIGINT) AS n_customers,
       ROUND(2.0 * SUM(i * x) / (MAX(n) * SUM(x)) - (MAX(n) + 1.0) / MAX(n), 6)
         AS gini
FROM r GROUP BY c_nationkey
"""


@register("agg_gini", _GINI_SQL)
def agg_gini(spark, sf_dir):
    """Gini coefficient of per-customer spend within each nation —
    the concentration statistic (is revenue spread across customers
    or dominated by a few?) in its rank formulation
    G = 2·Σ(i·x₍ᵢ₎)/(n·Σx) − (n+1)/n. Rank ties (equal spend) are
    broken by custkey in both engines, and since tied values are
    EQUAL the i·x sum is invariant to which tied row gets which
    rank — the formula is tie-safe by construction. Shape: one
    join+agg shuffle for per-customer spend, one window rank within
    small nation partitions, one final agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("x", "o_custkey")
    r = s.select(
        "c_nationkey",
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("c_nationkey")).alias("n"),
    )
    n = F.max("n")
    return r.groupBy("c_nationkey").agg(
        n.cast("long").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (n * F.sum("x"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# agg_cms_sketch — Count-Min sketch cells (depth 4 × width 64)
# ---------------------------------------------------------------------------
_CMS_SKETCH_SQL = """
WITH ks AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1),
seeds AS (SELECT UNNEST([0, 1, 2, 3]) AS seed)
SELECT CAST(seed AS INT) AS row_idx,
       CAST(CAST(CONCAT('0x', substr(md5(CONCAT(CAST(seed AS VARCHAR), '|',
            CAST(o_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket,
       CAST(SUM(n) AS BIGINT) AS cell_n
FROM ks CROSS JOIN seeds
GROUP BY 1, 2
"""


@register("agg_cms_sketch", _CMS_SKETCH_SQL)
def agg_cms_sketch(spark, sf_dir):
    """Count-Min sketch of the per-customer order stream: depth 4 ×
    width 64, hash row r of key k = md5(r|k) — the seeded-md5 uniform
    already used by the weighted sampler (sample_weighted), so Spark
    and DuckDB compute bit-identical buckets. Build order matters at
    scale: keys are counted FIRST (one data-sized shuffle with
    map-side partial aggregation), then the 4 hash rows explode off
    the compact key-count table and collapse onto ≤256 cells — the
    explode multiplies distinct keys, never raw rows. Sketch cells
    are plain (row, bucket, count) tuples, so two sketches union+sum
    into one (mergeability is the point of CMS: per-partition /
    per-day sketches combine associatively; point estimate for key k
    = MIN over rows of its 4 cells, biased high, never low)."""
    ks = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seeded = ks.select(
        "o_custkey",
        "n",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("seed"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("seed").cast("string"),
                        F.lit("|"),
                        F.col("o_custkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 64
    )
    return (
        seeded.select(
            F.col("seed").cast("int").alias("row_idx"),
            bucket.cast("int").alias("bucket"),
            "n",
        )
        .groupBy("row_idx", "bucket")
        .agg(F.sum("n").alias("cell_n"))
    )


# ---------------------------------------------------------------------------
# agg_winsorized_stats — P5/P95-clipped robust moments per group
# ---------------------------------------------------------------------------
_WINSOR_SQL = """
WITH q AS (SELECT l_returnflag,
                  quantile_cont(l_extendedprice, 0.05) AS lo,
                  quantile_cont(l_extendedprice, 0.95) AS hi
           FROM lineitem GROUP BY 1),
w AS (SELECT l.l_returnflag,
             LEAST(GREATEST(l.l_extendedprice, q.lo), q.hi) AS v
      FROM lineitem l JOIN q USING (l_returnflag))
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(v), 4) AS win_mean,
       ROUND(stddev_samp(v), 4) AS win_std
FROM w GROUP BY l_returnflag
"""


@register("agg_winsorized_stats", _WINSOR_SQL)
def agg_winsorized_stats(spark, sf_dir):
    """Winsorized mean/std per group: values clipped to the group's
    [P5, P95] before the moments — the robust-stats middle ground
    between raw moments (tail-dragged) and median/MAD (throws away
    magnitude). Two passes: one grouped exact-percentile aggregate
    (the proven percentile == quantile_cont convention,
    agg_percentile), thresholds broadcast back, clip as a LEAST/
    GREATEST column expression, one moments aggregate — no sort of
    the data, no per-row Python. Clip thresholds may differ by an
    ulp across engines (interpolated quantiles), which perturbs a
    clipped SUM by ~1e-10 relative — far inside the 4dp ROUND, same
    margin argument as the sibling robust aggregates."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("hi"),
    )
    w = li.join(F.broadcast(q), "l_returnflag").select(
        "l_returnflag",
        F.least(F.greatest("l_extendedprice", F.col("lo")), F.col("hi")).alias("v"),
    )
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("v"), 4).alias("win_mean"),
        F.round(F.stddev_samp("v"), 4).alias("win_std"),
    )


# ---------------------------------------------------------------------------
# agg_mean_family — geometric / harmonic / quadratic means per group
# ---------------------------------------------------------------------------
_MEANS_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice) / COUNT(*), 6) AS mean_arith,
       ROUND(EXP(SUM(LN(o_totalprice)) / COUNT(*)), 6) AS mean_geom,
       ROUND(COUNT(*) / SUM(1.0 / o_totalprice), 6) AS mean_harm,
       ROUND(SQRT(SUM(o_totalprice * o_totalprice) / COUNT(*)), 6)
         AS mean_quad
FROM orders
WHERE o_totalprice > 0
GROUP BY o_orderpriority
"""


@register("agg_mean_family", _MEANS_SQL)
def agg_mean_family(spark, sf_dir):
    """The classical mean family per order priority — arithmetic,
    geometric (exp of mean log), harmonic (n over reciprocal sum),
    quadratic (RMS) — satisfying harm <= geom <= arith <= quad on
    positive data (the power-mean inequality, pinned in tests).
    One partial->final aggregation computing four accumulators in a
    single pass; the log/reciprocal/square transforms are JVM
    column expressions. The log- and reciprocal-domain sums are the
    documented ulp-drift surface -> 6dp display rounding."""
    from pyspark.sql import functions as F

    p = F.col("o_totalprice")
    cnt = F.count(F.lit(1)).cast("double")
    return (
        _t(spark, sf_dir, "orders")
        .where(p > 0)
        .groupBy("o_orderpriority")
        .agg(
            cnt.cast("bigint").alias("n"),
            F.round(F.sum(p) / cnt, 6).alias("mean_arith"),
            F.round(F.exp(F.sum(F.log(p)) / cnt), 6).alias("mean_geom"),
            F.round(cnt / F.sum(1.0 / p), 6).alias("mean_harm"),
            F.round(F.sqrt(F.sum(p * p) / cnt), 6).alias("mean_quad"),
        )
    )


_WMED_SQL = """
WITH w AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, price, wt,
         SUM(wt) OVER (PARTITION BY flag ORDER BY price) AS cw,
         SUM(wt) OVER (PARTITION BY flag) AS tot
  FROM w
)
SELECT flag, MIN(price) AS weighted_median_price,
       CAST(MAX(tot) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cw >= tot
GROUP BY flag
"""


@register("agg_weighted_median", _WMED_SQL)
def agg_weighted_median(spark, sf_dir):
    """Weighted median of l_extendedprice per returnflag with
    l_quantity as the weight: the smallest price whose cumulative
    weight reaches half the total. The 2·cw >= tot comparison is
    INTEGER (quantities are integral), so the selection rule is
    exact on both engines — no quantile interpolation anywhere.

    Scale shape (r15): the direct form — groupBy(flag, price) then a
    running sum windowed per flag — funnels the ~|distinct prices|
    table through THREE window tasks (one per returnflag), and at
    sf0.1 prices are near-unique (594k distinct of 600k rows), so
    that stage is data-sized. Chunked prefix scan instead (the
    operators/ranks.py recursion, same as stats_runs_test_chunked):

      1. per-(flag, 256-wide price chunk) weight totals — the
         partial-agg-absorbing shuffle carries ~3·|domain/256| rows
         (~1.3k here), not |distinct prices|;
      2. a prefix sum over THAT tiny table finds, per flag, the one
         chunk where cumulative weight crosses tot/2, plus the exact
         cumulative offset before it;
      3. only that chunk's rows are re-read (broadcast fence join),
         grouped per price, and run through the final per-flag
         window — whose input is bounded by the PRICE DOMAIN inside
         one chunk (≤ 25 600 cent values), not by row count.

    The crossing chunk is exactly the first with 2·ccum >= tot,
    i.e. the row with 2·ccum >= tot AND 2·(ccum − cwt) < tot
    (cumulative weight is monotone since quantities are positive),
    so the fence is one filter — no self-join. Within it,
    off + running_sum equals the global cumulative weight, so the
    selected price is identical to the direct form's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    chunk = F.floor(F.col("l_extendedprice") / 256).cast("long")
    wt = F.sum(F.col("l_quantity").cast("long"))
    cst = li.groupBy(
        F.col("l_returnflag").alias("flag"), chunk.alias("chunk")
    ).agg(wt.alias("cwt"))
    cwin = Window.partitionBy("flag").orderBy("chunk")
    totals = cst.groupBy("flag").agg(F.sum("cwt").alias("tot"))
    cc = cst.select(
        "flag", "chunk", "cwt", F.sum("cwt").over(cwin).alias("ccum")
    ).join(F.broadcast(totals), "flag")
    fence = cc.filter(
        (2 * F.col("ccum") >= F.col("tot"))
        & (2 * (F.col("ccum") - F.col("cwt")) < F.col("tot"))
    ).select(
        F.col("flag").alias("mflag"),
        F.col("chunk").alias("mchunk"),
        (F.col("ccum") - F.col("cwt")).alias("off"),
        "tot",
    )
    sl = li.join(
        F.broadcast(fence),
        (F.col("l_returnflag") == F.col("mflag")) & (chunk == F.col("mchunk")),
    )
    w2 = sl.groupBy(
        F.col("mflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        "off",
        "tot",
    ).agg(wt.alias("wt"))
    pwin = Window.partitionBy("flag").orderBy("price")
    cum = w2.select(
        "flag",
        "price",
        "tot",
        (F.col("off") + F.sum("wt").over(pwin)).alias("cw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tot"))
        .groupBy("flag")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.max("tot").cast("long").alias("total_weight"),
        )
    )


_HLL_SQL = """
WITH h AS (
  SELECT CAST(CONCAT('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM orders
),
reg AS (
  SELECT hv % 64 AS bucket,
         MAX(CASE WHEN hv // 64 = 0 THEN 55
                  ELSE 55 - length(ltrim(bin(hv // 64), '0')) END) AS rho
  FROM h GROUP BY hv % 64
),
allreg AS (
  SELECT i AS bucket, COALESCE(r.rho, 0) AS m
  FROM range(64) t(i) LEFT JOIN reg r ON r.bucket = i
),
z AS (
  SELECT ROUND(SUM(POWER(2.0, -m)), 12) AS zsum,
         SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v
  FROM allreg
),
est AS (
  SELECT CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / zsum
                   <= 2.5 * 64.0 AND v > 0
              THEN 64.0 * ln(64.0 / v)
              ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / zsum
         END AS e, v
  FROM z
)
SELECT CAST(64 AS BIGINT) AS n_registers,
       ROUND(e, 4) AS hll_estimate,
       (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS exact_distinct,
       ROUND((e - (SELECT COUNT(DISTINCT o_custkey) FROM orders))
             / (SELECT COUNT(DISTINCT o_custkey) FROM orders), 4) AS rel_error
FROM est
"""


@register("agg_hll_sketch", _HLL_SQL)
def agg_hll_sketch(spark, sf_dir):
    """HyperLogLog cardinality sketch built from scratch with a
    CROSS-ENGINE-DETERMINISTIC hash (md5 prefix → 60-bit integer,
    the minhash/CMS precedent): 64 registers, bucket = h mod 64,
    rho = leading-zero rank of the remaining 54 bits computed by
    exact bit-string arithmetic (55 − bit_length), harmonic-mean
    estimator with the standard small-range linear-counting
    correction. Both engines materialize the IDENTICAL register
    array, so the estimate matches to the last bit — the sketch
    itself is verified, not just its error bound. One
    register-keyed aggregation (64 groups), mergeable by MAX —
    the textbook distributed-cardinality shape."""
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    h = orders.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv")
    )
    w = (F.col("hv") / 64).cast("long")
    # Spark's bin() emits no leading zeros, so for w > 0 its length IS
    # the bit length (the w = 0 case is handled by the guard branch);
    # DuckDB's bin() is also unpadded, the oracle's ltrim is a no-op
    # kept for explicitness.
    rho = F.when(w == 0, F.lit(55)).otherwise(55 - F.length(F.bin(w)))
    reg = h.groupBy((F.col("hv") % 64).alias("bucket")).agg(F.max(rho).alias("rho"))
    allreg = (
        orders.sparkSession.range(64)
        .select(F.col("id").alias("bucket"))
        .join(reg, "bucket", "left")
        .select(F.coalesce(F.col("rho"), F.lit(0)).alias("m"))
    )
    z = allreg.agg(
        F.round(F.sum(F.pow(F.lit(2.0), -F.col("m"))), 12).alias("zsum"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("v"),
    )
    alpha_mm = (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
    raw = alpha_mm / F.col("zsum")
    e = F.when(
        (raw <= 2.5 * 64.0) & (F.col("v") > 0), 64.0 * F.log(64.0 / F.col("v"))
    ).otherwise(raw)
    exact = orders.agg(F.countDistinct("o_custkey").alias("x"))
    return (
        z.select(e.alias("e"))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(64).cast("long").alias("n_registers"),
            F.round("e", 4).alias("hll_estimate"),
            F.col("x").cast("long").alias("exact_distinct"),
            F.round((F.col("e") - F.col("x")) / F.col("x"), 4).alias("rel_error"),
        )
    )


def _hll_reg_sql(src_filter: str) -> str:
    """Register CTE body for the md5-derived 64-register HLL over
    o_custkey rows passing ``src_filter``."""
    return (
        "SELECT hv % 64 AS bucket,"
        " MAX(CASE WHEN hv // 64 = 0 THEN 55"
        "      ELSE 55 - length(ltrim(bin(hv // 64), '0')) END) AS rho"
        " FROM (SELECT CAST(CONCAT('0x', substr(md5(CAST(o_custkey AS VARCHAR)),"
        " 1, 15)) AS BIGINT) AS hv"
        f" FROM orders WHERE {src_filter}) h GROUP BY hv % 64"
    )


_HLLM_SQL = f"""
WITH r0 AS ({_hll_reg_sql('o_orderkey % 3 = 0')}),
r1 AS ({_hll_reg_sql('o_orderkey % 3 = 1')}),
r2 AS ({_hll_reg_sql('o_orderkey % 3 = 2')}),
direct AS ({_hll_reg_sql('TRUE')}),
merged AS (
  SELECT bucket, MAX(rho) AS rho
  FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2)
  GROUP BY bucket
),
cmp AS (
  SELECT COUNT(*) AS n_disagree
  FROM merged m FULL JOIN direct d ON d.bucket = m.bucket
  WHERE m.rho IS DISTINCT FROM d.rho
),
z AS (
  SELECT ROUND(SUM(POWER(2.0, -COALESCE(m.rho, 0))), 12) AS zsum
  FROM range(64) t(i) LEFT JOIN merged m ON m.bucket = i
)
SELECT CAST(64 AS BIGINT) AS n_registers,
       ROUND((0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / zsum, 4)
         AS merged_estimate,
       (SELECT n_disagree FROM cmp) AS registers_disagreeing
FROM z
"""


@register("agg_hll_merge", _HLLM_SQL)
def agg_hll_merge(spark, sf_dir):
    """HLL mergeability VERIFIED: three register sets built from
    disjoint thirds of orders max-merge into registers that must be
    IDENTICAL to the directly built whole-table registers
    (registers_disagreeing = 0) — the distributive property that
    lets each executor sketch its partition and a single reduce
    combine them at 100 TB. The merged estimate is recomputed from
    the merged registers (same estimator as agg_hll_sketch, no
    small-range branch needed at this cardinality)."""
    orders = _t(spark, sf_dir, "orders")

    def registers(src):
        h = src.select(
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
            )
            .cast("long")
            .alias("hv")
        )
        w = (F.col("hv") / 64).cast("long")
        rho = F.when(w == 0, F.lit(55)).otherwise(55 - F.length(F.bin(w)))
        return h.groupBy((F.col("hv") % 64).alias("bucket")).agg(
            F.max(rho).alias("rho")
        )

    parts = [
        registers(orders.filter(F.col("o_orderkey") % 3 == i)) for i in range(3)
    ]
    merged = (
        parts[0]
        .unionAll(parts[1])
        .unionAll(parts[2])
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    direct = registers(orders)
    disagree = (
        merged.alias("m")
        .join(direct.alias("d"), "bucket", "full")
        .filter(
            ~F.col("m.rho").eqNullSafe(F.col("d.rho"))
        )
        .count()
    )
    allreg = (
        orders.sparkSession.range(64)
        .select(F.col("id").alias("bucket"))
        .join(merged, "bucket", "left")
        .select(F.coalesce(F.col("rho"), F.lit(0)).alias("m"))
    )
    z = allreg.agg(
        F.round(F.sum(F.pow(F.lit(2.0), -F.col("m"))), 12).alias("zsum")
    )
    alpha_mm = (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
    return z.select(
        F.lit(64).cast("long").alias("n_registers"),
        F.round(alpha_mm / F.col("zsum"), 4).alias("merged_estimate"),
        F.lit(disagree).cast("long").alias("registers_disagreeing"),
    )


# ---------------------------------------------------------------------------
# Bitmap-exact distincts, encoding
# round-trips, and rescaled-range (Hurst) analysis.
#
# The bitmap aggregation is the Druid/ClickHouse exact-distinct trick
# as pure column algebra: pack user ids into 63-bit words with
# shift/bit_or/bit_count — integer-exact at any scale, mergeable by
# OR, and the query VERIFIES itself against COUNT(DISTINCT). Hurst R/S
# is the fractal-analysis window composition (chunked cumulative-range
# over std, log-log OLS slope across three chunk sizes).
# ---------------------------------------------------------------------------
_BITMAP_SQL = """
WITH words AS (
  SELECT event_type, user_id // 63 AS word,
         bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS bits
  FROM events GROUP BY 1, 2
),
bm AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(bit_count(bits)) AS BIGINT) AS bitmap_distinct
  FROM words GROUP BY 1
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT bm.event_type, bm.n_words, bm.bitmap_distinct, ex.exact_distinct,
       bm.bitmap_distinct = ex.exact_distinct AS bitmap_matches
FROM bm JOIN ex ON ex.event_type = bm.event_type
"""


@register("agg_bitmap_distinct", _BITMAP_SQL)
def agg_bitmap_distinct(spark, sf_dir):
    """Exact distinct users per event type via bitmap words: ids pack
    into 63-bit words (word = id div 63, bit = id mod 63 — bit 63
    avoided so the shift never overflows the signed range on either
    engine), OR-merged per (type, word), popcounted and summed. The
    bitmap is integer-exact and OR-mergeable — each executor can own
    word ranges and a single reduce combines them, the roaring-style
    distinct-count shape — and the query verifies itself against
    COUNT(DISTINCT) in the same result (bitmap_matches must be true
    on every row)."""
    ev = _t(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type", (F.col("user_id") / 63).cast("long").alias("word")
    ).agg(
        # python F.shiftleft only takes a literal bit count; the SQL
        # form accepts a column expression for it
        F.bit_or(F.expr("shiftleft(1L, cast(user_id % 63 as int))")).alias("bits")
    )
    bm = words.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.bit_count("bits")).cast("long").alias("bitmap_distinct"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return bm.join(ex, "event_type").select(
        "event_type",
        "n_words",
        "bitmap_distinct",
        "exact_distinct",
        (F.col("bitmap_distinct") == F.col("exact_distinct")).alias("bitmap_matches"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histograms and
# seasonality-adjusted anomaly flags.
#
# Equi-depth is the histogram optimizers actually keep (equal mass per
# bucket, boundaries at explicit ranks — no interpolation, the
# agg_weighted_median rule); the seasonal-anomaly query composes the
# hour-of-day profile with robust MAD thresholds, both sides from
# PINNED moments so the flag booleans carry no drift surface.
# ---------------------------------------------------------------------------
_NB = 8  # buckets


_EQUIDEPTH_SQL = f"""
WITH v AS (
  SELECT o_totalprice AS x,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
b AS (
  SELECT x, rn, n,
         CAST(LEAST(({_NB} * (rn - 1)) // n, {_NB} - 1) AS BIGINT) AS bucket
  FROM v
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(x) AS lo, MAX(x) AS hi
FROM b GROUP BY bucket
"""


@register("agg_histogram_equidepth", _EQUIDEPTH_SQL)
def agg_histogram_equidepth(spark, sf_dir):
    """Equi-depth (equal-mass) histogram of order totals in 8
    buckets: bucket = floor(B·(rank−1)/n) on the (value, key)-ranked
    rows — boundaries fall at EXPLICIT ranks, so bucket populations
    differ by at most one and the lo/hi fences are actual data
    values, never interpolated. This is the histogram a cost-based
    optimizer keeps (equal mass ⇒ equal selectivity resolution
    everywhere, unlike agg_histogram's equi-width bins that starve
    dense regions). One global rank window; at scale the same
    construction runs per partition-range with merged fences."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    v = orders.select(
        F.col("o_totalprice").alias("x"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    bucket = F.least(
        F.floor(_NB * (F.col("rn") - 1) / F.col("n")), F.lit(_NB - 1)
    ).cast("long")
    return (
        v.select("x", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# KMV sketch with set operations.
#
# agg_hll_sketch counts distincts; the K-Minimum-Values sketch
# (Bar-Yossef et al. 2002; the theta-sketch family's core) buys the
# operation HLL fundamentally cannot do: INTERSECTION estimates. Keep
# the K smallest hash values of a set; the K-th smallest h_(K)
# estimates the distinct count as (K-1)/h_(K) (hashes ~ Uniform(0,1)),
# and — the algebraic gift — the K smallest of a UNION are computable
# from the two sketches alone, while each union-sketch member's
# presence in both input sketches is an unbiased Jaccard sample:
#
#   J_est = |{h in U_K : h in S_A and h in S_B}| / K
#   |A u B|_est = (K-1)/theta,   |A n B|_est = J_est * |A u B|_est
#
# Everything is md5 ranks and integer membership — cross-engine exact
# by construction; the only floats are the final estimate divisions.
# ---------------------------------------------------------------------------
_K = 64

_H = (
    "CAST(CONCAT('0x', substr(md5(CAST({v} AS VARCHAR)), 1, 8)) AS BIGINT)"
)


_KMV_SQL = f"""
WITH sets AS (
  SELECT DISTINCT r.r_name AS region, l.l_partkey AS part
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey),
h AS (SELECT region, part, {_H.format(v='part')} AS hv FROM sets),
sk AS (
  SELECT region, hv
  FROM (SELECT region, hv,
               ROW_NUMBER() OVER (PARTITION BY region ORDER BY hv) AS r
        FROM h)
  WHERE r <= {_K}),
cand AS (
  SELECT a.region AS ra, b.region AS rb, a.hv AS hv, 1 AS in_a, 0 AS in_b
  FROM sk a JOIN (SELECT DISTINCT region FROM sk) b ON a.region < b.region
  UNION ALL
  SELECT a.region, b.region, b.hv, 0, 1
  FROM (SELECT DISTINCT region FROM sk) a
  JOIN sk b ON a.region < b.region),
merged AS (
  SELECT ra, rb, hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM cand GROUP BY 1, 2, 3),
uk AS (
  SELECT ra, rb, hv, in_a, in_b,
         ROW_NUMBER() OVER (PARTITION BY ra, rb ORDER BY hv) AS r
  FROM merged),
est AS (
  SELECT ra, rb,
         MAX(CASE WHEN r = {_K} THEN hv END) AS theta,
         SUM(CASE WHEN r <= {_K} AND in_a = 1 AND in_b = 1
                  THEN 1 ELSE 0 END) AS n_both
  FROM uk GROUP BY 1, 2)
SELECT e.ra AS region_a, e.rb AS region_b,
       ROUND(({_K} - 1) * 4294967296.0 / e.theta, 6) AS est_union,
       ROUND(CAST(e.n_both AS DOUBLE) / {_K}, 6) AS est_jaccard,
       ROUND(CAST(e.n_both AS DOUBLE) / {_K}
             * ({_K} - 1) * 4294967296.0 / e.theta, 6) AS est_intersection
FROM est e
"""


@register("agg_kmv_sketch", _KMV_SQL)
def agg_kmv_sketch(spark, sf_dir):
    """KMV sketches (K=64) of each region's distinct part set, and
    the pairwise union / Jaccard / intersection ESTIMATES computed
    from sketches alone — the set algebra HLL registers cannot
    express. Estimator accuracy against the exact sets (all ten
    region pairs within the K^-1/2-scale error band) and the
    union-sketch identity (K smallest of A u B are derivable from
    the two K-sketches) are pinned in tests/test_ext70.py.

    Scale shape: building sketches is one distinct + one rank window
    per set (at 100 TB: partial top-K per partition then merge —
    TakeOrdered, no full sort); every downstream estimate touches
    only 2K rows per pair. The exact CTE exists for the oracle's
    benefit at test scale; production keeps sketches only."""
    sets = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("r_name").alias("region"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    hv = F.conv(
        F.substring(F.md5(F.col("part").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = sets.select("region", "part", hv.alias("hv"))
    sk = (
        h.withColumn(
            "r",
            F.row_number().over(Window.partitionBy("region").orderBy("hv")),
        )
        .filter(F.col("r") <= _K)
        .select("region", "hv")
        .transform(materialize)
    )
    regions = sk.select("region").distinct()
    cand = (
        sk.alias("a")
        .join(
            regions.alias("b"),
            F.col("a.region") < F.col("b.region"),
        )
        .select(
            F.col("a.region").alias("ra"),
            F.col("b.region").alias("rb"),
            F.col("a.hv").alias("hv"),
            F.lit(1).alias("in_a"),
            F.lit(0).alias("in_b"),
        )
        .unionAll(
            regions.alias("a")
            .join(sk.alias("b"), F.col("a.region") < F.col("b.region"))
            .select(
                F.col("a.region").alias("ra"),
                F.col("b.region").alias("rb"),
                F.col("b.hv").alias("hv"),
                F.lit(0).alias("in_a"),
                F.lit(1).alias("in_b"),
            )
        )
    )
    merged = cand.groupBy("ra", "rb", "hv").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    uk = merged.withColumn(
        "r",
        F.row_number().over(Window.partitionBy("ra", "rb").orderBy("hv")),
    )
    est = uk.groupBy("ra", "rb").agg(
        F.max(F.when(F.col("r") == _K, F.col("hv"))).alias("theta"),
        F.sum(
            F.when(
                (F.col("r") <= _K) & (F.col("in_a") == 1) & (F.col("in_b") == 1),
                1,
            ).otherwise(0)
        ).alias("n_both"),
    )
    eu = (_K - 1) * F.lit(4294967296.0) / F.col("theta")
    ej = F.col("n_both").cast("double") / _K
    return est.select(
        F.col("ra").alias("region_a"),
        F.col("rb").alias("region_b"),
        F.round(eu, 6).alias("est_union"),
        F.round(ej, 6).alias("est_jaccard"),
        F.round(ej * eu, 6).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch — the streaming-frequency summary (Cormode &
# Muthukrishnan 2005): d independent hash rows of w counters; a key's
# frequency estimate is the MIN of its d counters, which can only
# OVERestimate (one-sided error <= eps*N with prob 1-delta). Built
# with the repo's seeded-md5 hash discipline so the estimate is
# cross-engine exact, and probed against the true counts so the
# no-underestimate guarantee is part of the hashed answer.
# ---------------------------------------------------------------------------
_CMS_D = 4    # hash rows

_CMS_W = 256  # counters per row; sketch state = 1024 cells total


_COUNTMIN_SKETCH_SQL = f"""
WITH rows_ AS (SELECT unnest(range(0, {_CMS_D})) AS r),
cells AS (
  SELECT r.r,
         CAST(CONCAT('0x', substr(md5(CONCAT(r.r, '|', o_custkey)), 1, 8))
              AS BIGINT) % {_CMS_W} AS b,
         COUNT(*) AS cnt
  FROM orders, rows_ r GROUP BY 1, 2),
probe AS (SELECT unnest(range(1, 21)) AS k),
exact AS (
  SELECT p.k, CAST(COUNT(o.o_orderkey) AS BIGINT) AS exact_cnt
  FROM probe p LEFT JOIN orders o ON o.o_custkey = p.k GROUP BY p.k),
pc AS (
  SELECT p.k, r.r,
         CAST(CONCAT('0x', substr(md5(CONCAT(r.r, '|', p.k)), 1, 8))
              AS BIGINT) % {_CMS_W} AS b
  FROM probe p, rows_ r),
est AS (
  SELECT pc.k, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
  FROM pc LEFT JOIN cells c ON c.r = pc.r AND c.b = pc.b
  GROUP BY pc.k)
SELECT e.k AS probe_key, x.exact_cnt, e.cms_est,
       e.cms_est >= x.exact_cnt AS no_underestimate
FROM est e JOIN exact x ON x.k = e.k
"""


@register("agg_countmin_sketch", _COUNTMIN_SKETCH_SQL)
def agg_countmin_sketch(spark, sf_dir):
    """Count-Min over orders.o_custkey (d=4, w=256), probed on keys
    1..20 against their exact counts.

    Scale shape: the build is ONE map pass that explodes each row to
    its d (row, bucket) cells and a groupBy over at most d*w = 1024
    cells — map-side combine collapses the stream to sketch-sized
    partials, so the shuffle carries counters, never keys (the whole
    point of a sketch at 100 TB). The probe side broadcasts the
    1024-cell sketch and the 20-key exact counts are a pushed-down
    semi-scan. The min-of-d-counters estimate can only overestimate;
    that guarantee is emitted as a column so a broken hash or a lost
    cell fails the value hash, not just an eyeball."""

    orders = _t(spark, sf_dir, "orders")

    def _d_cells(key):
        # the d (row, bucket) cells of one key, map-side: a literal
        # 4-element sequence explode — no broadcast join stage for
        # what is just a per-row unroll constant
        rs = F.sequence(F.lit(0), F.lit(_CMS_D - 1))
        return F.explode(
            F.transform(rs, lambda r: F.struct(
                r.cast("int").alias("r"),
                (
                    F.conv(
                        F.substring(F.md5(F.concat_ws("|", r, key)), 1, 8),
                        16,
                        10,
                    ).cast("long")
                    % _CMS_W
                ).alias("b"),
            ))
        )

    # spread the single-file scan before the d-fold md5 unroll: the
    # crypto hash is the expensive-map case functions/scale documents
    # (measured 1.2s serial → 0.69s spread at sf0.1); no-op at scale
    from stockify_spark.functions.scale import spread_small_scan

    cells = (
        spread_small_scan(orders.select("o_custkey"))
        .select(_d_cells(F.col("o_custkey")).alias("x"))
        .select("x.r", "x.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe = spark.range(1, 21).select(F.col("id").alias("k"))
    # exact counts of the 20 probe keys: filter BEFORE the scan so the
    # predicate reaches parquet (row-group min/max skipping) instead of
    # left-joining the probes against a second full orders pass, then
    # re-attach zero-count probes with a broadcast left join (the
    # grouped side is <= 20 rows of model state)
    probe_counts = (
        orders.select("o_custkey")
        .filter((F.col("o_custkey") >= 1) & (F.col("o_custkey") <= 20))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    exact = probe.join(F.broadcast(probe_counts), "k", "left").select(
        "k", F.coalesce(F.col("_cnt"), F.lit(0)).cast("long").alias("exact_cnt")
    )
    probe_cells = probe.select(
        "k", _d_cells(F.col("k")).alias("x")
    ).select("k", "x.r", "x.b")
    est = (
        probe_cells.join(F.broadcast(cells), ["r", "b"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )
    return (
        est.join(exact, "k")
        .select(
            F.col("k").alias("probe_key"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("no_underestimate"),
        )
    )
