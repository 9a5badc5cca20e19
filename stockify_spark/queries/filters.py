"""Filters, range scans, top-k and skylines: the reference's comparator
filters (stockify.cu:89-122) and what a scan-and-select engine adds to
them.

Reference-parity queries run against the star-schema tables
(TESTDATA.md) with ``lineitem`` standing in for the reference's
``stocks`` table: the reference's literals (volume >= 1e6 etc.,
stockify.cu:229,274) are re-chosen inside each column's actual range
so every comparator is exercised at selectivity strictly between
0 and 1 (FIXTURES.md), plus one empty-result probe.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from stockify_spark.operators import (
    compare,
    filter_rows,
    range_scan,
    selection_vector,
    top_k,
    top_k_per_group,
)
from stockify_spark.registry import register, _t


# ---------------------------------------------------------------------------
# F1-F6 — filters (SURVEY §2.2). Full comparator algebra + composition.
# ---------------------------------------------------------------------------
@register(
    "filter_ge",
    "SELECT * FROM lineitem WHERE l_quantity >= 25",
)
def filter_ge(spark, sf_dir):
    """F1-F5 shape: col >= literal (filterStocksBy*, stockify.cu:89-116)."""
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_quantity", "ge", 25.0))


@register(
    "filter_gt",
    "SELECT * FROM lineitem WHERE l_extendedprice > 50000",
)
def filter_gt(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_extendedprice", "gt", 50000.0))


@register(
    "filter_lt",
    "SELECT * FROM lineitem WHERE l_discount < 0.03",
)
def filter_lt(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_discount", "lt", 0.03))


@register(
    "filter_le",
    "SELECT * FROM lineitem WHERE l_quantity <= 10",
)
def filter_le(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_quantity", "le", 10.0))


@register(
    "filter_eq",
    "SELECT * FROM lineitem WHERE l_linenumber = 3",
)
def filter_eq(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_linenumber", "eq", 3))


@register(
    "filter_ne",
    "SELECT * FROM lineitem WHERE l_returnflag <> 'N'",
)
def filter_ne(spark, sf_dir):
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_returnflag", "ne", "N"))


@register(
    "filter_and",
    "SELECT * FROM lineitem WHERE l_quantity >= 25 AND l_discount >= 0.05",
)
def filter_and(spark, sf_dir):
    """F6: conjunctive filter (stockify.cu:119-122), generalized to
    n-ary via filter_rows."""
    return filter_rows(
        _t(spark, sf_dir, "lineitem"),
        compare("l_quantity", "ge", 25.0),
        compare("l_discount", "ge", 0.05),
    )


@register(
    "filter_or_not",
    "SELECT * FROM lineitem WHERE l_returnflag = 'R' OR NOT (l_quantity < 40)",
)
def filter_or_not(spark, sf_dir):
    """OR/NOT composition — declared intent at stockify.cu:78-81."""
    df = _t(spark, sf_dir, "lineitem")
    return df.filter(compare("l_returnflag", "eq", "R") | ~compare("l_quantity", "lt", 40.0))


@register(
    "filter_empty",
    "SELECT * FROM lineitem WHERE l_extendedprice >= 1e9",
)
def filter_empty(spark, sf_dir):
    """Empty-result probe (FIXTURES.md: selectivity-0 edge)."""
    return filter_rows(_t(spark, sf_dir, "lineitem"), compare("l_extendedprice", "ge", 1e9))


@register(
    "filter_selection_vector",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_quantity >= 25 AS flag FROM lineitem",
)
def filter_selection_vector(spark, sf_dir):
    """The reference's uncompacted bool-per-row output surface
    (bool* results, stockify.cu:89-92)."""
    df = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return selection_vector(df, compare("l_quantity", "ge", 25.0))


# ---------------------------------------------------------------------------
# X1-X5 — sort / top-k / range scan (SURVEY §2.5, §4.3).
# ---------------------------------------------------------------------------
@register(
    "topk_orders",
    "SELECT o_orderkey, o_totalprice FROM orders"
    " ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
def topk_orders(spark, sf_dir):
    """ORDER BY + LIMIT → TakeOrderedAndProject (per-partition heaps,
    k-row driver merge; no global sort at any scale)."""
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return top_k(df, 100, F.col("o_totalprice").desc(), F.col("o_orderkey"))


@register(
    "topk_per_group",
    "SELECT * FROM (SELECT o_orderkey, o_orderpriority, o_totalprice,"
    " ROW_NUMBER() OVER (PARTITION BY o_orderpriority"
    " ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3",
)
def topk_per_group_q(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    return top_k_per_group(
        df,
        ["o_orderpriority"],
        3,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )


@register(
    "range_scan_price",
    "SELECT * FROM lineitem WHERE l_extendedprice >= 95000",
)
def range_scan_price(spark, sf_dir):
    """Experiment-3 probe shape (volume >= 1.8e6, stockify.cu:674) on
    the stand-in column; over a sorted layout this is row-group-
    skipped (bench measures the ratio, BASELINE.md E2)."""
    return range_scan(_t(spark, sf_dir, "lineitem"), "l_extendedprice", 95000.0)


@register(
    "filter_between_in_like",
    "SELECT l_orderkey, l_linenumber FROM lineitem"
    " WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')"
    " AND l_linestatus LIKE 'F%'",
)
def filter_between_in_like(spark, sf_dir):
    """BETWEEN / IN / LIKE — the remaining predicate forms beyond the
    comparator algebra of F1-F6; all three push down to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
    ).select("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# Scale-form skyline — the multi-partition proof for
# analytics_skyline's global-order flag, same construction as
# window_partitioned_parity / bucketed_prefix_sum: per-bucket local
# pass + a carry table over bucket boundaries.
# ---------------------------------------------------------------------------
@register(
    "skyline_partitioned_parity",
    # identical result spec as analytics_skyline: the oracle IS the
    # global-order formulation; the Spark side computes it bucketed
    "WITH pp AS (SELECT l_extendedprice AS price, MIN(l_quantity) AS qty"
    "  FROM lineitem GROUP BY 1),"
    " r AS (SELECT price, qty, MIN(qty) OVER"
    "   (ORDER BY price DESC"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above"
    "  FROM pp)"
    " SELECT price, qty FROM r"
    " WHERE best_above IS NULL OR qty < best_above",
)
def skyline_partitioned_parity(spark, sf_dir):
    """analytics_skyline WITHOUT the single-partition global window:
    prices are range-bucketed (fixed width, so bucket order == price
    order); each bucket computes its local strictly-preceding min in
    parallel; a |buckets|-row carry table (min qty of every strictly
    higher bucket — the only global pass, over bucket AGGREGATES)
    broadcasts back, and the survivor test combines local + carried
    minima. The oracle is the global-order SQL — hash-equality
    proves the decomposition. Same pattern as
    window_partitioned_parity / bucketed_prefix_sum (SURVEY §7.4.1):
    this is how every 'global ORDER BY' analytic in this repo
    actually runs at 100 TB."""
    pp = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_extendedprice").alias("price"))
        .agg(F.min("l_quantity").alias("qty"))
        .withColumn("bucket", F.floor(F.col("price") / 5000.0).cast("long"))
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy(F.col("price").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = pp.withColumn("local_best", F.min("qty").over(wloc))
    bucket_mins = pp.groupBy("bucket").agg(F.min("qty").alias("bmin"))
    # carry: min over strictly HIGHER buckets — an exclusive-frame
    # window over the tiny bucket-aggregate table (the two-phase
    # scan's reduction step, |buckets| rows)
    wcarry = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bucket_mins.withColumn("carried", F.min("bmin").over(wcarry)).select(
        "bucket", "carried"
    )
    joined = local.join(F.broadcast(carry), "bucket")
    best_above = F.least(
        F.coalesce("local_best", F.lit(float("inf"))),
        F.coalesce("carried", F.lit(float("inf"))),
    )
    return joined.filter(F.col("qty") < best_above).select("price", "qty")
