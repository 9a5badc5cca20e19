"""TPC-H queries over the star-schema tables, with PARTSUPP derived from
``sources/fixtures`` (the testdata has no partsupp table).
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window as W

from stockify_spark.operators.aggregates import group_agg
from stockify_spark.operators.joins import dim_join, fact_join, semi_join
from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import (
    derive_partsupp,
    PS_COST_MOD,
    PS_COST_MUL_PART,
    PS_COST_MUL_SUPP,
    PS_QTY_MOD,
    PS_QTY_MUL_PART,
    PS_QTY_MUL_SUPP,
    ps_supplycost_expr,
)


# ---------------------------------------------------------------------------
# TPC-H query shapes (multi-operator pipelines on the star schema).
# ---------------------------------------------------------------------------
@register(
    "tpch_q6",
    "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'"
    " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24",
)
def tpch_q6(spark, sf_dir):
    """TPC-H Q6: every predicate is scan-pushable (timestamp range +
    two numeric ranges), so the 100 TB plan is a row-group-pruned scan
    feeding one partial/final agg — no shuffle of data rows at all."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "tpch_q3",
    "SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
    " o_orderdate, o_orderpriority FROM customer"
    " JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-03-15'"
    " AND l_shipdate > TIMESTAMP '1997-03-15'"
    " GROUP BY l_orderkey, o_orderdate, o_orderpriority"
    " ORDER BY revenue DESC, l_orderkey LIMIT 10",
)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3: filtered dims broadcast, one fact shuffle on the
    order key, grouped agg, then TakeOrderedAndProject for the top-10
    (per-partition heaps — never a global sort)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    # orders ⋈ broadcast(filtered customers) is dim-shaped; the fact
    # join shuffles lineitem once on l_orderkey.
    joined = fact_join(
        li,
        dim_join(orders, cust, orders["o_custkey"] == cust["c_custkey"]),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    agg = group_agg(
        joined,
        ["l_orderkey", "o_orderdate", "o_orderpriority"],
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )
    return agg.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    ).limit(10)


@register(
    "tpch_q14",
    "SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'"
    " THEN l_extendedprice * (1 - l_discount) ELSE 0 END)"
    " / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'",
)
def tpch_q14(spark, sf_dir):
    """TPC-H Q14: conditional aggregation over a broadcast dim join —
    the filter prunes lineitem at the scan, part is broadcast, one
    partial/final agg produces the ratio."""
    from stockify_spark.operators.joins import dim_join

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    joined = dim_join(li, part, li["l_partkey"] == part["p_partkey"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue")
    )


@register(
    "tpch_q18",
    "SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, total_qty FROM orders"
    " JOIN (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty FROM lineitem"
    " GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) big"
    " ON o_orderkey = big.l_orderkey",
)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): grouped HAVING subquery
    joined back to orders — the aggregate side shrinks to the few
    qualifying keys before the join, so the join input is tiny."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_raw_qty"))
        # HAVING on the unrounded aggregate; round only the output
        .filter(F.col("_raw_qty") > 250)
        .select("l_orderkey", F.round("_raw_qty", 2).alias("total_qty"))
    )
    return orders.join(big, orders["o_orderkey"] == big["l_orderkey"]).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty"
    )


@register(
    "tpch_q5",
    "SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'"
    " AND o_orderdate < TIMESTAMP '1997-01-01'"
    " GROUP BY n_name",
)
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): supplier/nation/region and
    the customer dim broadcast; lineitem joins the year of orders
    WITHOUT a forced broadcast — a year of orders is fact-sized at
    scale, so the choice between broadcast and shuffle join belongs
    to AQE's runtime statistics, not a hint that would pin an
    executor-OOM plan at 100×."""
    from stockify_spark.operators.joins import fact_join

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == supp["s_suppkey"])
            & (F.col("c_nationkey") == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"])
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "tpch_q10",
    # revenue is summed in DECIMAL (exact, order-independent — a
    # double sum hit a half-cent rounding boundary where Spark and
    # DuckDB tie-break differently), ORDERED on the exact decimal,
    # and only the FINAL projected value is cast to DOUBLE: DuckDB's
    # pandas path degrades DECIMAL output to float64, so a DECIMAL
    # output column hash-mismatches the driver on identical values.
    # decimal->double is correctly rounded on both engines.
    "SELECT c_custkey, c_name, CAST(revenue AS DOUBLE) AS revenue, c_acctbal, n_name"
    " FROM (SELECT c_custkey, c_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(30,8)) AS revenue,"
    " c_acctbal, n_name FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'"
    " AND l_returnflag = 'R'"
    " GROUP BY c_custkey, c_name, c_acctbal, n_name"
    " ORDER BY revenue DESC, c_custkey LIMIT 20) t",
)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): returned lineitems only,
    quarter of orders, grouped by customer, top-20 by revenue via
    TakeOrderedAndProject."""
    from stockify_spark.operators.joins import fact_join

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # no forced broadcast on orders (fact-sized at scale) — AQE picks
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(rev).cast("decimal(30,8)").alias("revenue")
    )
    # top-20 on the exact decimal; only the projected value goes double
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("revenue").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@register(
    "tpch_q12",
    # SUM over integers is HUGEINT in DuckDB, which degrades to
    # float64 in the driver's pandas path while Spark emits int64 —
    # CAST AS BIGINT keeps the counters hash-type-stable.
    "SELECT l_linestatus,"
    " CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " AS BIGINT) AS high_line_count,"
    " CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " AS BIGINT) AS low_line_count"
    " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'"
    " GROUP BY l_linestatus",
)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (priority counting): conditional counts fold
    the CASE into the partial aggregate — one scan-pruned pass, one
    group shuffle of two counters per status."""
    from stockify_spark.operators.joins import fact_join

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    joined = fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
    )


@register(
    "tpch_q4",
    # adapted: our lineitem has no commitdate/receiptdate, so the
    # EXISTS probes late-shipping lines (l_shipdate > o_orderdate)
    "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders"
    " WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'"
    " AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey"
    " AND l_shipdate > o_orderdate)"
    " GROUP BY o_orderpriority",
)
def tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): EXISTS → left-semi
    join, then a tiny grouped count. The semi join shuffles only the
    probe keys, never lineitem payload columns."""
    from stockify_spark.operators.joins import semi_join

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    qualified = semi_join(
        orders,
        li,
        (orders["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > orders["o_orderdate"]),
    )
    return qualified.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q19",
    # adapted to our part schema: disjunctive brand/size/quantity arms
    "SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE (p_brand = 'BRAND_1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)"
    " OR (p_brand = 'BRAND_2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)"
    " OR (p_brand = 'BRAND_3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)",
)
def tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    the OR-of-ANDs evaluates after a single broadcast join — Catalyst
    extracts the common l_quantity >= 10 bound and pushes it to the
    lineitem scan."""
    from stockify_spark.operators.joins import dim_join

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = dim_join(li, part, li["l_partkey"] == part["p_partkey"])
    arm = lambda b, lo, hi, q: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(lo, hi)
        & (F.col("l_quantity") >= q)
    )
    return joined.filter(
        arm("BRAND_1", 1, 15, 10) | arm("BRAND_2", 10, 30, 20) | arm("BRAND_3", 20, 50, 30)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


@register(
    "tpch_q13",
    "SELECT c_count, COUNT(*) AS custdist FROM"
    " (SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer"
    " LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey)"
    " GROUP BY c_count",
)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer distribution): double aggregation — a
    per-customer order count (left outer join keeps zero-order
    customers; COUNT of a nullable key skips the null-extended rows),
    then a histogram over the counts. Second shuffle is O(distinct
    counts) — tiny."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy(cust["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q8",
    # adapted market share: NATION_1's share of ASIA-customer revenue
    # per order year
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,"
    " ROUND(SUM(CASE WHEN n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount)"
    " ELSE 0 END) / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' GROUP BY year(o_orderdate)",
)
def tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (market share): one fact shuffle, broadcast
    dimension chain, conditional-numerator ratio per year."""
    from stockify_spark.operators.joins import fact_join

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"])
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("n_name") == "NATION_1", rev).otherwise(0.0)) / F.sum(rev), 6
        ).alias("mkt_share")
    )


@register(
    "tpch_q22",
    # adapted: rich customers (above the positive-balance average) with
    # no high-value order, counted per market segment
    "WITH threshold AS (SELECT AVG(c_acctbal) AS t FROM customer WHERE c_acctbal > 0)"
    " SELECT c_mktsegment, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal"
    " FROM customer, threshold WHERE c_acctbal > t"
    " AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
    " AND o_totalprice > 200000)"
    " GROUP BY c_mktsegment",
)
def tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global-sales opportunity): scalar-subquery
    threshold (1-row broadcast) + anti join against high-value orders
    + grouped count — three subquery forms composed in one plan."""
    from stockify_spark.operators.joins import anti_join

    cust = _t(spark, sf_dir, "customer")
    threshold = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_t"))
    rich = cust.crossJoin(F.broadcast(threshold)).filter(F.col("c_acctbal") > F.col("_t"))
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    no_big = anti_join(rich, big_orders, rich["c_custkey"] == big_orders["o_custkey"])
    return no_big.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Remaining feasible TPC-H shapes. The star schema has no partsupp
# table (TESTDATA.md), so Q2/Q9/Q11/Q16/Q20 cannot be posed; Q7/Q15/
# Q17/Q21 below complete every partsupp-free query. Where a TPC-H
# predicate needs a missing column, the substitution is noted.
# ---------------------------------------------------------------------------
@register(
    "tpch_q7",
    # volume accumulates in DECIMAL (exact, order-independent — a
    # ROUND(SUM(double),2) sits on the half-cent boundary class that
    # bit tpch_q10); the final value casts to DOUBLE, which is
    # correctly rounded on both engines and pandas-path-stable.
    "SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue"
    " FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    " CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,"
    " CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume"
    " FROM supplier JOIN lineitem ON s_suppkey = l_suppkey"
    " JOIN orders ON o_orderkey = l_orderkey"
    " JOIN customer ON c_custkey = o_custkey"
    " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    " WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    " OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    " AND l_shipdate >= TIMESTAMP '1995-01-01'"
    " AND l_shipdate < TIMESTAMP '1997-01-01') shipping"
    " GROUP BY supp_nation, cust_nation, l_year",
)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations): one fact
    shuffle on the order key; orders stays shuffle-side (fact-sized),
    customer/supplier/nation broadcast. The bidirectional nation pair
    filters AFTER the nation joins — a two-row broadcast each, so
    Catalyst folds the OR into the joined stream."""
    from stockify_spark.operators.joins import fact_join

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2key"))
        .filter(pair)
    )
    volume = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(F.sum(volume).cast("double").alias("revenue"))


@register(
    "tpch_q15",
    # revenue summed in DECIMAL: exact and order-independent, so the
    # argmax supplier (revenue = MAX(revenue)) is boundary-safe across
    # engines (a double sum could tie-break differently). Only the
    # FINAL projection casts to DOUBLE — a DECIMAL output column
    # degrades to float64 in DuckDB's pandas path and hash-mismatches
    # the driver on identical values.
    "WITH revenue AS (SELECT l_suppkey AS supplier_no,"
    " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(30,8)) AS total_revenue"
    " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'"
    " AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey)"
    " SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue"
    " FROM supplier JOIN revenue ON s_suppkey = supplier_no"
    " WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)",
)
def tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the revenue 'view' is one partial/
    final aggregate of a quarter of lineitem; its global max is a
    1-row broadcast back onto itself; supplier is a broadcast dim.
    Revenue accumulates in DECIMAL so the max-equality is exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).cast("decimal(30,8)").alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("_max"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("_max"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q17",
    # part has no p_container (TESTDATA.md): the brand predicate alone
    # scopes the parts, the correlated 0.2*avg(quantity) is faithful.
    # l_quantity is integral, so each engine's AVG is the same exact
    # integer sum over one division — the < boundary cannot flip.
    # the numerator accumulates in DECIMAL and casts the exact sum to
    # DOUBLE before the /7.0 — one deterministic conversion plus one
    # IEEE division on both engines, no ROUND(double) boundary.
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0"
    " AS avg_yearly FROM lineitem"
    " JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#4'"
    " AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2"
    " WHERE l2.l_partkey = p_partkey)",
)
def tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    scalar subquery decorrelates into a per-part aggregate joined
    back on partkey — one partial/final agg over lineitem + one
    broadcast of the brand-filtered part dim; no per-row re-scan,
    which is what the correlated form would naively cost."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_cap")
    )
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(per_part, li["l_partkey"] == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
    )
    return joined.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0).alias(
            "avg_yearly"
        )
    )


@register(
    "tpch_q21",
    # lineitem has no commit/receipt dates (TESTDATA.md): the "late"
    # predicate substitutes l_returnflag = 'R'. The SHAPE is faithful:
    # multi-supplier orders where l1's supplier is the ONLY failing
    # one — EXISTS another supplier's lineitem, NOT EXISTS another
    # supplier's failing lineitem.
    "SELECT s_name, COUNT(*) AS numwait FROM supplier"
    " JOIN lineitem l1 ON s_suppkey = l1.l_suppkey"
    " JOIN orders ON o_orderkey = l1.l_orderkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " WHERE o_orderstatus = 'F' AND n_name IN ('NATION_1','NATION_2','NATION_3')"
    " AND l1.l_returnflag = 'R'"
    " AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey"
    " AND l2.l_suppkey <> l1.l_suppkey)"
    " AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey"
    " AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')"
    " GROUP BY s_name",
)
def tpch_q21(spark, sf_dir):
    """TPC-H Q21 (waiting suppliers). Spark-first decorrelation: the
    EXISTS/NOT-EXISTS pair over lineitem collapses into ONE per-order
    aggregate — distinct suppliers and distinct failing suppliers —
    joined back on the order key. l1's supplier failing plus
    n_failing = 1 plus n_suppliers >= 2 is exactly 'the only failing
    supplier in a multi-supplier order'. Two shuffles on l_orderkey
    (agg + join) replace two self-joins of the fact table."""
    from stockify_spark.operators.joins import fact_join

    li = _t(spark, sf_dir, "lineitem")
    ostats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("_n_failed"),
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    joined = (
        fact_join(l1, orders, l1["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), l1["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .join(
            ostats.withColumnRenamed("l_orderkey", "_ok"),
            F.col("l_orderkey") == F.col("_ok"),
        )
        .filter((F.col("_n_supp") >= 2) & (F.col("_n_failed") == 1))
    )
    return joined.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


# ---------------------------------------------------------------------------
# TPC-H completion: Q2 / Q9 / Q11 / Q16 / Q20 over a derived PARTSUPP.
#
# The driver's testdata has no partsupp table, which blocked these five
# queries (COVERAGE.md documented the gap). They are unblocked by a
# DETERMINISTIC reconstruction (sources/fixtures.derive_partsupp):
# distinct observed (l_partkey, l_suppkey) pairs + integer-hash
# availqty/supplycost — identical in Spark and in the oracle's CTE, so
# the differential check is exact. Query shapes follow the public
# TPC-H spec, with columns adapted to the driver schema (no p_mfgr /
# s_address / s_comment; Q16's excluded-supplier set uses negative
# account balances instead of comment scraping to preserve the NOT IN
# shape).
# ---------------------------------------------------------------------------

# The oracle CTE interpolates the SAME constants the Spark-side
# expressions use (sources/fixtures.py) — one definition, two engines.
_PS_CTE = f"""WITH partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         ((ps_partkey*{PS_QTY_MUL_PART} + ps_suppkey*{PS_QTY_MUL_SUPP}) % {PS_QTY_MOD} + 1)::BIGINT AS ps_availqty,
         ((ps_partkey*{PS_COST_MUL_PART} + ps_suppkey*{PS_COST_MUL_SUPP}) % {PS_COST_MOD})::DOUBLE / 100.0 + 1.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem)
)"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier per part in a region
# ---------------------------------------------------------------------------

_Q2_SQL = _PS_CTE + """,
eu AS (
  SELECT ps.ps_partkey, ps.ps_supplycost, s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
),
mc AS (SELECT ps_partkey, MIN(ps_supplycost) AS min_cost FROM eu GROUP BY ps_partkey)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand
FROM part p
JOIN eu e ON e.ps_partkey = p.p_partkey
JOIN mc ON mc.ps_partkey = p.p_partkey AND e.ps_supplycost = mc.min_cost
WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'LARGE'
"""


@register("tpch_q2", _Q2_SQL)
def tpch_q2(spark, sf_dir):
    """Q2 (public TPC-H spec): cheapest EUROPE supplier for each
    size-10..20 LARGE part. The region-restricted catalog aggregates to a
    per-part min, re-joined on cost equality (exact: supplycost is an
    integer-derived double). Dims broadcast; the only data-sized
    shuffle is the partsupp distinct."""
    ps = derive_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    )
    # per-part minimum as a WINDOW over the single eu pass instead of
    # a groupBy + self-join back: the catalog is referenced once, so
    # no materialization barrier (persist/checkpoint) is needed at
    # all, and the only data-sized exchanges are the partsupp
    # distinct and the ps_partkey window shuffle
    w = W.partitionBy("ps_partkey")
    cheapest = eu.withColumn("min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("min_cost")
    )
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    return (
        F.broadcast(part)
        .join(cheapest, part.p_partkey == cheapest.ps_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit by nation and year
# ---------------------------------------------------------------------------

_Q9_SQL = _PS_CTE + """
SELECT n.n_name AS nation, YEAR(o.o_orderdate)::BIGINT AS o_year,
       ROUND(SUM(l.l_extendedprice*(1-l.l_discount) - ps.ps_supplycost*l.l_quantity), 2) AS profit
FROM lineitem l
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
"""


@register("tpch_q9", _Q9_SQL)
def tpch_q9(spark, sf_dir):
    """Q9: profit on red parts by supplier nation and order year —
    the classic many-join star over the fact table.

    The partsupp join is INLINED: the derived catalog's supplycost is
    a pure integer-hash function of (partkey, suppkey), and its key
    domain is exactly lineitem's distinct pairs — so joining the fact
    back to it on the composite key attaches f(l_partkey, l_suppkey)
    with multiplicity 1. Computing the function directly on the fact
    row is algebraically identical and deletes a second lineitem
    scan, the distinct shuffle, and a composite-key shuffle join —
    the generated-column pushdown any optimizer with catalog
    knowledge would make. Q2/Q11/Q16/Q20 keep the real derived
    relation (they aggregate at pair granularity, where the distinct
    is load-bearing). part/supplier/nation broadcast; orders joins
    on the fact's orderkey (AQE picks the strategy at real sizes)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ps_supplycost", ps_supplycost_expr("l_partkey", "l_suppkey")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    joined = (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == F.col("s_nationkey"))
        .join(o, o.o_orderkey == li.l_orderkey)
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification
# ---------------------------------------------------------------------------

_Q11_SQL = _PS_CTE + """,
nat AS (SELECT ps.ps_partkey, ps.ps_supplycost * ps.ps_availqty AS v
        FROM partsupp ps JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        WHERE s.s_nationkey = 3),
tot AS (SELECT SUM(v) AS t FROM nat)
SELECT ps_partkey, ROUND(SUM(v), 2) AS value
FROM nat, tot GROUP BY ps_partkey, t HAVING SUM(v) > 0.001 * t
"""


@register("tpch_q11", _Q11_SQL)
def tpch_q11(spark, sf_dir):
    """Q11: parts whose nation-3 stock value exceeds 0.1% of the
    nation's total — a grouped aggregate gated on a global aggregate.
    The global total is one scalar (broadcast by construction); no
    second scan of partsupp at scale (the grouped table re-aggregates
    map-side)."""
    ps = derive_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    nat = ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
    )
    grouped = nat.groupBy("ps_partkey").agg(F.sum("v").alias("sv"))
    total = grouped.agg(F.sum("sv").alias("t"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("sv") > 0.001 * F.col("t"))
        .select("ps_partkey", F.round("sv", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# Q16 — supplier count by part attributes (NOT IN exclusion)
# ---------------------------------------------------------------------------

_Q16_SQL = _PS_CTE + """
SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT ps.ps_suppkey)::BIGINT AS supplier_cnt
FROM partsupp ps JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'SMALL%'
  AND p.p_size IN (1, 4, 7, 10, 14, 19, 25, 45)
  AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("tpch_q16", _Q16_SQL)
def tpch_q16(spark, sf_dir):
    """Q16: distinct-supplier counts per (brand, type, size) slice,
    excluding a supplier denylist — the spec's comment-scraped set is
    adapted to negative account balances (the schema has no
    s_comment) to preserve the NOT IN anti-join shape."""
    ps = derive_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("SMALL%")
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 25, 45)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("ps_suppkey")
    )
    return (
        ps.join(bad, "ps_suppkey", "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers with excess stock of red parts
# ---------------------------------------------------------------------------

_Q20_SQL = _PS_CTE + """,
shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
excess AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM partsupp ps
  JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE '%red%'
  LEFT JOIN shipped sh ON sh.l_partkey = ps.ps_partkey AND sh.l_suppkey = ps.ps_suppkey
  WHERE ps.ps_availqty > 0.5 * COALESCE(sh.qty, 0)
)
SELECT s.s_name, s.s_suppkey
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_2'
WHERE s.s_suppkey IN (SELECT ps_suppkey FROM excess)
"""


@register("tpch_q20", _Q20_SQL)
def tpch_q20(spark, sf_dir):
    """Q20: NATION_2 suppliers holding more than half a year's
    shipments of any red part. The spec's correlated scalar subquery
    is decorrelated into a pre-aggregated (partkey, suppkey) shipment
    table left-joined to the catalog — the form Catalyst would
    produce, written explicitly so the shuffle keys are visible."""
    li = _t(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    ps = derive_partsupp(spark, sf_dir)
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    excess = (
        ps.join(F.broadcast(red), ps.ps_partkey == F.col("p_partkey"))
        .join(
            shipped,
            (shipped.l_partkey == ps.ps_partkey)
            & (shipped.l_suppkey == ps.ps_suppkey),
            "left",
        )
        .filter(F.col("ps_availqty") > 0.5 * F.coalesce(F.col("qty"), F.lit(0.0)))
        .select("ps_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "leftsemi")
        .select("s_name", "s_suppkey")
    )
