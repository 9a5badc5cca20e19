"""Joins, set operations and subqueries: equi, semi, anti, as-of,
interval and temporal joins, and decorrelated subqueries.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from stockify_spark.llm.dedup import fuzzy_set_join
from stockify_spark.operators.aggregates import group_agg
from stockify_spark.operators.joins import anti_join, asof_join, dim_join, fact_join, semi_join
from stockify_spark.operators.setops import except_, intersect, union_all
from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import _scratch_table


# ---------------------------------------------------------------------------
# Joins (SURVEY §7.6.2)
# ---------------------------------------------------------------------------
@register(
    "join_dim",
    "SELECT n_nationkey, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey",
)
def join_dim(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return dim_join(nation, region, nation["n_regionkey"] == region["r_regionkey"]).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_fact_agg",
    "SELECT o_orderpriority, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
    " COUNT(*) AS n_items FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
    " GROUP BY o_orderpriority",
)
def join_fact_agg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
    return group_agg(
        joined,
        ["o_orderpriority"],
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_semi",
    "SELECT c_custkey, c_name FROM customer WHERE EXISTS"
    " (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def join_semi(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return semi_join(customer, orders, customer["c_custkey"] == orders["o_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS"
    " (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def join_anti(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return anti_join(customer, orders, customer["c_custkey"] == orders["o_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "join_star",
    "SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " GROUP BY r_name",
)
def join_star(spark, sf_dir):
    """Star-schema rollup: one shuffle join on the fact key, then
    broadcast hash joins for every dimension hop — the 100 TB plan is
    scan(lineitem) → SMJ orders → BHJ×3 → partial agg, no dimension
    shuffle anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        fact_join(li, orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), F.col("o_custkey") == customer["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), F.col("n_regionkey") == region["r_regionkey"])
    )
    return group_agg(
        joined,
        ["r_name"],
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


@register(
    "join_asof",
    "SELECT p.event_id, p.user_id, p.value, c.value AS asof_value"
    " FROM (SELECT * FROM events WHERE event_type = 'purchase') p"
    " ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c"
    " ON p.user_id = c.user_id AND p.ts >= c.ts",
)
def join_asof(spark, sf_dir):
    """As-of join (each purchase ↔ latest prior click per user) —
    composed from union + partitioned window (operators/joins.py);
    the oracle uses DuckDB's native ASOF JOIN."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(purchases, clicks, key="user_id", time_col="ts", right_value_cols=["value"])
    return out.select("event_id", "user_id", "value", "asof_value")


# ---------------------------------------------------------------------------
# Set operations (SURVEY §7.6.3)
# ---------------------------------------------------------------------------

@register(
    "setop_union_all",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'"
    " UNION ALL SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'",
)
def setop_union_all(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    f = orders.filter(F.col("o_orderstatus") == "F").drop("o_orderstatus")
    o = orders.filter(F.col("o_orderstatus") == "O").drop("o_orderstatus")
    return union_all(f, o)


@register(
    "setop_intersect",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    " INTERSECT SELECT o_custkey FROM orders",
)
def setop_intersect(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = _t(spark, sf_dir, "orders").select("o_custkey")
    return intersect(a, b)


@register(
    "setop_except",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
    " EXCEPT SELECT o_custkey FROM orders",
)
def setop_except(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = _t(spark, sf_dir, "orders").select("o_custkey")
    return except_(a, b)


# ---------------------------------------------------------------------------
# Subqueries (decorrelated the way Catalyst
# does it — joins, not per-row probes), TPC-H query shapes, range/rank
# window frames, regexp functions, multiset set ops, sliding/session
# event-time windows with exact SQL oracles, and the probabilistic /
# multimodal operators (rows-only checks, recall proven in tests).
#
# Same determinism conventions as registry.py.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Subqueries (SURVEY §2.6 — absent from the reference). Each is the
# decorrelated plan Catalyst itself would produce: scalar subquery →
# broadcast of a 1-row aggregate; IN → left-semi join; correlated
# aggregate → groupBy + equi-join. At 100 TB that means zero per-row
# subquery execution and one bounded broadcast.
# ---------------------------------------------------------------------------
@register(
    "subquery_scalar",
    "SELECT p_partkey, p_retailprice FROM part"
    " WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)",
)
def subquery_scalar(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    threshold = part.agg(F.avg("p_retailprice").alias("_avg_price"))
    return (
        part.crossJoin(F.broadcast(threshold))
        .filter(F.col("p_retailprice") > F.col("_avg_price"))
        .select("p_partkey", "p_retailprice")
    )


@register(
    "subquery_in",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
    " WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
)
def subquery_in(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return semi_join(orders, F.broadcast(building), orders["o_custkey"] == F.col("c_custkey")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "subquery_correlated",
    "SELECT l1.l_orderkey, l1.l_partkey, l1.l_quantity FROM lineitem l1"
    " WHERE l1.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2"
    " WHERE l2.l_partkey = l1.l_partkey)",
)
def subquery_correlated(spark, sf_dir):
    """TPC-H Q17 shape. Decorrelated: one pass computes per-part avg
    (partial/final agg), joined back on the part key — the correlated
    probe becomes a single shuffle keyed on l_partkey."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_threshold")
    )
    return (
        fact_join(li, per_part, li["l_partkey"] == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_threshold"))
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


# ---------------------------------------------------------------------------
# Multiset set operations (§7.6.3 continued: bag semantics).
# ---------------------------------------------------------------------------
@register(
    "setop_intersect_all",
    "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'"
    " INTERSECT ALL SELECT l_partkey FROM lineitem WHERE l_quantity >= 45",
)
def setop_intersect_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    return a.intersectAll(b)


@register(
    "setop_except_all",
    "SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'"
    " EXCEPT ALL SELECT l_partkey FROM lineitem WHERE l_quantity >= 45",
)
def setop_except_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    b = li.filter(F.col("l_quantity") >= 45).select("l_partkey")
    return a.exceptAll(b)


@register(
    "setop_union_by_name",
    "SELECT c_custkey AS entity_key, c_acctbal AS balance FROM customer"
    " UNION ALL SELECT s_suppkey, s_acctbal FROM supplier",
)
def setop_union_by_name(spark, sf_dir):
    """unionByName: schema aligned by column NAME (the two inputs
    project in different physical orders)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"), F.col("c_acctbal").alias("balance")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_acctbal").alias("balance"), F.col("s_suppkey").alias("entity_key")
    )
    return cust.unionByName(supp)


# ---------------------------------------------------------------------------
# Remaining join types and filter predicates (completing the algebra).
# ---------------------------------------------------------------------------
@register(
    "join_left_outer",
    "SELECT c_custkey, o_orderkey, o_totalprice FROM customer"
    " LEFT JOIN (SELECT * FROM orders WHERE o_totalprice >= 400000) o"
    " ON c_custkey = o_custkey",
)
def join_left_outer(spark, sf_dir):
    """Left outer: unmatched customers survive with null order cols —
    same broadcast shape as the inner dim join (null-extension is free
    in the hash join)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 400000)
    return cust.join(
        F.broadcast(big), cust["c_custkey"] == big["o_custkey"], "left"
    ).select("c_custkey", "o_orderkey", "o_totalprice")


@register(
    "join_full_outer",
    "SELECT a.k AS k_a, b.k AS k_b FROM"
    " (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F') a"
    " FULL OUTER JOIN"
    " (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O') b"
    " ON a.k = b.k",
)
def join_full_outer(spark, sf_dir):
    """Full outer join (shuffle on both sides — broadcast can't
    null-extend the broadcast side, so Catalyst plans SMJ)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    return a.join(b, a["k"] == b["k"], "full").select(
        a["k"].alias("k_a"), b["k"].alias("k_b")
    )


@register(
    "join_cross",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark, sf_dir):
    """Explicit cartesian product — legitimate only when one side is
    tiny (broadcast nested loop); the planner requires the explicit
    crossJoin call, which is the API's scale guardrail."""
    region = _t(spark, sf_dir, "region").select("r_name")
    nation = _t(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(F.broadcast(nation))


@register(
    "setop_union_distinct",
    "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"
    " UNION SELECT o_custkey FROM orders WHERE o_totalprice >= 300000",
)
def setop_union_distinct(spark, sf_dir):
    """UNION (set semantics) = union all + distinct — one hash shuffle
    on the row, vs UNION ALL's zero."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.filter(F.col("o_totalprice") >= 300000).select("o_custkey")
    return a.union(b).distinct()


@register(
    "join_salted",
    # salting is result-invariant: the oracle is the PLAIN join, so
    # the hash-exact match proves the skew rewrite changes the plan,
    # never the answer.
    "SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice, o_orderstatus"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE o_orderstatus = 'F'",
)
def join_salted(spark, sf_dir):
    """Skew-resistant fact⋈fact join (operators.joins.salted_join):
    left rows take a deterministic salt, right rows replicate once
    per salt value, the shuffle key becomes (key, salt) — a key
    holding 30% of the table spreads over `salt` tasks instead of one
    straggler. For when AQE's runtime skew split isn't available
    (e.g. a fixed partitioning is reused downstream)."""
    from stockify_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            F.col("o_orderkey").alias("l_orderkey"), "o_totalprice", "o_orderstatus"
        )
    )
    return salted_join(li, orders, "l_orderkey", salt=8)


@register(
    "join_range_bucketed",
    # point-in-interval join; intervals derive from exact MINs (no
    # summation-order noise), and the bucketed candidate pass ends in
    # an exact filter, so results hash-match the native range join.
    "WITH bands AS (SELECT p_brand, MIN(p_retailprice) AS lo,"
    " MIN(p_retailprice) + 500 AS hi FROM part GROUP BY p_brand)"
    " SELECT p.p_partkey, b.p_brand AS band_brand"
    " FROM part p JOIN bands b"
    " ON p.p_retailprice >= b.lo AND p.p_retailprice <= b.hi",
)
def join_range_bucketed(spark, sf_dir):
    """Point-in-interval join via bucketization (operators.joins.
    range_join_bucketed): each interval explodes into the width/
    bucket_width buckets it covers, candidates come from a plain
    equi-join on bucket id, then the exact predicate filters. Turns
    the O(n·m) non-equi join into a shuffle whose fan-out is bounded
    by interval width — the standard scale trick when intervals are
    short relative to the domain (DuckDB meanwhile runs its native
    IEJoin: two engines, two algorithms, one result)."""
    from stockify_spark.operators.joins import range_join_bucketed

    part = _t(spark, sf_dir, "part")
    bands = part.groupBy(F.col("p_brand").alias("band_brand")).agg(
        F.min("p_retailprice").alias("lo"),
        (F.min("p_retailprice") + 500).alias("hi"),
    )
    joined = range_join_bucketed(
        part.select("p_partkey", "p_retailprice"),
        bands,
        left_point="p_retailprice",
        right_lo="lo",
        right_hi="hi",
        bucket_width=250.0,
    )
    return joined.select("p_partkey", "band_brand")


# ---------------------------------------------------------------------------
# join_fuzzy_parts — entity-resolution R-S set-similarity join
# ---------------------------------------------------------------------------
_FUZZY_SQL = """
WITH names AS (SELECT p_name, COUNT(*)::BIGINT AS c FROM part GROUP BY p_name),
r AS (SELECT p_name, c, list_distinct(string_split(p_name, ' ')) AS t FROM names
      WHERE strpos('02468ace', substr(md5(p_name), 1, 1)) > 0),
s AS (SELECT p_name, c, list_distinct(string_split(p_name, ' ')) AS t FROM names
      WHERE strpos('02468ace', substr(md5(p_name), 1, 1)) = 0),
j AS (SELECT r.p_name AS a, s.p_name AS b, (r.c * s.c)::BIGINT AS np,
             len(list_intersect(r.t, s.t))::DOUBLE AS i,
             (len(r.t) + len(s.t))::DOUBLE AS n
      FROM r, s)
SELECT a AS name_a, b AS name_b, ROUND(i / (n - i), 6) AS jaccard, np AS n_pairs
FROM j WHERE i / (n - i) >= 0.3
"""


@register("join_fuzzy_parts", _FUZZY_SQL)
def join_fuzzy_parts(spark, sf_dir):
    """Entity-resolution join on token-set Jaccard >= 0.3 between two
    hash-split halves of the part-name CATALOG (llm/dedup.
    fuzzy_set_join), with each match weighted by the number of raw
    part pairs it represents.

    Scale design — canonicalize, then fuzzy-join the distinct side:
    the raw-row fuzzy join is output-quadratic whenever names repeat
    (at sf0.1 it emits ~1.5M pairs for 64 distinct names), so the
    scalable plan aggregates to distinct names first (one shuffle,
    cardinality = |vocabulary| not |rows|), runs the prefix-filtered
    R-S similarity join on that small side, and carries the group
    sizes so the raw pair count is reported without materializing the
    pairs. The oracle is the brute-force distinct-name cross join."""
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("c"))
    tagged = names.withColumn(
        "_even", F.substring(F.md5("p_name"), 1, 1).isin(*"02468ace")
    ).withColumn("toks", F.array_distinct(F.split("p_name", " ")))
    left = tagged.filter(F.col("_even"))
    right = tagged.filter(~F.col("_even"))
    matched = fuzzy_set_join(left, right, "p_name", "toks", threshold=0.3)
    ca = left.select(F.col("p_name").alias("id_a"), F.col("c").alias("_ca"))
    cb = right.select(F.col("p_name").alias("id_b"), F.col("c").alias("_cb"))
    return (
        matched.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            "jaccard",
            (F.col("_ca") * F.col("_cb")).alias("n_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# join_asof_tolerance — staleness-bounded as-of join
# ---------------------------------------------------------------------------
_ASOF_TOL_SQL = """
SELECT p.event_id, p.user_id, p.value,
       CASE WHEN epoch_ms(p.ts) - epoch_ms(c.ts) <= 600000 THEN c.value END AS asof_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("join_asof_tolerance", _ASOF_TOL_SQL)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness bound: each purchase takes the
    latest prior click per user ONLY if it is at most 10 minutes old
    — the trade-quote alignment form where stale quotes must not
    leak. Same union + carry-forward window as asof_join (one shuffle
    per side, no range cross-product). The right row's (value, ts)
    ride as ONE carried struct so they fill atomically — independent
    per-column last(ignorenulls) fills would pair an older row's
    non-null value with the newest row's timestamp whenever the
    newest value is NULL (the match must be the latest ROW, exactly
    like the oracle's ASOF JOIN). Clicks are pre-deduped per
    (user, ts) to the max struct so equal-timestamp rows carry a
    deterministic winner in both engines' window orders. Tolerance
    is a map-side CASE after the fill."""
    from stockify_spark.operators.joins import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max(
                F.struct(F.unix_millis("ts").alias("c_ms"), F.col("value").alias("v"))
            ).alias("q")
        )
    )
    out = asof_join(
        purchases, clicks, key="user_id", time_col="ts", right_value_cols=["q"]
    )
    tol_ok = F.unix_millis("ts") - F.col("asof_q.c_ms") <= 600000
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.when(tol_ok, F.col("asof_q.v")).alias("asof_value"),
    )


# ---------------------------------------------------------------------------
# join_bloom_prune — explicit Bloom-filter semi-join (operators/bloom)
# ---------------------------------------------------------------------------
_BLOOM_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""


@register("join_bloom_prune", _BLOOM_SQL)
def join_bloom_prune(spark, sf_dir):
    """Semi-join of orders against BUILDING-segment customers with an
    explicit Bloom filter (operators/bloom) in front of the exact
    join: the bitmap (8 KiB, m=2^16, k=3) is built distributed from
    the dim keys, collected as bounded model state, and inlined into
    the fact scan's filter — so at 100 TB the overwhelming majority
    of non-matching fact rows die map-side, BEFORE the join shuffle,
    for the cost of two integer hashes per row. False positives are
    removed by the exact semi-join that follows (the filter is an
    optimization, never a semantics change — same contract as
    Catalyst's InjectRuntimeFilter, made explicit and sizable)."""
    from stockify_spark.operators.bloom import bloom_build, bloom_might_contain

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bitmap = bloom_build(cust, "c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        bloom_might_contain(bitmap, "o_custkey")
    )
    return (
        orders.join(
            cust.select("c_custkey"),
            orders["o_custkey"] == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# join_typo_names — edit-distance-1 name pairs via pigeonhole banding
# ---------------------------------------------------------------------------
_TYPO_SQL = """
SELECT a.s_name AS name_a, b.s_name AS name_b
FROM supplier a JOIN supplier b ON a.s_name < b.s_name
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


@register("join_typo_names", _TYPO_SQL)
def join_typo_names(spark, sf_dir):
    """All supplier-name pairs within Levenshtein distance 1, WITHOUT
    the all-pairs cross join the oracle runs — FastSS deletion-
    neighborhood banding: each name emits itself plus every
    one-character-deleted variant as band keys. Any two strings
    within edit distance 1 share a key (substitution at position p →
    both deletion variants at p coincide; insert/delete → the
    shorter string IS a deletion variant of the longer; equality →
    the identity key), so an equi-join on the key set has perfect
    recall, then one exact levenshtein() verifies. The first cut of
    this operator banded on string HALVES — degenerate on exactly
    this kind of corpus, where every name shares the long constant
    prefix ('Supplier#…'): the prefix half put ALL names in one
    bucket and the 'band' join silently became the all-pairs join it
    was supposed to avoid. Deletion keys don't have that failure
    mode: a bucket collects only names identical everywhere but one
    position, so bucket width is bounded by the alphabet at that
    position (~10 here), independent of shared prefixes. Cost is a
    (L+1)× key explode — the classic FastSS space-for-candidates
    trade, linear in corpus size. A pair sharing several keys
    (names agreeing after multiple deletions) would duplicate, so
    candidates dedup in the same groupBy that feeds the verify."""
    sup = _t(spark, sf_dir, "supplier").select("s_name")
    # keys: the name itself (slot -1) + each single-deletion variant
    keys = F.array_union(
        F.array(F.col("s_name")),
        F.transform(
            F.sequence(F.lit(1), F.length("s_name")),
            lambda p: F.concat(
                F.col("s_name").substr(F.lit(1), p - 1),
                F.col("s_name").substr(
                    p + 1, F.length("s_name")
                ),
            ),
        ),
    )
    bands = sup.select("s_name", F.explode(keys).alias("k"))
    a = bands.select(F.col("s_name").alias("name_a"), "k")
    b = bands.select(F.col("s_name").alias("name_b"), "k")
    cand = (
        a.join(b, "k")
        .filter(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count(F.lit(1)).alias("_nkeys"))
    )
    return cand.filter(
        F.levenshtein("name_a", "name_b") <= 1
    ).select("name_a", "name_b")


# ---------------------------------------------------------------------------
# Temporal dimension joins, bivariate
# rolling statistics, model evaluation, and peak detection.
#
# The point-in-time SCD2 join is the canonical warehouse temporal
# pattern (facts see the dimension version valid at event time — a
# broadcast range join at any scale). Rolling correlation exploits the
# ramp's integer-valued doubles: every windowed moment sum stays below
# 2^53 and is EXACT, so the correlation formula is deterministic with
# no pins beyond display rounding. The confusion-matrix query EVALUATES
# another registry operator (ml_naive_bayes) — composition as a
# first-class pattern — and peak detection is the stateless
# local-extremum window shape.
# ---------------------------------------------------------------------------
_SCD2_DIM = """
dim AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         DATE '1990-01-01' AS valid_from,
         CASE WHEN c_custkey % 10 < 3 THEN DATE '1995-06-01' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_acctbal + 100.0,
         DATE '1995-06-01', CAST(NULL AS DATE)
  FROM customer WHERE c_custkey % 10 < 3
)
"""


_PIT_SQL = f"""
WITH {_SCD2_DIM}
SELECT d.c_mktsegment AS segment, COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue,
       ROUND(SUM(d.c_acctbal), 2) AS acctbal_at_order
FROM orders o
JOIN dim d ON d.c_custkey = o.o_custkey
          AND CAST(o.o_orderdate AS DATE) >= d.valid_from
          AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
GROUP BY 1
"""


@register("join_scd2_pointintime", _PIT_SQL)
def join_scd2_pointintime(spark, sf_dir):
    """Point-in-time join against a type-2 slowly-changing dimension:
    every order joins the customer VERSION valid at its order date
    (valid_from <= date < valid_to, open rows unbounded). Keys
    %10 < 3 carry two versions split at 1995-06-01 with the balance
    bumped +100 — so the summed balance-at-order-time proves the
    temporal matching, not just the key equi-join. Scale shape: the
    dimension (versions) broadcasts; the validity predicate rides
    the hash join as a residual filter — no range-explosion. Same
    dimension construction as merge_scd2_customers
    (operators/merge.merge_scd2)."""
    cust = _t(spark, sf_dir, "customer")
    dim_open = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.when(F.col("c_custkey") % 10 < 3, F.lit("1995-06-01").cast("date")).alias(
            "valid_to"
        ),
    )
    dim_new = (
        cust.filter(F.col("c_custkey") % 10 < 3)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit("1995-06-01").cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
    )
    dim = dim_open.unionAll(dim_new)
    orders = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    j = orders.join(
        F.broadcast(dim),
        (F.col("c_custkey") == F.col("o_custkey"))
        & (od >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (od < F.col("valid_to"))),
    )
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.sum("c_acctbal"), 2).alias("acctbal_at_order"),
    )


# ---------------------------------------------------------------------------
# Allen's interval algebra.
#
# Allen (1983) proved any two intervals stand in exactly one of 13
# qualitative relations (before/meets/overlaps/starts/during/finishes,
# their inverses, and equals) — the vocabulary temporal reasoning,
# process mining, and interval joins are specified in. The engine op:
# classify every (promise-window, ship-window) pair per lineitem into
# its relation and census the corpus. Pure date comparisons — a CASE
# ladder over four endpoints, integer-exact, embarrassingly parallel —
# and the MUTUAL EXCLUSIVITY of the 13 cases is a checkable property:
# every pair classifies exactly once.
#
# Intervals: promise window [orderdate, orderdate + orderkey%60 days]
# vs ship window [shipdate, shipdate + linenumber*7 days] — the
# endpoints are key-derived (the synthetic schema carries no
# commit/receipt dates), spanning all 13 relations at assorted
# frequencies; "did we ship within/around the promise" rendered as
# temporal algebra.
# ---------------------------------------------------------------------------
def _case_sql(a1, a2, b1, b2) -> str:
    return f"""CASE
  WHEN {a2} < {b1} THEN 'before'
  WHEN {b2} < {a1} THEN 'after'
  WHEN {a2} = {b1} AND {a1} < {b1} AND {b2} > {b1} THEN 'meets'
  WHEN {b2} = {a1} AND {b1} < {a1} AND {a2} > {a1} THEN 'met_by'
  WHEN {a1} = {b1} AND {a2} = {b2} THEN 'equals'
  WHEN {a1} = {b1} AND {a2} < {b2} THEN 'starts'
  WHEN {a1} = {b1} AND {a2} > {b2} THEN 'started_by'
  WHEN {a2} = {b2} AND {a1} > {b1} THEN 'finishes'
  WHEN {a2} = {b2} AND {a1} < {b1} THEN 'finished_by'
  WHEN {a1} > {b1} AND {a2} < {b2} THEN 'during'
  WHEN {a1} < {b1} AND {a2} > {b2} THEN 'contains'
  WHEN {a1} < {b1} AND {a2} >= {b1} AND {a2} < {b2} THEN 'overlaps'
  ELSE 'overlapped_by' END"""


_ALLEN_SQL = f"""
WITH iv AS (
  SELECT o.o_orderdate AS a1,
         o.o_orderdate + INTERVAL ((o.o_orderkey % 60)) DAY AS a2,
         l.l_shipdate AS b1,
         l.l_shipdate + INTERVAL ((l.l_linenumber * 7)) DAY AS b2
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT {_case_sql('a1', 'a2', 'b1', 'b2')} AS relation,
       CAST(COUNT(*) AS BIGINT) AS n
FROM iv GROUP BY 1
"""


@register("join_allen_relations", _ALLEN_SQL)
def join_allen_relations(spark, sf_dir):
    """Census of Allen relations between each lineitem's commit
    window [orderdate, commitdate] and ship window [shipdate,
    receiptdate]. The CASE ladder's exhaustiveness and mutual
    exclusivity (each pair lands in exactly one of the 13) is pinned
    in tests/test_ext73.py against an independent per-pair
    classifier plus an exhaustive sweep of all endpoint orderings.

    Scale shape: one broadcast-free equi-join (orders x lineitem on
    the fact key — the tpch join layout) and one 13-cell aggregate;
    the classification is a per-row expression inside whole-stage
    codegen. The same ladder IS the predicate vocabulary for
    interval joins (join_range_bucketed's banding generalizes to any
    subset of relations)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderdate").alias("a1"),
        F.date_add(
            "o_orderdate", (F.col("l_orderkey") % 60).cast("int")
        ).alias("a2"),
        F.col("l_shipdate").alias("b1"),
        F.date_add(
            "l_shipdate", (F.col("l_linenumber") * 7).cast("int")
        ).alias("b2"),
    )
    a1, a2, b1, b2 = F.col("a1"), F.col("a2"), F.col("b1"), F.col("b2")
    rel = (
        F.when(a2 < b1, "before")
        .when(b2 < a1, "after")
        .when((a2 == b1) & (a1 < b1) & (b2 > b1), "meets")
        .when((b2 == a1) & (b1 < a1) & (a2 > a1), "met_by")
        .when((a1 == b1) & (a2 == b2), "equals")
        .when((a1 == b1) & (a2 < b2), "starts")
        .when((a1 == b1) & (a2 > b2), "started_by")
        .when((a2 == b2) & (a1 > b1), "finishes")
        .when((a2 == b2) & (a1 < b1), "finished_by")
        .when((a1 > b1) & (a2 < b2), "during")
        .when((a1 < b1) & (a2 > b2), "contains")
        .when((a1 < b1) & (a2 >= b1) & (a2 < b2), "overlaps")
        .otherwise("overlapped_by")
    )
    return iv.groupBy(rel.alias("relation")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Nearest-direction as-of join.
#
# The asof family's third direction (pandas merge_asof: backward,
# forward, NEAREST): each purchase aligns to the temporally closest
# click per user within a tolerance — the sensor-fusion/trade-quote
# form when causality is not one-sided. Built from the same
# union + carry machinery as join_asof/_tolerance (one shuffle per
# side, never a range cross-product): the backward candidate is the
# running last-click struct, the forward candidate the running
# first-click struct from the other end, and NEAREST is a map-side
# argmin with the documented tie rule (equal gaps -> the earlier
# click).
# ---------------------------------------------------------------------------
_TOL_S = 600  # seconds


_NEAREST_SQL = f"""
WITH clicks AS (
  SELECT user_id, MAX(event_id) AS c_id, ts AS c_ts
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
purch AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
u AS (
  SELECT user_id, NULL AS p_id, NULL AS p_ts, c_id, c_ts, c_ts AS o_ts,
         0 AS is_p
  FROM clicks
  UNION ALL
  SELECT user_id, event_id, ts, NULL, NULL, ts, 1 FROM purch),
f AS (
  SELECT user_id, p_id, p_ts, is_p,
         MAX(CASE WHEN is_p = 0 THEN struct_pack(t := c_ts, i := c_id) END)
           OVER (PARTITION BY user_id ORDER BY o_ts, is_p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
         MIN(CASE WHEN is_p = 0 THEN struct_pack(t := c_ts, i := c_id) END)
           OVER (PARTITION BY user_id ORDER BY o_ts, is_p
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd
  FROM u),
pick AS (
  SELECT p_id AS event_id, user_id, p_ts,
         CASE
           WHEN back IS NULL AND fwd IS NULL THEN NULL
           WHEN fwd IS NULL THEN back
           WHEN back IS NULL THEN fwd
           WHEN epoch_ms(p_ts) - epoch_ms(back.t)
                <= epoch_ms(fwd.t) - epoch_ms(p_ts) THEN back
           ELSE fwd
         END AS ch
  FROM f WHERE is_p = 1)
SELECT event_id, user_id,
       ch.i AS click_id,
       CAST(abs(epoch_ms(p_ts) - epoch_ms(ch.t)) / 1000.0 AS DOUBLE)
         AS gap_s,
       CASE WHEN ch.t <= p_ts THEN 'backward' ELSE 'forward' END AS direction
FROM pick
WHERE ch IS NOT NULL
  AND abs(epoch_ms(p_ts) - epoch_ms(ch.t)) <= {_TOL_S} * 1000
"""


@register("join_asof_nearest", _NEAREST_SQL)
def join_asof_nearest(spark, sf_dir):
    """Nearest click per purchase within 10 minutes, either
    direction, ties to the earlier (backward) click: clicks
    pre-deduped per (user, ts) to the max event_id (the
    asof_tolerance convention), one union + two cumulative struct
    fills (backward max-carry, forward min-carry — struct order is
    (ts, id), so the carries pick the latest-prior and
    earliest-following rows atomically), then a map-side argmin.
    Equivalence to a brute per-purchase scan over all of the user's
    clicks, and the tie rule, are pinned in tests/test_ext87.py.

    Scale shape: one shuffle per side into the union window —
    identical cost to the backward-only asof; NEAREST adds only the
    mirrored carry in the same window pass."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("c_id"))
        .select("user_id", F.col("ts").alias("c_ts"), "c_id")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    u = clicks.select(
        "user_id",
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.struct(F.col("c_ts").alias("t"), F.col("c_id").alias("i")).alias(
            "c"
        ),
        F.col("c_ts").alias("o_ts"),
        F.lit(0).alias("is_p"),
    ).unionAll(
        purch.select(
            "user_id",
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
            F.lit(None)
            .cast("struct<t:timestamp,i:long>")
            .alias("c"),
            F.col("ts").alias("o_ts"),
            F.lit(1).alias("is_p"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("o_ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("o_ts", "is_p")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    f = u.select(
        "user_id",
        "p_id",
        "p_ts",
        "is_p",
        F.max("c").over(wb).alias("back"),
        F.min("c").over(wf).alias("fwd"),
    ).filter(F.col("is_p") == 1)
    back_gap = F.unix_millis("p_ts") - F.unix_millis(F.col("back.t"))
    fwd_gap = F.unix_millis(F.col("fwd.t")) - F.unix_millis("p_ts")
    ch = (
        F.when(F.col("back").isNull() & F.col("fwd").isNull(), F.lit(None))
        .when(F.col("fwd").isNull(), F.col("back"))
        .when(F.col("back").isNull(), F.col("fwd"))
        .when(back_gap <= fwd_gap, F.col("back"))
        .otherwise(F.col("fwd"))
    )
    pick = f.select(
        F.col("p_id").alias("event_id"),
        "user_id",
        "p_ts",
        ch.alias("ch"),
    ).filter(F.col("ch").isNotNull())
    gap_ms = F.abs(F.unix_millis("p_ts") - F.unix_millis(F.col("ch.t")))
    return pick.filter(gap_ms <= _TOL_S * 1000).select(
        "event_id",
        "user_id",
        F.col("ch.i").alias("click_id"),
        (gap_ms / 1000.0).cast("double").alias("gap_s"),
        F.when(F.col("ch.t") <= F.col("p_ts"), "backward")
        .otherwise("forward")
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning (r9 verdict #6): fact ⋈ dim over the
# hive-partitioned layout with the selective filter on the DIM side —
# the fact scan's partition list is pruned at RUNTIME from the dim
# subquery (plan pinned in tests/test_plans.py::test_dpp).
# ---------------------------------------------------------------------------
_DPP_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS p_date,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events
WHERE day(CAST(date_trunc('day', ts) AS DATE)) <= 7
GROUP BY 1
"""


@register("join_dpp_dates", _DPP_SQL)
def join_dpp_dates(spark, sf_dir):
    """Events written hive-partitioned by day (30 directories at this
    vintage); the dim is a (day, day-of-month) table whose filter
    ``dom <= 7`` reaches the FACT scan only through the join — static
    pruning is impossible, so Catalyst inserts a dynamic-pruning
    subquery: the dim is evaluated first (reused broadcast) and only
    the ~7 matching partition DIRECTORIES are listed and scanned. The
    build asserts the runtime plan carries dynamicpruningexpression
    in PartitionFilters.

    At 100 TB this is the difference between scanning a week and
    scanning three years — DPP is the partition-level sibling of the
    log-level stats skipping the txlog queries pin."""
    import os

    from stockify_spark.sources.io import load_table, write_date_partitioned

    def build(root: str) -> None:
        write_date_partitioned(
            load_table(spark, sf_dir, "events"),
            os.path.join(root, "fact"),
            "ts",
            "day",
        )

    root = _scratch_table(sf_dir, "dpp", build)
    fact = spark.read.parquet(os.path.join(root, "fact"))
    # bounded collect: one row per PARTITION DIRECTORY (~30 at this
    # vintage; at 100 TB a date dim is a catalog table, same shape)
    days = [r["p_date"] for r in fact.select("p_date").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, d.day) for d in sorted(days)], "p_date date, dom int"
    )
    out = (
        fact.join(F.broadcast(dim.filter(F.col("dom") <= 7)), "p_date")
        .groupBy("p_date")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower(), plan  # the pruning is real
    return out
