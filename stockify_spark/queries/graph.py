"""Graph queries over the residue graphs derived from lineitem: degrees,
triangles, k-core, PageRank, HITS, label propagation and centralities.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from stockify_spark.functions.scale import materialize
from stockify_spark.registry import register, _t


# ---------------------------------------------------------------------------
# The residue graph of lineitem, shared by every query below except
# graph_pagerank and graph_tree_depth. Nodes are key residues
# (l_orderkey % m, l_partkey % m); a pair with distinct ends is an
# edge when the md5 coin of its sorted ends, the first `digits` hex
# digits of md5("lo:hi") mod 100, lands under `pct`. The coin is
# symmetric in the ends, so a directed edge survives exactly when its
# reverse does. Two fixtures are in use: m=80, 4 digits, 12 % (the
# triangle family) and m=400, 8 digits, 8 % (the k-core, walk and
# centrality family).
# ---------------------------------------------------------------------------
def _residue_edges(spark, sf_dir, m: int, digits: int, pct: int, directed: bool = False):
    """Distinct edges as (a, b) with a < b, or as directed (s, d) pairs
    in lineitem's order->part direction. Not materialized: each caller
    places its own checkpoint."""
    x = (F.col("l_orderkey") % m).cast("long")
    y = (F.col("l_partkey") % m).cast("long")
    lo, hi = F.least(x, y), F.greatest(x, y)
    coin = F.conv(
        F.substring(F.md5(F.concat(lo.cast("string"), F.lit(":"), hi.cast("string"))), 1, digits),
        16,
        10,
    ).cast("long")
    ends = [x.alias("s"), y.alias("d")] if directed else [lo.alias("a"), hi.alias("b")]
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((x != y) & (coin % 100 < pct)).select(*ends).distinct()


def _residue_edges_sql(m: int, digits: int, pct: int, directed: bool = False) -> str:
    """The SQL face of _residue_edges: a SELECT of the same edge list."""
    x, y = f"l_orderkey % {m}", f"l_partkey % {m}"
    u, v = ("s", "d") if directed else ("a", "b")
    pu, pv = (x, y) if directed else (f"LEAST({x}, {y})", f"GREATEST({x}, {y})")
    return (
        f"SELECT {u}, {v} FROM (SELECT DISTINCT {pu} AS {u}, {pv} AS {v}"
        f" FROM lineitem WHERE {x} <> {y})"
        f" WHERE CAST(CONCAT('0x', substr(md5(CONCAT(CAST(LEAST({u}, {v}) AS VARCHAR), ':',"
        f" CAST(GREATEST({u}, {v}) AS VARCHAR))), 1, {digits})) AS BIGINT) % 100 < {pct}"
    )


# ---------------------------------------------------------------------------
# Iterative graph algorithm #2: weighted PageRank on the nation trade
# graph (operators/graph.py). The oracle is a DuckDB recursive CTE
# running the identical recurrence; both engines round the final
# ranks to 9 decimals (per-destination sums add ≤25 doubles in
# engine-defined order — ~1e-15 drift vs a 5e-10 rounding boundary).
# ---------------------------------------------------------------------------
@register(
    "graph_pagerank",
    "WITH RECURSIVE"
    " e AS (SELECT c_nationkey AS src, s_nationkey AS dst,"
    "  CAST(COUNT(*) AS DOUBLE) AS w"
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    "  JOIN customer ON o_custkey = c_custkey"
    "  JOIN supplier ON l_suppkey = s_suppkey"
    "  GROUP BY 1, 2),"
    " ew AS (SELECT e.*, ow.ow FROM e JOIN"
    "  (SELECT src, SUM(w) AS ow FROM e GROUP BY src) ow USING (src)),"
    " n AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM e),"
    " pr(it, node, rank) AS ("
    "  SELECT 0, src, 1.0 / (SELECT n FROM n)"
    "   FROM (SELECT DISTINCT src FROM e)"
    "  UNION ALL"
    "  SELECT it + 1, dst,"
    "   (1.0 - 0.85) / (SELECT n FROM n) + 0.85 * SUM(rank * w / ow)"
    "  FROM pr JOIN ew ON ew.src = pr.node"
    "  WHERE it < 8 GROUP BY it + 1, dst)"
    " SELECT CAST(node AS BIGINT) AS nation, ROUND(rank, 9) AS rank"
    " FROM pr WHERE it = 8",
)
def graph_pagerank(spark, sf_dir):
    """Weighted PageRank over the customer-nation → supplier-nation
    trade graph: edge weights are lineitem counts aggregated from
    the 4-way fact join (the data-sized work — one shuffle per join
    plus the edge aggregation), then 8 fixed-point rounds over the
    25-node edge list (operators/graph.pagerank, materialized
    lineage truncation). The dense trade graph gives every nation
    in- and out-edges, so the inner-join recurrence is standard
    uniform-teleport PageRank."""
    from stockify_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    ranks = pagerank(edges, iters=8, damping=0.85)
    return ranks.select(
        F.col("node").cast("long").alias("nation"), F.round("rank", 9).alias("rank")
    )


# ---------------------------------------------------------------------------
# Triangle enumeration (operators/graph.triangles). The graph is
# data-derived but engine-portable: nodes are key residues, and the
# edge set is thinned by an md5 coin so the graph is sparse
# (≈12% of pairs) — dense graphs make triangle counting trivially
# cubic-complete and hide the orientation algorithm's point.
# ---------------------------------------------------------------------------
@register(
    "graph_triangles",
    f"WITH e AS ({_residue_edges_sql(80, 4, 12)})"
    " SELECT e1.a AS x1, e1.b AS x2, e2.b AS x3"
    " FROM e e1 JOIN e e2 ON e2.a = e1.b"
    " JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b",
)
def graph_triangles(spark, sf_dir):
    """Triangle enumeration on an md5-thinned residue graph via
    degree orientation (operators/graph.triangles — O(m^1.5) wedge
    bound vs the oracle's naive a<b<c triple join). Output is one
    id-sorted (x1, x2, x3) row per triangle, exactly once."""
    from stockify_spark.operators.graph import triangles

    return triangles(_residue_edges(spark, sf_dir, 80, 4, 12), "a", "b")


# ---------------------------------------------------------------------------
# Hierarchy depth — the recursive-CTE workload Spark has no native
# operator for, via pointer doubling (operators/graph.tree_depth).
# The tree is the implicit binary heap over customer keys
# (parent = k // 2, root 1), so the oracle's recursive CTE and the
# closed form agree and every depth is integer-exact.
# ---------------------------------------------------------------------------
@register(
    "graph_tree_depth",
    "WITH RECURSIVE walk(node, cur, d) AS ("
    "  SELECT c_custkey, c_custkey, 0 FROM customer"
    "  UNION ALL"
    "  SELECT node, cur // 2, d + 1 FROM walk WHERE cur > 1)"
    " SELECT node, CAST(d AS BIGINT) AS depth,"
    " CAST(2 * node > (SELECT MAX(c_custkey) FROM customer) AS BOOLEAN)"
    "  AS is_leaf"
    " FROM walk WHERE cur = 1",
)
def graph_tree_depth(spark, sf_dir):
    """Depth of every node in the binary-heap hierarchy over
    customer keys (parent = k // 2): the org-chart / BOM-explosion
    traversal. The oracle's recursive CTE walks one hop per
    recursion level (O(height) sequential steps); the Spark side is
    pointer doubling — ⌈log₂ height⌉ self-joins of the (node, anc,
    dist) table (operators/graph.tree_depth), the only shape whose
    round count survives deep chains at cluster scale."""
    from stockify_spark.operators.graph import tree_depth

    cust = _t(spark, sf_dir, "customer")
    edges = cust.filter(F.col("c_custkey") > 1).select(
        F.col("c_custkey").alias("node"),
        (F.col("c_custkey") / 2).cast("long").alias("parent"),
    )
    depths = tree_depth(edges, root=1)
    mx = cust.agg(F.max("c_custkey").alias("_mx"))
    return depths.crossJoin(F.broadcast(mx)).select(
        "node", "depth", (2 * F.col("node") > F.col("_mx")).alias("is_leaf")
    )


# ---------------------------------------------------------------------------
# graph_bfs — multi-source BFS hop distance (operators/graph.bfs_hops)
# ---------------------------------------------------------------------------
_BFS_SQL = f"""
WITH RECURSIVE e AS ({_residue_edges_sql(80, 4, 12)}),
sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
walk(node, d) AS (
  SELECT * FROM (VALUES (CAST(0 AS BIGINT), 0), (CAST(1 AS BIGINT), 0))
  UNION ALL
  SELECT s.b, d + 1 FROM walk JOIN sym s ON s.a = walk.node WHERE d < 4)
SELECT node, CAST(MIN(d) AS BIGINT) AS hops FROM walk GROUP BY node
"""


@register("graph_bfs", _BFS_SQL)
def graph_bfs(spark, sf_dir):
    """Hop distance from sources {0, 1} on the symmetrized md5-thinned
    residue graph (same graph as graph_triangles), bounded at 4 hops.
    The Spark side is level-synchronous frontier BFS
    (operators/graph.bfs_hops): per round, only the NEW frontier
    joins the edge list and an anti-join drops revisits — O(sum of
    frontier degrees) total, while the oracle's recursive CTE
    enumerates every bounded walk (path-count work, fine at 80 nodes,
    impossible at a billion — the exact asymmetry that makes BFS a
    required native operator)."""
    from stockify_spark.operators.graph import bfs_hops

    edges = _residue_edges(spark, sf_dir, 80, 4, 12)
    sym = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    sources = spark.createDataFrame([(0,), (1,)], "node long")
    return bfs_hops(sym, sources, src="a", dst="b", max_hops=4)


# ---------------------------------------------------------------------------
# graph_kcore — bounded-round k-core peel on the residue graph
# ---------------------------------------------------------------------------
_KCORE_K = 8

_KCORE_ROUNDS = 10


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    # every CTE that a later round references TWICE is AS MATERIALIZED:
    # DuckDB's default is to INLINE single-select CTEs, and a chain
    # where n{r} reads n{r-1} twice inlines to 2^rounds copies of the
    # md5 edge build — measured 289 s at sf0.01 vs ~1 s materialized.
    # MATERIALIZED is a pure execution hint; result semantics are
    # identical.
    base = f"""
WITH e AS MATERIALIZED ({_residue_edges_sql(400, 8, 8)}),
sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
n0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym)"""
    for r in range(1, rounds + 1):
        base += f""",
n{r} AS MATERIALIZED (SELECT s.a AS node FROM sym s
         JOIN n{r-1} x ON s.a = x.node JOIN n{r-1} y ON s.b = y.node
         GROUP BY s.a HAVING COUNT(*) >= {k})"""
    return base + f"\nSELECT node FROM n{rounds}"


def _kcore_sym_edges(spark, sf_dir):
    """Symmetrized edge list of the md5-thinned residue graph the
    k-core peel runs on (one row per directed edge; each undirected
    edge appears both ways). Materialized: every peel round reads it."""
    e = _residue_edges(spark, sf_dir, 400, 8, 8)
    return e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(materialize)


def _kcore_peel(sym, k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS):
    """Run ``rounds`` degree-peel iterations; returns surviving nodes."""
    nodes = sym.select(F.col("a").alias("node")).distinct()
    for _ in range(rounds):
        nodes = (
            sym.join(nodes.withColumnRenamed("node", "a"), "a")
            .join(nodes.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select(F.col("a").alias("node"))
            # each round references the previous round's nodes TWICE
            # (a-face and b-face), so an unbroken lineage doubles the
            # logical plan per round — 2^rounds leaf scans by round
            # 10. Lazy materialization keeps the plan linear (the
            # pagerank lineage discipline, operators/graph.py). It is
            # not free: under AQE, building it runs the map stages of
            # this round's exchanges before the next round is built
            # (functions/scale.materialize).
            .transform(materialize, eager=False)
        )
    return nodes


@register("graph_kcore", _kcore_sql())
def graph_kcore(spark, sf_dir):
    """k-core membership (k=8) by degree peeling on the md5-thinned
    residue graph (the graph_triangles fixture family): repeatedly
    drop nodes whose degree within the surviving set is < k. Both
    engines run EXACTLY 10 peel rounds — a bounded-round contract
    rather than while-changed, because an unrolled fixpoint isn't
    expressible in the oracle's CTE chain and, more importantly,
    bounded rounds is how you'd checkpoint the peel at scale anyway
    (each round is one shuffle; a 100 TB peel runs rounds until a
    round removes nothing and the count check is a cheap
    side-output). On the test graphs the peel converges well before
    round 10 (pinned in tests/test_ext10.py: round 11 removes
    nothing, and every survivor keeps induced degree >= k), so the
    bounded result IS the k-core. The edge table is
    materialized once and reused by all rounds — the pagerank
    lineage discipline (operators/graph.py)."""
    return _kcore_peel(_kcore_sym_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# graph_jaccard — neighbor-set similarity per edge (shared fixture)
# ---------------------------------------------------------------------------
_JACCARD_SQL = f"""
WITH e AS ({_residue_edges_sql(80, 4, 12)}),
und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS d FROM und GROUP BY u),
common AS (
  SELECT e.a, e.b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM e
  JOIN und n1 ON n1.u = e.a
  JOIN und n2 ON n2.u = e.b AND n2.v = n1.v
  GROUP BY e.a, e.b
)
SELECT e.a, e.b,
       CAST(COALESCE(c.c, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(c.c, 0)
             / (da.d + db.d - COALESCE(c.c, 0)), 6) AS jaccard
FROM e
JOIN deg da ON da.u = e.a
JOIN deg db ON db.u = e.b
LEFT JOIN common c ON c.a = e.a AND c.b = e.b
"""


@register("graph_jaccard", _JACCARD_SQL)
def graph_jaccard(spark, sf_dir):
    """Structural edge similarity on the shared md5-thinned residue
    graph (the graph_triangles fixture): for every edge (a,b), the
    Jaccard overlap of the endpoints' neighbor sets |N(a) n N(b)| /
    (deg(a) + deg(b) - |N(a) n N(b)|) — the link-prediction /
    community-strength primitive next to graph_triangles (an edge's
    common-neighbor count is exactly its triangle support). Common
    neighbors come from one wedge join shuffled on the shared
    neighbor id (O(sum deg^2) like triangles, not all-pairs);
    degrees are a group-count broadcast back onto edges; edges with
    zero common neighbors survive via left join. All counts integer
    -> the ratio is deterministic at 6dp."""
    from pyspark.sql import functions as F

    # e feeds deg, both wedge sides, and the final edge join —
    # materialize it or each branch re-derives the distinct+md5 thin
    # (census: 13 shuffles / 10 scans -> 3 / 1)
    e = materialize(_residue_edges(spark, sf_dir, 80, 4, 12), eager=False)

    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("double").alias("d"))
    n1 = und.select(F.col("u").alias("a"), F.col("v").alias("w"))
    n2 = und.select(F.col("u").alias("b"), F.col("v").alias("w"))
    common = (
        e.join(n1, "a")
        .join(n2, ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    c = F.coalesce(F.col("c"), F.lit(0.0))
    return (
        e.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .join(common, ["a", "b"], "left")
        .select(
            "a",
            "b",
            c.cast("bigint").alias("n_common"),
            F.round(c / (F.col("da") + F.col("db") - c), 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Integer-exact graph/trend statistics,
# closed-form distributed ML, readability scoring, weighted median.
#
# The theme is DETERMINISM BY CONSTRUCTION at scale: every query here
# either keeps its distributed aggregation in integers (assortativity,
# Mann-Kendall, weighted median — cross-engine float order cannot
# matter) or pins the handful of float moments to their exact decimal
# values before the closed-form solve (ridge regression — the moment
# sums are exact 2dp/4dp decimals, so rounding them is the identity
# that kills accumulation-order drift, and the Cramer solve is then
# the same IEEE expression chain on both engines).
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
WITH e AS ({_residue_edges_sql(80, 4, 12)}),
und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
ed AS (
  SELECT da.d AS j, db.d AS k
  FROM e JOIN deg da ON da.u = e.a JOIN deg db ON db.u = e.b
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(j * k) AS DOUBLE) AS s1,
         CAST(SUM(j + k) AS DOUBLE) AS s2,
         CAST(SUM(j * j + k * k) AS DOUBLE) AS s3
  FROM ed
)
SELECT CAST(m AS BIGINT) AS n_edges,
       ROUND((s1 / m - (s2 / (2.0 * m)) * (s2 / (2.0 * m)))
             / (s3 / (2.0 * m) - (s2 / (2.0 * m)) * (s2 / (2.0 * m))),
             6) AS assortativity
FROM s
"""


@register("graph_assortativity", _ASSORT_SQL)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the shared residue
    graph: the Pearson correlation of endpoint degrees over edges,
    r = (S1/m − (S2/2m)²) / (S3/2m − (S2/2m)²) with S1 = Σjk,
    S2 = Σ(j+k), S3 = Σ(j²+k²). Every distributed sum is INTEGER
    (degrees are counts), so cross-engine accumulation order is
    irrelevant and the final ratio is computed from bit-identical
    operands — determinism by construction, no rounding pins needed
    until the 6dp display. One degree aggregation + one broadcast
    join back onto edges + one scalar reduce."""
    from pyspark.sql import functions as F

    # e feeds the degree union and the edge-side joins; materialize
    # to stop each branch re-deriving the thinned edge list
    e = materialize(_residue_edges(spark, sf_dir, 80, 4, 12), eager=False)
    und = e.select(F.col("a").alias("u")).unionAll(e.select(F.col("b").alias("u")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ed = (
        e.join(F.broadcast(deg.select(F.col("u").alias("a"), F.col("d").alias("j"))), "a")
        .join(F.broadcast(deg.select(F.col("u").alias("b"), F.col("d").alias("k"))), "b")
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("double").alias("s1"),
        F.sum(F.col("j") + F.col("k")).cast("double").alias("s2"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("double")
        .alias("s3"),
    )
    half = F.col("s2") / (2.0 * F.col("m"))
    return s.select(
        F.col("m").cast("long").alias("n_edges"),
        F.round(
            (F.col("s1") / F.col("m") - half * half)
            / (F.col("s3") / (2.0 * F.col("m")) - half * half),
            6,
        ).alias("assortativity"),
    )


_MODULARITY_SQL = f"""
WITH e AS ({_residue_edges_sql(80, 4, 12)}),
und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM e),
within AS (
  SELECT a % 8 AS community, COUNT(*) AS e_in
  FROM e WHERE a % 8 = b % 8 GROUP BY a % 8
),
degc AS (
  SELECT u % 8 AS community, SUM(d) AS deg_sum FROM deg GROUP BY u % 8
)
SELECT CAST(dc.community AS BIGINT) AS community,
       CAST(COALESCE(w.e_in, 0) AS BIGINT) AS edges_within,
       CAST(dc.deg_sum AS BIGINT) AS degree_sum,
       ROUND(COALESCE(w.e_in, 0) / m.m
             - (dc.deg_sum / (2.0 * m.m)) * (dc.deg_sum / (2.0 * m.m)),
             6) AS q_contribution
FROM degc dc CROSS JOIN m LEFT JOIN within w ON w.community = dc.community
"""


@register("graph_modularity", _MODULARITY_SQL)
def graph_modularity(spark, sf_dir):
    """Newman modularity of the vertex-residue partition (community
    = v mod 8) on the shared residue graph: per community,
    Q_c = e_c/m − (Σdeg_c / 2m)², summing to the partition's Q. All
    distributed sums are integer (edge counts, degree sums) — the
    graph_assortativity determinism argument — and the per-community
    result is 8 rows from two tiny aggregations over the edge
    list."""
    from pyspark.sql import functions as F

    # materialized: e feeds three consumers (degree union, m count,
    # within filter)
    e = materialize(_residue_edges(spark, sf_dir, 80, 4, 12))
    und = e.select(F.col("a").alias("u")).unionAll(e.select(F.col("b").alias("u")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    m = e.count()
    within = (
        e.filter(F.col("a") % 8 == F.col("b") % 8)
        .groupBy((F.col("a") % 8).alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    degc = deg.groupBy((F.col("u") % 8).alias("community")).agg(
        F.sum("d").alias("deg_sum")
    )
    md = float(m)
    return (
        degc.join(within, "community", "left")
        .select(
            F.col("community").cast("long").alias("community"),
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("edges_within"),
            F.col("deg_sum").cast("long").alias("degree_sum"),
            F.round(
                F.coalesce(F.col("e_in"), F.lit(0)) / md
                - (F.col("deg_sum") / (2.0 * md)) * (F.col("deg_sum") / (2.0 * md)),
                6,
            ).alias("q_contribution"),
        )
    )


# ---------------------------------------------------------------------------
# Local clustering structure and
# information-theoretic dependence.
#
# Clustering coefficient closes the residue-graph family (triangles →
# per-vertex transitivity); mutual information closes the entropy
# family (marginal entropy → joint dependence). Both are integer-count
# designs: the only floats are final closed forms on identical
# rationals.
# ---------------------------------------------------------------------------
_CLUSTER_SQL = f"""
WITH e AS ({_residue_edges_sql(80, 4, 12)}),
und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
tri AS (
  SELECT w.u, COUNT(*) AS t2
  FROM und w
  JOIN und x ON x.u = w.v
  JOIN und y ON y.u = x.v AND y.v = w.u
  GROUP BY w.u
)
SELECT CAST(d.u AS BIGINT) AS vertex, CAST(d.d AS BIGINT) AS degree,
       CAST(COALESCE(t.t2, 0) // 2 AS BIGINT) AS n_triangles,
       CASE WHEN d.d < 2 THEN NULL
            ELSE ROUND(CAST(COALESCE(t.t2, 0) AS DOUBLE)
                       / (d.d * (d.d - 1)), 6) END AS clustering_coeff
FROM deg d LEFT JOIN tri t ON t.u = d.u
"""


@register("graph_clustering_coeff", _CLUSTER_SQL)
def graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient on the shared residue graph:
    C(v) = triangles(v) / C(deg(v), 2). Triangles-at-v come from the
    closed-wedge walk (neighbor of neighbor that returns to v) which
    counts each triangle TWICE per vertex — the /2 and the
    2/(d(d−1)) normalization are folded into one integer-exact
    division. Degree-1 vertices have no defined coefficient (NULL on
    both faces). Same O(Σ deg²) wedge bound as graph_triangles;
    counts are integers so the ratio is deterministic."""
    e = materialize(_residue_edges(spark, sf_dir, 80, 4, 12), eager=False)
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    w = und.select(F.col("u").alias("u0"), F.col("v").alias("v1"))
    x = und.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    y = und.select(F.col("u").alias("v2"), F.col("v").alias("u0"))
    tri = (
        w.join(x, "v1").join(y, ["v2", "u0"]).groupBy("u0").agg(
            F.count(F.lit(1)).alias("t2")
        )
    )
    c = F.col
    t2 = F.coalesce(c("t2"), F.lit(0))
    return (
        deg.join(tri, deg["u"] == tri["u0"], "left")
        .select(
            c("u").cast("long").alias("vertex"),
            c("d").cast("long").alias("degree"),
            F.floor(t2 / 2).cast("long").alias("n_triangles"),
            F.when(c("d") < 2, F.lit(None).cast("double"))
            .otherwise(F.round(t2.cast("double") / (c("d") * (c("d") - 1)), 6))
            .alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# HITS hubs and authorities.
#
# Kleinberg's HITS (1999): on a directed graph, a good HUB points at
# good authorities and a good AUTHORITY is pointed at by good hubs —
# the mutually recursive pair h = A·a, a = A^T·h, iterated with
# normalization. Unlike PageRank (one score, random-walk semantics),
# HITS separates the two roles, which is the natural reading of a
# bipartite-ish order→part residue graph: orders that touch
# high-demand parts are hubs, parts touched by broad orders are
# authorities.
#
# Three power iterations, L1 normalization each half-step, fixed
# iteration count on both faces (the graph_kcore bounded-round
# contract). Float policy: the per-node sums and the normalizer, the
# only order-sensitive reductions, round at 9dp, and the normalized
# scores round at 9dp before the next half-step consumes them — drift
# cannot compound. The sums add values already rounded to 9dp, so
# rounding them at 9dp gives the exact decimal sum in any summation
# order; rounding them at 6dp made a sum whose 7th-9th digits are
# exactly 500 a tie that summation order broke (two such ties at
# sf0.01).
# ---------------------------------------------------------------------------
_ITERS = 3


def _hits_oracle(iters: int) -> str:
    sql = f"""WITH e AS ({_residue_edges_sql(400, 8, 8, directed=True)}),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
a0 AS (SELECT node, 1.0 AS x FROM nodes)"""
    prev = "a0"
    for k in range(1, iters + 1):
        for face, src, dst in (("h", "d", "s"), ("a", "s", "d")):
            name = f"{face}{k}"
            sql += f""",
{name}r AS (SELECT e.{dst} AS node, ROUND(SUM(p.x), 9) AS v
            FROM e JOIN {prev} p ON p.node = e.{src} GROUP BY 1),
{name}t AS (SELECT ROUND(SUM(v), 9) AS t FROM {name}r),
{name} AS (SELECT n.node,
                  ROUND(COALESCE(r.v, 0) / {name}t.t, 9) AS x
           FROM nodes n LEFT JOIN {name}r r USING (node)
           CROSS JOIN {name}t)"""
            prev = name
    return sql + f"""
SELECT CAST(n.node AS BIGINT) AS node, h.x AS hub, a.x AS authority
FROM nodes n JOIN h{iters} h USING (node) JOIN a{iters} a USING (node)
"""


@register("graph_hits", _hits_oracle(_ITERS))
def graph_hits(spark, sf_dir):
    """HITS on the directed order→part residue graph (the
    graph_triangles/kcore fixture family, direction preserved):
    three h/a half-step pairs, L1-normalized, emitted per node.
    Mutual reinforcement (hub mass flowing to authorities and back)
    is pinned in tests/test_ext51.py against a numpy power
    iteration, plus the role separation a PageRank cannot express:
    pure sources get hub > 0 with authority = 0 and sinks the
    reverse.

    Scale shape: each half-step is one equi-join of the edge list
    against a node-score table plus one map-side-combinable sum —
    the graph_pagerank layout exactly, 2*K shuffles total, scores
    materialized between steps so the lineage stays linear
    (the kcore discipline). Edge list materialized once, read by
    all six half-steps."""
    e = materialize(_residue_edges(spark, sf_dir, 400, 8, 8, directed=True))
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .transform(materialize)
    )
    score = nodes.select("node", F.lit(1.0).alias("x"))
    out = {}
    for _k in range(1, _ITERS + 1):
        for face, src, dst in (("h", "d", "s"), ("a", "s", "d")):
            r = (
                e.join(
                    score.withColumnRenamed("node", src), src
                )
                .groupBy(F.col(dst).alias("node"))
                .agg(F.round(F.sum("x"), 9).alias("v"))
            )
            t = r.agg(F.round(F.sum("v"), 9).alias("t"))
            score = (
                nodes.join(r, "node", "left")
                .crossJoin(F.broadcast(t))
                .select(
                    "node",
                    F.round(
                        F.coalesce(F.col("v"), F.lit(0.0)) / F.col("t"), 9
                    ).alias("x"),
                )
                .transform(materialize, eager=False)
            )
            out[face] = score
    return (
        nodes.join(out["h"].withColumnRenamed("x", "hub"), "node")
        .join(out["a"].withColumnRenamed("x", "authority"), "node")
        .select(F.col("node").cast("long").alias("node"), "hub", "authority")
    )


# ---------------------------------------------------------------------------
# Seeded random walks.
#
# DeepWalk/node2vec (Perozzi et al. 2014; Grover & Leskovec 2016)
# train embeddings on a CORPUS OF WALKS — the graph-side analogue of
# the documents table, and the missing producer between the repo's
# graph family and its embedding family. Production walk generation is
# seeded for reproducibility; here the step choice is fully
# data-keyed: from node v at step k of the walk started at s, the next
# node is the (md5int(k|v|s) mod degree)-th entry of v's SORTED
# neighbor list. No state machine, no RNG service — each step is one
# equi-join against the adjacency-array table on both engines.
# ---------------------------------------------------------------------------
_STEPS = 4


_ADJ_SQL = f"""
e AS ({_residue_edges_sql(400, 8, 8)}),
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
adj AS (SELECT a AS node, list(b ORDER BY b) AS nbrs FROM sym GROUP BY 1)
"""


def _walk_oracle(steps: int) -> str:
    sql = f"WITH {_ADJ_SQL},\nw0 AS (SELECT node AS start, node FROM adj)"
    for k in range(1, steps + 1):
        sql += f""",
w{k} AS (
  SELECT w.start,
         a.nbrs[1 + CAST(CAST(CONCAT('0x', substr(md5(CONCAT(
             '{k}', '|', CAST(w.node AS VARCHAR), '|',
             CAST(w.start AS VARCHAR))), 1, 8)) AS BIGINT)
             % len(a.nbrs) AS INT)] AS node
  FROM w{k - 1} w JOIN adj a ON a.node = w.node)"""
    rows = " UNION ALL ".join(
        f"SELECT CAST(start AS BIGINT) AS start, CAST({k} AS BIGINT) AS step,"
        f" CAST(node AS BIGINT) AS node FROM w{k}"
        for k in range(steps + 1)
    )
    return sql + "\n" + rows


@register("graph_random_walk", _walk_oracle(_STEPS))
def graph_random_walk(spark, sf_dir):
    """One 4-step seeded walk from every node of the symmetrized
    residue graph, emitted as (start, step, node) — the walk corpus
    a skip-gram embedding trainer consumes. Choices are data-keyed
    (walk seed = step|current|start), so revisiting a node inside
    one walk or across walks redraws independently, and the corpus
    is reproducible byte-for-byte across engines and reruns —
    pinned against an independent reimplementation plus an
    edge-membership check in tests/test_ext55.py.

    Scale shape: the adjacency-array table is one groupBy over the
    edge list (degree-bounded rows); each step is one equi-join of
    the frontier against it — K joins for K steps, frontier size
    constant at |starts|, no driver state at all (contrast the
    kcore/pagerank iterations, which carry scores). A billion-node
    walk corpus is K shuffle-joins, embarrassingly wide."""
    e = _residue_edges(spark, sf_dir, 400, 8, 8)
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    adj = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.sort_array(F.collect_list("b")).alias("nbrs"))
        .transform(materialize)
    )
    frontier = adj.select(F.col("node").alias("start"), "node")
    out = frontier.select("start", F.lit(0).cast("long").alias("step"), "node")
    for k in range(1, _STEPS + 1):
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(str(k)),
                            F.lit("|"),
                            F.col("node").cast("string"),
                            F.lit("|"),
                            F.col("start").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.size("nbrs")
        )
        frontier = (
            frontier.join(adj, "node")
            .select(
                "start",
                F.element_at("nbrs", (h + 1).cast("int")).alias("node"),
            )
        )
        out = out.unionAll(
            frontier.select(
                "start", F.lit(k).cast("long").alias("step"), "node"
            )
        )
    return out.select(
        F.col("start").cast("long").alias("start"),
        "step",
        F.col("node").cast("long").alias("node"),
    )


# ---------------------------------------------------------------------------
# Directed degree census + reciprocity.
#
# The first two numbers a graph person asks of a directed network: the
# in/out degree distribution (heavy tails drive every skew/partition
# decision the graph family documents) and the RECIPROCITY — the share
# of edges whose reverse also exists, separating mutual-link networks
# from broadcast ones. Both are integer-exact one-aggregate
# quantities over the edge list; reciprocity is a self-join on the
# reversed key, the canonical "is the mirror present" probe.
# ---------------------------------------------------------------------------
_DEG_SQL = f"""
WITH e AS ({_residue_edges_sql(400, 8, 8, directed=True)}),
outd AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY 1),
ind AS (SELECT d AS node, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY 1),
oh AS (SELECT k AS degree, CAST(COUNT(*) AS BIGINT) AS n_out FROM outd
       GROUP BY 1),
ih AS (SELECT k AS degree, CAST(COUNT(*) AS BIGINT) AS n_in FROM ind
       GROUP BY 1),
recip AS (
  SELECT ROUND(CAST(SUM(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*), 6) AS reciprocity
  FROM e LEFT JOIN e r ON r.s = e.d AND r.d = e.s)
SELECT COALESCE(oh.degree, ih.degree) AS degree,
       COALESCE(oh.n_out, 0) AS n_out,
       COALESCE(ih.n_in, 0) AS n_in,
       recip.reciprocity
FROM oh FULL OUTER JOIN ih ON oh.degree = ih.degree
CROSS JOIN recip
"""


@register("graph_degree_census", _DEG_SQL)
def graph_degree_census(spark, sf_dir):
    """In/out degree histogram of the directed order->part residue
    graph (the random-walk/HITS fixture, direction preserved) with
    the graph's reciprocity carried on every row. Conservation
    identities pinned in tests/test_ext85.py: sum(degree * n_out) ==
    sum(degree * n_in) == |E|, and reciprocity recomputed by a
    brute mirror-set check (the thinning coin is symmetric in the
    endpoints, so both directions of a pair survive together —
    making reciprocity a sharp pin, not a free parameter).

    Scale shape: two edge-list aggregates, two degree-bounded
    histograms, one equi-self-join on the reversed key (hash-
    partitioned both sides, no broadcast needed at any scale)."""
    e = materialize(_residue_edges(spark, sf_dir, 400, 8, 8, directed=True))
    outd = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    ind = e.groupBy(F.col("d").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    oh = outd.groupBy(F.col("k").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_out")
    )
    ih = ind.groupBy(F.col("k").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_in")
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"), F.lit(1).alias("hit"))
    recip = (
        e.join(rev, ["s", "d"], "left")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("reciprocity")
        )
    )
    return (
        oh.join(ih, "degree", "full_outer")
        .select(
            "degree",
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.coalesce("n_in", F.lit(0)).alias("n_in"),
        )
        .crossJoin(F.broadcast(recip))
    )


# ---------------------------------------------------------------------------
# graph_label_propagation — bounded-round LPA on the residue graph
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 2


def _lpa_sql(rounds: int = _LPA_ROUNDS) -> str:
    # same MATERIALIZED discipline as _kcore_sql: each round reads the
    # previous labels once per edge face, and DuckDB would otherwise
    # inline the md5 edge build exponentially
    base = f"""
WITH e AS MATERIALIZED ({_residue_edges_sql(400, 8, 8)}),
sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM sym)"""
    for r in range(1, rounds + 1):
        base += f""",
v{r} AS (SELECT s.a AS node, x.label, COUNT(*) AS n
         FROM sym s JOIN l{r-1} x ON s.b = x.node GROUP BY 1, 2),
l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY n DESC, label) AS rnk
    FROM v{r}) WHERE rnk = 1)"""
    return base + f"\nSELECT node, label FROM l{rounds}"


@register("graph_label_propagation", _lpa_sql())
def graph_label_propagation(spark, sf_dir):
    """Synchronous label propagation (Raghavan et al. 2007) on the
    md5-thinned residue graph, the graph_kcore fixture family: every
    node starts labelled with itself; each round it adopts the most
    frequent label among its NEIGHBORS, ties broken by minimum label
    — the deterministic variant (classic LPA breaks ties randomly,
    which no differential oracle could restate). Both engines run
    EXACTLY 2 rounds — the bounded-round contract graph_kcore
    establishes: at scale you run LPA as checkpointed rounds anyway,
    and each round is one (edge ⋈ labels) shuffle + one per-node
    argmax.

    Shape per round: join edges to the label table on the b-face
    (label table is node-sized — broadcastable at any realistic
    community count), groupBy (node, label) with map-side combine,
    then a per-node row_number argmax. The edge table is
    materialized once and reused by both rounds (the pagerank
    lineage discipline)."""

    sym = _kcore_sym_edges(spark, sf_dir)
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.col("n").desc(), "label")
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(
                labels.withColumnRenamed("node", "b"), "b"
            )
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            votes.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("node", "label")
            .transform(materialize, eager=False)
        )
    return labels


# ---------------------------------------------------------------------------
# graph_katz_centrality — attenuation-weighted walk counts
# ---------------------------------------------------------------------------
_KATZ_ALPHA = 0.05

_KATZ_ROUNDS = 3


def _katz_sql(alpha: float = _KATZ_ALPHA, rounds: int = _KATZ_ROUNDS) -> str:
    base = f"""
WITH e AS MATERIALIZED ({_residue_edges_sql(400, 8, 8)}),
sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
x0 AS MATERIALIZED (SELECT DISTINCT a AS node, CAST(1 AS DOUBLE) AS x FROM sym)"""
    for r in range(1, rounds + 1):
        base += f""",
x{r} AS MATERIALIZED (
  SELECT s.a AS node, 1 + {alpha} * SUM(p.x) AS x
  FROM sym s JOIN x{r-1} p ON s.b = p.node
  GROUP BY s.a)"""
    return base + f"\nSELECT node, ROUND(x, 6) AS katz FROM x{rounds}"


@register("graph_katz_centrality", _katz_sql())
def graph_katz_centrality(spark, sf_dir):
    """Katz centrality (Katz 1953) on the residue graph: x ← β +
    αAx with β=1, α=0.05 (safely under 1/λ_max for this degree
    range), EXACTLY 3 rounds from x₀=1 — the bounded-round contract
    of graph_kcore/label_propagation. Counts attenuated walks of
    every length, so isolated-but-connected-to-hubs nodes score
    where raw degree doesn't; the third member of the centrality
    trio after pagerank (stochastic) and HITS (spectral pair).

    Shape per round: one (edges ⋈ scores) shuffle with map-side
    partial sums — scores are node-sized and broadcastable; the edge
    table is materialized once and reused (the pagerank lineage
    discipline)."""

    sym = _kcore_sym_edges(spark, sf_dir)
    x = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "x", F.lit(1.0)
    )
    for _ in range(_KATZ_ROUNDS):
        x = (
            sym.join(
                x.withColumnRenamed("node", "b"), "b"
            )
            .groupBy(F.col("a").alias("node"))
            .agg((1 + _KATZ_ALPHA * F.sum("x")).alias("x"))
            .transform(materialize, eager=False)
        )
    return x.select("node", F.round("x", 6).alias("katz"))
