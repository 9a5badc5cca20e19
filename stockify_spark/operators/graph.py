"""Iterative graph operators beyond connected components
(llm/dedup.connected_components): weighted PageRank and
degree-oriented triangle enumeration.

The reference engine has no graph surface; this extends the
north-star iterative-algorithm family (SURVEY §7.6) with the second
classic fixed-point computation. The Spark shape is the textbook
one — rank vector joined to the edge list each round, contributions
combined map-side by destination — materialized every
few rounds so plan depth stays bounded (the same lineage-truncation
policy as the path-doubling connected components).

Determinism note for differential testing: each destination's
contribution sum adds its in-edges in engine-defined order, so
cross-engine agreement is to ~1 ulp per round; oracles must ROUND
the final ranks (9 decimals keeps ~6 orders of margin over the
accumulated error on bounded-degree graphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stockify_spark.functions.scale import materialize


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
    iters: int = 8,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    local_edge_limit: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns (node, rank).

    The node set is the distinct ``src`` set and every iteration
    keeps exactly the nodes that received in-edge contributions —
    the inner-join fixed point. On a graph where every node has both
    in- and out-edges (e.g. the dense nation trade graph below) this
    IS standard PageRank with uniform teleport; nodes without
    in-edges would drop out, identically in any engine running the
    same recurrence — callers wanting dangling-mass redistribution
    should close the graph first.

    Scale shape: building ``edges`` is the data-sized work (callers
    aggregate it from fact tables — weights are exact counts); the
    iteration joins move (node, rank) rows only. Spark broadcasts
    the rank side automatically when the node set is small; for
    billion-node graphs the same loop holds with both sides
    hash-partitioned on the join key, and materializing every few
    rounds keeps the 2·iters-join lineage from accreting superlinear planning
    cost.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    ew = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.cast("double").alias("_w")
    )
    outw = ew.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    # Materialize the normalized edge list ONCE (eager checkpoint):
    # it is referenced by every iteration, and without this each
    # round's plan re-derives it from the source — for an edge table
    # aggregated from fact joins that means re-running the joins
    # iters times (the plan audit showed 33 scans for 8 rounds).
    ew = materialize(ew.join(outw, "_src"))

    m = ew.count()  # metadata-cheap on the already-checkpointed blocks
    if m <= local_edge_limit:
        # model-sized edge list: run EVERY round in one executor-
        # resident pass instead of 2·iters scheduled stages. The
        # data-sized work (aggregating the edge list from fact joins)
        # already happened distributed above; what remains is a
        # fixed-point over ≤1M (src, dst, w/ow) rows — at the bench's
        # 25-node trade graph the iterative path spent ~17 job floors
        # on microsecond arithmetic. Semantically identical to the
        # loop below (NOT bit-for-bit: the fold accumulates frac=w/ow
        # with np.add.at in array order while the loop sums rank*w/ow
        # in Spark's engine order — different float association, so
        # the branches agree to ~1e-12, far inside the ROUND(6/9)
        # output grid; the parity tests pin abs=1e-12, not equality): teleport n is the INITIAL distinct-src count,
        # and a node keeps rank round-to-round only while it receives
        # in-edge contributions (the inner-join fixed point).
        # Billion-edge graphs take the hash-partitioned loop below.
        node_dt = ew.schema["_src"].dataType.simpleString()
        it, dmp = iters, damping

        def _solve(batches):
            import numpy as np
            import pandas as pd

            # zero Arrow batches on an empty partition — concat first
            parts = list(batches)
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            if pdf.empty:
                return
            src = pdf["_src"].to_numpy()
            dst = pdf["_dst"].to_numpy()
            frac = (pdf["_w"] / pdf["_ow"]).to_numpy()
            uni = pd.unique(pd.concat([pdf["_src"], pdf["_dst"]]))
            pos = {v: i for i, v in enumerate(uni.tolist())}
            si = np.fromiter((pos[v] for v in src.tolist()), np.int64, len(src))
            di = np.fromiter((pos[v] for v in dst.tolist()), np.int64, len(dst))
            present = np.zeros(len(uni), dtype=bool)
            present[si] = True
            n0 = int(present.sum())  # initial distinct-src count
            tele = (1.0 - dmp) / n0
            rank = np.where(present, 1.0 / n0, 0.0)
            for _ in range(it):
                live = present[si]
                contrib = np.zeros(len(uni))
                hits = np.zeros(len(uni), dtype=np.int64)
                np.add.at(contrib, di[live], rank[si[live]] * frac[live])
                np.add.at(hits, di[live], 1)
                present = hits > 0
                rank = np.where(present, tele + dmp * contrib, 0.0)
            yield pd.DataFrame(
                {"node": np.asarray(uni)[present], "rank": rank[present]}
            )

        return ew.coalesce(1).mapInPandas(
            _solve, schema=f"node {node_dt}, rank double"
        )

    nodes = ew.select(F.col("_src").alias("node")).distinct()
    n = nodes.count()  # bounded: one scalar for the teleport term
    teleport = (1.0 - damping) / n
    if n <= 100_000:
        # small graph: collapse the edge/rank tables to one partition
        # so each of the 2·iters iteration stages schedules one task,
        # not shuffle.partitions tasks of a few rows each (the
        # per-round overhead dominated the 25-node trade graph).
        # coalesce is a narrow op over the already-checkpointed
        # blocks — no second materialization; billion-node graphs
        # keep the hash-partitioned shape
        ew = ew.coalesce(1)
        nodes = nodes.coalesce(1)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        contribs = (
            ranks.join(ew, ranks["node"] == ew["_src"])
            .groupBy("_dst")
            .agg(F.sum(F.col("rank") * F.col("_w") / F.col("_ow")).alias("_c"))
        )
        ranks = contribs.select(
            F.col("_dst").alias("node"),
            (F.lit(teleport) + F.lit(damping) * F.col("_c")).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            # eager: actually truncate lineage now — a lazy checkpoint
            # materializes nothing until an action, leaving the full
            # 2·iters-join plan in place for the final one
            ranks = materialize(ranks)
    return ranks


def triangles(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Enumerate triangles of an undirected simple graph; returns one
    row (x1, x2, x3) per triangle with x1 < x2 < x3.

    ``edges`` must hold each undirected edge once as (a, b) with
    a < b. The plan is the degree-orientation algorithm: orient every
    edge from its lower-(degree, id) endpoint to the higher one, join
    oriented edges on their source to form wedges, then semi-join the
    wedge's closing pair against the oriented edge set. Each triangle
    has exactly one vertex with out-edges to the other two under this
    orientation, so every triangle is produced exactly once — no
    DISTINCT pass needed.

    Scale shape: the naive 3-way self-join on a < b < c touches
    Σ deg(v)² wedges, which a single hub vertex turns quadratic.
    Orientation caps out-degree at O(√m) on any graph, so wedges are
    O(m^1.5) worst-case — the standard bound — and both the wedge
    build and the closing check are plain equi-joins that AQE can
    broadcast or shuffle-hash as sizes dictate. Degrees are one
    map-side-combined aggregation of the (tiny, 2·m-row) endpoint
    explode.
    """
    # materialize the (m-row) edge list once: it feeds the degree
    # count, both join sides, and the closing-edge set — without this
    # every reference re-derives it from source (the pagerank lesson:
    # 15 scans for one query in the plan census)
    e = materialize(edges.select(F.col(a).alias("_a"), F.col(b).alias("_b")))
    m = e.count()  # metadata-cheap on the already-checkpointed blocks
    target = max(
        1, min(edges.sparkSession.sparkContext.defaultParallelism, m // 100_000)
    )
    if target < e.rdd.getNumPartitions():
        # right-size partitions to ~100k edges each so the dozen
        # downstream stages schedule work-bearing tasks instead of
        # shuffle.partitions near-empty ones. A graph under 200k edges
        # runs as ONE task — at that size the wedge join finishes in
        # well under a second and per-task scheduling overhead
        # dominates any parallel speedup (measured: the r7 50k target
        # gave a sub-200k-edge sf0.1 residue graph 2-6 near-empty
        # partitions and doubled wall time). But never collapse a
        # SIZEABLE graph to one task: m >= 200k always keeps >= 2
        # partitions and scales up to defaultParallelism, so the
        # O(m^1.5) wedge bound carries the scale story, not a serial
        # cliff (the trap a fixed 1M-edge threshold had).
        e = e.coalesce(target)
    deg = (
        e.select(F.col("_a").alias("_v"))
        .unionAll(e.select(F.col("_b").alias("_v")))
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    da = deg.select(F.col("_v").alias("_a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("_v").alias("_b"), F.col("_d").alias("_db"))
    # orient low-(degree, id) → high-(degree, id)
    lo_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oriented = (
        e.join(da, "_a")
        .join(db, "_b")
        .select(
            F.when(lo_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
            F.when(lo_first, F.col("_b")).otherwise(F.col("_a")).alias("_w"),
        )
        # referenced three times (both wedge sides + closing set)
        .transform(materialize)
    )
    o1 = oriented.select(F.col("_u"), F.col("_w").alias("_x"))
    o2 = oriented.select(F.col("_u"), F.col("_w").alias("_y"))
    wedges = o1.join(o2, "_u").filter(F.col("_x") < F.col("_y"))
    # the closing edge may be oriented either way between _x and _y:
    # normalize both sides to the id-sorted pair so the existence
    # check is a plain two-column equi-join (shuffle/broadcast-able),
    # not an OR condition that would force a nested-loop join
    closing = oriented.select(
        F.least("_u", "_w").alias("_x"), F.greatest("_u", "_w").alias("_y")
    )
    tri = wedges.join(closing, ["_x", "_y"], "leftsemi")
    srt = F.array_sort(F.array("_u", "_x", "_y"))
    return tri.select(
        srt.getItem(0).alias("x1"),
        srt.getItem(1).alias("x2"),
        srt.getItem(2).alias("x3"),
    )


def tree_depth(edges: DataFrame, root, node: str = "node", parent: str = "parent") -> DataFrame:
    """Depth of every node in a rooted forest/tree via pointer
    doubling; returns (node, depth). ``edges`` holds (node, parent)
    for every non-root node.

    The recursive-CTE formulation walks one parent hop per round —
    O(tree height) sequential steps. Pointer doubling squares the
    hop length each round (anc ← anc's anc, dist ← dist + anc's
    dist), so a height-H tree needs ⌈log₂H⌉ self-joins: the classic
    PRAM technique and the only shape that survives deep hierarchies
    on a cluster (H=10⁶ chain: 20 rounds, not 10⁶). Each round is
    one equi-join of the (node, anc, dist) table with itself;
    materializing each round truncates lineage exactly as in
    :func:`pagerank`. Rounds stop early once every pointer reaches
    the root (bounded driver check: one `count` per round over a
    shrinking not-done set).
    """
    ptr = edges.select(
        F.col(node).alias("_n"), F.col(parent).alias("_anc"), F.lit(1).alias("_d")
    ).unionAll(
        edges.sparkSession.createDataFrame([(root, root, 0)], "a long, b long, c int")
        .select(F.col("a").alias("_n"), F.col("b").alias("_anc"), F.col("c").alias("_d"))
    ).transform(materialize)
    while True:
        hop = ptr.select(
            F.col("_n").alias("_hn"), F.col("_anc").alias("_hanc"), F.col("_d").alias("_hd")
        )
        nxt = (
            ptr.join(hop, ptr["_anc"] == hop["_hn"])
            .select("_n", F.col("_hanc").alias("_anc"), (F.col("_d") + F.col("_hd")).alias("_d"))
            .transform(materialize)
        )
        remaining = nxt.filter(F.col("_anc") != root).count()
        ptr = nxt
        if remaining == 0:
            break
    return ptr.select(F.col("_n").alias("node"), F.col("_d").cast("long").alias("depth"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "a",
    dst: str = "b",
    node: str = "node",
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source BFS hop distance; returns (node, hops) for every
    node reachable from ``sources`` within ``max_hops`` edges
    (directed — symmetrize ``edges`` first for undirected graphs).

    The frontier formulation: each round joins only the NEWLY
    reached nodes against the edge list, anti-joins the visited set,
    and unions the survivors in at distance h — so total work is
    O(sum of frontier degrees), the textbook level-synchronous BFS
    a cluster runs (Pregel's shape), not a recursive CTE's
    all-paths enumeration, which multiplies by path count and
    explodes on cyclic graphs. The visited set is materialized per
    round (lineage truncation, as in :func:`pagerank`); the per-round
    empty-frontier check is one bounded count on the shrinking
    frontier.
    """
    e = edges.select(F.col(src).alias("_es"), F.col(dst).alias("_ed"))
    dist = sources.select(F.col(node).alias("_n"), F.lit(0).alias("_h")).distinct()
    dist = materialize(dist)
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["_n"] == e["_es"])
            .select(F.col("_ed").alias("_n"))
            .distinct()
            .join(dist.select("_n"), "_n", "left_anti")
            .withColumn("_h", F.lit(h))
            .transform(materialize)
        )
        if nxt.count() == 0:
            break
        # plain union, no checkpoint: dist is a flat union of
        # already-checkpointed frontiers, so re-evaluating it reads
        # cached blocks — checkpointing it too paid one extra job
        # per round for nothing
        dist = dist.unionAll(nxt)
        frontier = nxt
    return dist.select(F.col("_n").alias("node"), F.col("_h").cast("long").alias("hops"))
