"""Transaction-log table queries: create, append, merge, delete, time
travel, change feeds, maintenance, and the metadata operations of
``sources/txlog.py``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import _scratch_table


@register(
    "merge_upsert_orders",
    "SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice FROM orders"
    " WHERE o_orderkey % 100 <> 0"
    " UNION ALL SELECT o_orderkey, ROUND(o_totalprice * 2, 2) AS o_totalprice"
    " FROM orders WHERE o_orderkey % 100 = 0",
)
def merge_upsert_orders(spark, sf_dir):
    """MERGE semantics on plain parquet (operators/merge.py): every
    100th order is 'updated' (price doubled); the merged table keeps
    unmatched rows and takes the update side for matched keys. The
    oracle states the same MERGE as its UNION of complements."""
    from stockify_spark.operators.merge import merge_upsert

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    merged = merge_upsert(orders, updates, ["o_orderkey"])
    return merged.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


# ---------------------------------------------------------------------------
# SCD2 dimension merge (operators/merge.merge_scd2): the warehouse
# pattern for versioned dimensions. The update set is derived
# deterministically from the data (every 10th-residue-0/1/2
# customer gets a +100 balance adjustment effective 1995-06-01).
# ---------------------------------------------------------------------------
@register(
    "merge_scd2_customers",
    "WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal,"
    "  '1990-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to"
    "  FROM customer),"
    " upd AS (SELECT c_custkey, c_mktsegment, c_acctbal + 100.0 AS c_acctbal,"
    "  '1995-06-01' AS effective_from FROM customer WHERE c_custkey % 10 < 3)"
    " SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to,"
    "  valid_to IS NULL AS is_current FROM ("
    "  SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, d.valid_from,"
    "   u.effective_from AS valid_to"
    "   FROM dim d JOIN upd u USING (c_custkey)"
    "  UNION ALL"
    "  SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to"
    "   FROM dim WHERE c_custkey % 10 >= 3"
    "  UNION ALL"
    "  SELECT c_custkey, c_mktsegment, c_acctbal, effective_from,"
    "   CAST(NULL AS VARCHAR) FROM upd)",
)
def merge_scd2_customers(spark, sf_dir):
    """Type-2 SCD merge: updated keys close their open row at the
    effective date and append a new open version; the oracle states
    the same three-way union declaratively. One key join (update
    side broadcast-sized) — see operators/merge.merge_scd2."""
    from stockify_spark.operators.merge import merge_scd2

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1990-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    upd = cust.filter(F.col("c_custkey") % 10 < 3).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("1995-06-01").alias("effective_from"),
    )
    return merge_scd2(dim, upd, ["c_custkey"])


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the materialized-view update
# pattern: combine a pre-aggregated base with a delta batch's
# partials WITHOUT rescanning base rows. The oracle is the full
# recompute, so the differential check proves incremental == batch.
# ---------------------------------------------------------------------------
@register(
    "merge_incremental_agg",
    "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,"
    " ROUND(SUM(o_totalprice), 2) AS total,"
    " MAX(epoch_ms(o_orderdate)) AS last_ms"
    " FROM orders GROUP BY o_custkey",
)
def merge_incremental_agg(spark, sf_dir):
    """Materialized-view maintenance: the per-customer order
    aggregate is kept as (count, sum, max) partials; a new batch
    aggregates ONLY its own rows and full-outer-merges onto the base
    by key — count+count, sum+sum, greatest(max, max). The query
    splits orders at 1997-01-01 into base/delta, runs the
    incremental path, and the oracle recomputes from scratch:
    hash-equality IS the incremental-consistency proof. At 100 TB
    this is the shape that turns a daily full rescan into a
    delta-sized job — every algebraic aggregate (sum/count/min/max,
    and avg/stddev/sketches via their partials) merges this way; the
    base side is a bucketed table co-partitioned on the key so the
    merge join doesn't reshuffle it."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")

    def partials(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total"),
            F.max(F.unix_millis("o_orderdate")).alias("last_ms"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < cut))
    delta = partials(orders.filter(F.col("o_orderdate") >= cut))
    b = base.select(
        F.col("o_custkey"),
        F.col("n_orders").alias("_bn"),
        F.col("total").alias("_bt"),
        F.col("last_ms").alias("_bm"),
    )
    d = delta.select(
        F.col("o_custkey"),
        F.col("n_orders").alias("_dn"),
        F.col("total").alias("_dt"),
        F.col("last_ms").alias("_dm"),
    )
    merged = b.join(d, "o_custkey", "full_outer")
    return merged.select(
        "o_custkey",
        (F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0))).alias("n_orders"),
        F.round(
            F.coalesce("_bt", F.lit(0.0)) + F.coalesce("_dt", F.lit(0.0)), 2
        ).alias("total"),
        F.greatest(
            F.coalesce("_bm", F.lit(-(1 << 62))), F.coalesce("_dm", F.lit(-(1 << 62)))
        ).alias("last_ms"),
    )


# ---------------------------------------------------------------------------
# txlog_lifecycle — ACID table format end-to-end
# ---------------------------------------------------------------------------
def _lifecycle_table(spark, sf_dir: str) -> str:
    """The shared create→append→COW-delete→compact lifecycle table
    (versions 0..3) that txlog_lifecycle / txlog_time_travel /
    txlog_cdf all read — one build serves all three queries."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(4, "o_orderkey"),
            path,
        )
        txlog.append(
            o.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(4, "o_orderkey"),
            path,
        )
        v_del = txlog.delete_where(spark, path, F.col("o_orderkey") % 10 == 0)
        assert v_del == 2, v_del  # deterministic version layout
        txlog.compact(spark, path, target_partitions=2)

    return _scratch_table(sf_dir, "life", build)


_TXLOG_SQL = """
SELECT (o_orderkey % 7)::BIGINT AS bucket, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1
"""


@register("txlog_lifecycle", _TXLOG_SQL)
def txlog_lifecycle(spark, sf_dir):
    """Full lifecycle of the log-structured ACID table format
    (sources/txlog.py): create from the even-key half, append the odd
    half, copy-on-write delete every 10th key, compact the small
    files, then aggregate the final snapshot. The oracle states the
    net effect declaratively over the source table — create+append
    covered every order, the delete removed keys divisible by 10 —
    so the whole commit-log replay (adds minus removes across four
    versions) is hash-checked. The scratch table is the shared
    deterministic lifecycle table (_lifecycle_table): built once per
    sf_dir, reused by repeat invocations and by time_travel/cdf."""
    from stockify_spark.sources import txlog

    path = _lifecycle_table(spark, sf_dir)
    snap = txlog.snapshot(spark, path)
    return snap.groupBy((F.col("o_orderkey") % 7).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_TT_SQL = """
SELECT (o_orderkey % 5)::BIGINT AS bucket, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1
"""


@register("txlog_time_travel", _TT_SQL)
def txlog_time_travel(spark, sf_dir):
    """Time travel through the commit log: the same lifecycle as
    txlog_lifecycle, but reading the PRE-delete version (v1) — the
    snapshot must contain every order even though later commits
    removed and compacted files. Proves old versions stay readable
    and exact after destructive operations."""
    from stockify_spark.sources import txlog

    path = _lifecycle_table(spark, sf_dir)
    snap = txlog.snapshot(spark, path, version=1)  # pre-delete world
    return snap.groupBy((F.col("o_orderkey") % 5).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_CDF_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
       'delete' AS _change_type
FROM orders WHERE o_orderkey % 10 = 0
"""


@register("txlog_cdf", _CDF_SQL)
def txlog_cdf(spark, sf_dir):
    """Change data feed of the COW-delete commit: the row-level
    changes are computed from that commit's own file actions (added
    minus removed rows cancel the copy-on-write survivors), so the
    feed contains exactly the deleted rows — which is what the
    declarative oracle states. Cost scales with the files the commit
    touched, not with table size."""
    from stockify_spark.sources import txlog

    path = _lifecycle_table(spark, sf_dir)
    cdf = txlog.changes(spark, path, 2)  # v2 = the COW-delete commit
    return cdf.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "_change_type"
    )


_SKIP_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderkey BETWEEN 100 AND 2000
"""


@register("txlog_skipping", _SKIP_SQL)
def txlog_skipping(spark, sf_dir):
    """Data-skipping read path: orders land in a clustered txlog
    table (compact with sort_by), then a range probe reads only the
    files whose LOG-stored min/max overlap the range — zero footer
    fetches for pruned files. The oracle is the plain range query;
    the pruning is proven exact because the residual filter applies
    regardless of stats."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o, path)
        txlog.compact(spark, path, target_partitions=8, sort_by="o_orderkey")

    path = _scratch_table(sf_dir, "skip", build)
    pruned = txlog.snapshot_pruned(spark, path, "o_orderkey", 100, 2000)
    return pruned.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# ---------------------------------------------------------------------------
# txlog_timestamp_travel — TIMESTAMP AS OF through in-commit timestamps
# ---------------------------------------------------------------------------
_TTS_SQL = """
SELECT (o_orderkey % 6)::BIGINT AS bucket, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
"""


@register("txlog_timestamp_travel", _TTS_SQL)
def txlog_timestamp_travel(spark, sf_dir):
    """TIMESTAMP AS OF time travel (sources/txlog.version_at_timestamp
    + snapshot(timestamp_ms=...)): build a two-commit table (create
    the even-key half, append the odd half), read it AS OF the
    in-commit timestamp of version 0, and aggregate — the snapshot
    must contain exactly the even keys even though the head holds
    all of them. Timestamps are strictly monotone (max(now, prev+1),
    Delta's In-Commit Timestamps rule), so resolution is a binary
    search of the commit range; the oracle states version 0's world
    declaratively over the source table. Own scratch tag: the shared
    lifecycle table may predate in-commit timestamps."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(2, "o_orderkey"),
            path,
        )
        txlog.append(
            o.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(2, "o_orderkey"),
            path,
        )

    path = _scratch_table(sf_dir, "tsasof", build)
    ts0 = txlog.commit_timestamp(path, 0)
    snap = txlog.snapshot(spark, path, timestamp_ms=ts0)
    return snap.groupBy((F.col("o_orderkey") % 6).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# txlog_merge — Delta-style MERGE (upsert) through the commit log
# ---------------------------------------------------------------------------
_MERGE_SQL = """
SELECT o_orderkey,
       ROUND(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END, 2) AS o_totalprice
FROM orders
WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0
"""


@register("txlog_merge", _MERGE_SQL)
def txlog_merge(spark, sf_dir):
    """MERGE upsert through the ACID log (sources/txlog.merge_upsert):
    the table starts as the keys not divisible by 3; the source is
    every even key with price bumped by 1000 — so even keys UPDATE
    (or INSERT if divisible by 6) and odd non-%3 keys pass through
    untouched. Touched-file discovery is one provenance-column
    semi-join; only files containing matched keys are rewritten. The
    oracle states the merged end state declaratively over the source
    table, so the whole upsert path (COW rewrite + source append +
    commit replay) is hash-checked. Scratch table deterministic per
    sf_dir (same reuse policy as the lifecycle table)."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(4, "o_orderkey"),
            path,
        )
        src = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("o_totalprice")
        )
        txlog.merge_upsert(spark, path, src, ["o_orderkey"])

    path = _scratch_table(sf_dir, "merge", build)
    snap = txlog.snapshot(spark, path)
    return snap.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# ---------------------------------------------------------------------------
# txlog_vacuum — physical file cleanup through the retention window
# ---------------------------------------------------------------------------
_VACUUM_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderkey % 10 <> 0
"""


@register("txlog_vacuum", _VACUUM_SQL)
def txlog_vacuum(spark, sf_dir):
    """VACUUM on the ACID table (sources/txlog.vacuum): create →
    COW-delete (%10 keys) → vacuum(keep_last=1). The COW delete
    leaves the pre-delete files on disk for time travel; vacuum
    physically unlinks exactly the files no retained version
    references, driver-side from the log alone. The oracle states
    the surviving snapshot declaratively — hash-matching it proves
    vacuum deleted nothing the live version needs; the physical
    deletion itself (and the broken time travel below the retention
    window) is pinned by tests/test_txlog.py."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.repartitionByRange(4, "o_orderkey"), path)
        txlog.delete_where(spark, path, F.col("o_orderkey") % 10 == 0)
        txlog.vacuum(path, keep_last=1)

    path = _scratch_table(sf_dir, "vacuum", build)
    snap = txlog.snapshot(spark, path)
    return snap.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# ---------------------------------------------------------------------------
# txlog_restore — RESTORE TO VERSION as a new commit
# ---------------------------------------------------------------------------
_RESTORE_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
"""


@register("txlog_restore", _RESTORE_SQL)
def txlog_restore(spark, sf_dir):
    """Version rollback through the commit log (sources/txlog.restore):
    the scratch table runs create(evens) → append(odds) →
    COW-delete(%10==0) → RESTORE to the pre-delete version, and the
    final snapshot must equal the FULL orders projection — i.e. the
    restore exactly resurrected what the delete removed, via one
    O(log) metadata commit that re-adds the pre-delete files (original
    stats entries included, so skipping still works) and removes the
    delete's rewrites. No data movement: restore is the operation that
    makes 'oops' recovery on a 100 TB table a metadata-only act.
    History stays append-only — the rollback is itself a commit with a
    change feed (deletes of rolled-back rows, inserts of resurrected
    ones; pinned in tests/test_txlog.py along with the
    vacuum-blocks-restore guard)."""
    from stockify_spark.sources import txlog

    from pyspark.sql import functions as F

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(4, "o_orderkey"),
            path,
        )
        v_full = txlog.append(
            o.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(4, "o_orderkey"),
            path,
        )
        assert v_full == 1, v_full
        v_del = txlog.delete_where(spark, path, F.col("o_orderkey") % 10 == 0)
        assert v_del == 2, v_del
        v_restored = txlog.restore(path, v_full)
        assert v_restored == 3, v_restored

    path = _scratch_table(sf_dir, "restore", build)
    return txlog.snapshot(spark, path).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# txlog_zorder — multi-dimensional clustering + 2-D pruned probe
# ---------------------------------------------------------------------------

_ZORDER_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 3000
  AND o_totalprice BETWEEN 100000 AND 200000
"""


@register("txlog_zorder", _ZORDER_SQL)
def txlog_zorder(spark, sf_dir):
    """OPTIMIZE ZORDER BY through the commit log: the scratch table
    is compacted on the Morton interleave of (o_orderkey,
    o_totalprice) — each column rank-bucketized to 256 equal-
    population quantile buckets (bounded driver model state, the
    centroid precedent), bits interleaved in one closed-form column
    expression, one repartitionByRange + local sort, no UDF. The
    query is then a 2-D range probe through multi-column log-level
    skipping (txlog.snapshot_pruned_multi): a file opens only if its
    stored min/max box intersects BOTH ranges. On a 1-D-sorted table
    the second column cannot prune at all; on the Z-layout both
    prune to ~sqrt-tight boxes (tests/test_txlog.py measures the
    file counts; bench E2c times it). Results are exact regardless
    of layout — pruning only skips provably-disjoint files and the
    residual filter always runs — which is what the plain-SQL oracle
    checks."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o, path)
        txlog.compact(
            spark,
            path,
            target_partitions=16,
            zorder_by=["o_orderkey", "o_totalprice"],
        )

    path = _scratch_table(sf_dir, "zorder", build)
    return txlog.snapshot_pruned_multi(
        spark,
        path,
        [("o_orderkey", 1000, 3000), ("o_totalprice", 100000.0, 200000.0)],
    ).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# txlog_bloom_lookup — point lookups through the log-stored Bloom index
# ---------------------------------------------------------------------------
_BLOOM_SQL = """
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem
WHERE l_orderkey IN (SELECT MIN(l_orderkey) FROM lineitem
                     UNION SELECT MAX(l_orderkey) FROM lineitem)
"""


@register("txlog_bloom_lookup", _BLOOM_SQL)
def txlog_bloom_lookup(spark, sf_dir):
    """Point lookups on a NON-clustered column through the per-file
    Bloom index committed to the log (sources/txlog.attach_bloom /
    snapshot_point): the scratch table is price-sorted, so min/max
    stats are useless for orderkey probes (every file's key range
    overlaps everything); the 8192-bit/6-hash filter answers
    membership per file from the log alone — an ABSENT key opens
    ZERO files (the ingest-dedup / CDC-anti-join hot path at 100 TB,
    where almost every probed id is new), a present key opens only
    its bloom-hit files, and the residual equality filter keeps
    results exact through any false positive. Probe keys are the min
    and max orderkey — computed identically by both engines, so the
    oracle is plain SQL. Bench E2d reports files_read for present
    and absent probes vs the stats-only path."""
    from stockify_spark.sources import txlog

    from pyspark.sql import functions as F

    def build(path: str) -> None:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
        )
        txlog.create(li, path)
        txlog.compact(spark, path, target_partitions=8, sort_by="l_extendedprice")
        txlog.attach_bloom(spark, path, "l_orderkey")

    path = _scratch_table(sf_dir, "bloomidx", build)
    li = _t(spark, sf_dir, "lineitem")
    (row,) = li.agg(
        F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
    ).collect()  # bounded: two probe keys of model state
    parts = [
        txlog.snapshot_point(spark, path, "l_orderkey", k).select(
            "l_orderkey", "l_partkey", "l_quantity"
        )
        for k in dict.fromkeys([row["lo"], row["hi"]])
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Lakehouse metadata operations and two
# remaining execution shapes.
#
# The txlog ACID format gains its two Delta-parity metadata features:
# additive SCHEMA EVOLUTION (a column added by an append is logged in
# the table's data schema — this pins the end-to-end behavior through
# the log) and
# zero-copy SHALLOW CLONE (a metadata-only commit referencing the
# source's files, with the vacuum foreign-file guard). The two
# execution shapes are the depth-2 sequential recursion (biquad IIR
# filter — two lags of state, completing the sequential-state
# recursion family) and integer bit-interleaving rollups (quadkey /
# Z-order curve as a QUERY over synthetic tile coordinates, the same
# curve txlog_zorder uses for file clustering).
# ---------------------------------------------------------------------------
def _evolution_table(spark, sf_dir: str) -> str:
    """Scratch table: v0 creates WITHOUT o_orderstatus (keys %3==0),
    v1/v2 append WITH it (keys %3==1, %3==2) — old files must read
    the new column as NULL through the widened-schema snapshot."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 == 0).drop("o_orderstatus"), path
        )
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 1), path)
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 2), path)

    return _scratch_table(sf_dir, "evo", build)


_EVO_SQL = """
SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'none' ELSE o_orderstatus END AS status,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1
"""


@register("txlog_schema_evolution", _EVO_SQL)
def txlog_schema_evolution(spark, sf_dir):
    """Additive schema evolution through the commit log: the table
    is created WITHOUT o_orderstatus, later appends carry it, and
    the widened-schema snapshot must serve the old files' rows with
    NULL status while the new files keep their values — the oracle
    states exactly that net effect over the source table (keys
    %3==0 were written pre-evolution → bucket 'none'). The widened
    schema is a log action; no rewrite of old data ever happens."""
    from stockify_spark.sources import txlog

    path = _evolution_table(spark, sf_dir)
    snap = txlog.snapshot(spark, path)
    return snap.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("none")).alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def _clone_tables(spark, sf_dir: str) -> tuple[str, str]:
    """Scratch pair: a 2-version source, a shallow clone of it, then
    DIVERGENT history on the clone only (append dup of keys %10==0,
    COW-delete keys %7==0)."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        src = os.path.join(path, "src")
        dst = os.path.join(path, "dst")
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.filter(F.col("o_orderkey") % 2 == 0), src)
        txlog.append(o.filter(F.col("o_orderkey") % 2 == 1), src)
        txlog.clone(src, dst)
        txlog.append(o.filter(F.col("o_orderkey") % 10 == 0), dst)
        txlog.delete_where(spark, dst, F.col("o_orderkey") % 7 == 0)

    root = _scratch_table(sf_dir, "clone", build)
    return os.path.join(root, "src"), os.path.join(root, "dst")


_CLONE_SQL = """
WITH src AS (
  SELECT 'source' AS face, (o_orderkey % 5)::BIGINT AS bucket,
         COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
  FROM orders GROUP BY 1, 2
),
cl AS (
  SELECT 'clone' AS face, (o_orderkey % 5)::BIGINT AS bucket,
         COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
  FROM (SELECT o_orderkey, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 0)
  WHERE o_orderkey % 7 <> 0
  GROUP BY 1, 2
)
SELECT * FROM src UNION ALL SELECT * FROM cl
"""


@register("txlog_clone", _CLONE_SQL)
def txlog_clone(spark, sf_dir):
    """Zero-copy shallow clone: the clone's commit 0 references the
    source's live files by absolute path (metadata only — no data
    copied), after which the histories DIVERGE: the clone gets an
    extra append (keys %10==0 duplicated) and a COW delete (keys
    %7==0) while the source must remain byte-identical to its
    pre-clone state. Both faces are read in one result (face =
    source|clone); the oracle states each face's net effect over the
    source table. The vacuum foreign-file guard (txlog.vacuum) keeps
    either table's physical cleanup away from the other's files."""
    from stockify_spark.sources import txlog

    src, dst = _clone_tables(spark, sf_dir)
    s = txlog.snapshot(spark, src).groupBy(
        (F.col("o_orderkey") % 5).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    ).select(F.lit("source").alias("face"), "bucket", "n", "total")
    d = txlog.snapshot(spark, dst).groupBy(
        (F.col("o_orderkey") % 5).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    ).select(F.lit("clone").alias("face"), "bucket", "n", "total")
    return s.unionAll(d)


# ---------------------------------------------------------------------------
# Metadata-only aggregates, BM25 ranking,
# exact Shapley attribution, and literal-weight spectral power.
#
# Two more scale idioms made first-class: answering COUNT/MIN/MAX from
# the commit log's per-file statistics without opening a single data
# file (the Delta metadata-only-query optimization, on the shared
# lifecycle table), and the literal-weight trick for transcendental
# kernels — the 18 cos/sin weights of the ramp's fundamental are
# computed ONCE in Python and injected as identical literals into both
# faces, so no cross-engine libm call ever happens in the hot path
# (the broadcast-model-state pattern applied to DSP).
# ---------------------------------------------------------------------------
_META_SQL = """
SELECT COUNT(*) AS n_rows,
       MIN(o_orderkey) AS min_orderkey, MAX(o_orderkey) AS max_orderkey,
       MIN(o_totalprice) AS min_total, MAX(o_totalprice) AS max_total
FROM orders WHERE o_orderkey % 10 <> 0
"""


@register("txlog_metadata_count", _META_SQL)
def txlog_metadata_count(spark, sf_dir):
    """Metadata-only aggregates: COUNT(*)/MIN/MAX of the shared
    lifecycle table (create → append → COW-delete → compact,
    _lifecycle_table) answered ENTIRELY from the commit log's per-file
    statistics — txlog.table_stats opens zero data files; the one-row
    result is createDataFrame'd on the driver. The oracle recomputes
    the same numbers by scanning the source table, so the log's stats
    pipeline (footer harvest at write, merge at read, COW rewrite
    refresh) is verified end-to-end. At 100 TB this is the difference
    between one log read and a full-table scan."""
    from stockify_spark.sources import txlog

    path = _lifecycle_table(spark, sf_dir)
    st = txlog.table_stats(path)
    row = [
        (
            int(st["rows"]),
            int(st["min"]["o_orderkey"]),
            int(st["max"]["o_orderkey"]),
            float(st["min"]["o_totalprice"]),
            float(st["max"]["o_totalprice"]),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_rows long, min_orderkey long, max_orderkey long,"
        " min_total double, max_total double",
    )


# ---------------------------------------------------------------------------
# CHECK-constraint enforcement in the
# txlog ACID format.
#
# Delta-parity table constraints: a SQL predicate registered in the
# commit log that every subsequent write must satisfy row-wise.
# Enforcement costs one aggregate over the WRITE BATCH (never the
# table); constraints survive log checkpoints (the collapse carries
# metadata actions forward — caught by construction in
# sources/txlog.checkpoint_log). The query's oracle proves the
# REJECTION path: two violating appends are attempted and refused
# during the build, and the final hash-checked state equals exactly
# the accepted writes.
# ---------------------------------------------------------------------------
_CHECK_SQL = """
SELECT (o_orderkey % 7)::BIGINT AS bucket, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1
"""


@register("txlog_check_constraint", _CHECK_SQL)
def txlog_check_constraint(spark, sf_dir):
    """CHECK-constraint lifecycle: create the table, register
    o_totalprice > 0, append three valid quarters (one of them
    AFTER a log checkpoint — constraints must survive the
    collapse), and attempt TWO violating appends (negated prices)
    that must raise ConstraintViolation and leave no trace. The
    final snapshot equals all orders exactly — had either rejected
    write landed, the %4==2 bucket would double-count with negative
    prices and the value hash would break."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.filter(F.col("o_orderkey") % 4 == 0), path)
        txlog.set_constraint(path, "positive_price", "o_totalprice > 0")
        txlog.append(o.filter(F.col("o_orderkey") % 4 == 1), path)
        bad = o.filter(F.col("o_orderkey") % 4 == 2).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        )
        try:
            txlog.append(bad, path)
            raise AssertionError("violating append must be rejected")
        except txlog.ConstraintViolation:
            pass
        txlog.append(o.filter(F.col("o_orderkey") % 4 == 2), path)
        txlog.checkpoint_log(path)
        try:
            txlog.append(bad.limit(5), path)
            raise AssertionError(
                "constraint must survive the checkpoint collapse"
            )
        except txlog.ConstraintViolation:
            pass
        txlog.append(o.filter(F.col("o_orderkey") % 4 == 3), path)

    path = _scratch_table(sf_dir, "check", build)
    from stockify_spark.sources import txlog

    snap = txlog.snapshot(spark, path)
    return snap.groupBy(
        (F.col("o_orderkey") % 7).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# Selective OPTIMIZE (small-file
# compaction) as driver-checkable evidence.
#
# Streaming sinks and trickle appends fragment a table into KB-scale
# files; the maintenance op every log-structured format needs is a
# compaction that rewrites ONLY the fragments. sources/txlog.
# compact_small has owned that semantics since the check-constraint
# wave (unit-pinned in tests/test_txlog.py); this registers the
# end-to-end lifecycle as an oracle query so the driver hash-checks
# the one property maintenance must never break: the table reads back
# byte-identically after OPTIMIZE.
# ---------------------------------------------------------------------------
_OPT_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
"""


@register("txlog_optimize_small", _OPT_SQL)
def txlog_optimize_small(spark, sf_dir):
    """OPTIMIZE lifecycle: create a healthy base (even orderkeys,
    range-partitioned), trickle in six small appends (odd orderkeys
    by residue — the streaming-sink fragmentation shape), then
    txlog.compact_small. The build asserts the selective contract
    structurally — every healthy base file keeps its exact path
    (shared with older snapshots, zero rewrite cost) and the six
    fragments collapse into one — and the oracle asserts the content
    contract: the post-OPTIMIZE snapshot is exactly the orders
    table. At 100 TB selective compaction is the difference between
    a maintenance job sized to the fragmentation (MBs) and one sized
    to the table (the full 100 TB rewrite txlog.compact would do).

    Reference anchor: extends the txlog maintenance family
    (compact/zorder/vacuum/restore — SURVEY §7.6 lakehouse row)."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                2, "o_orderkey"
            ),
            path,
        )
        base = set(txlog.live_files(path))
        for r in range(6):
            txlog.append(
                o.filter(
                    (F.col("o_orderkey") % 2 == 1)
                    & (F.col("o_orderkey") % 11 == r)
                ).coalesce(1),
                path,
            )
        txlog.append(
            o.filter(
                (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 11 >= 6)
            ).coalesce(1),
            path,
        )
        live_before = txlog.live_files(path)
        # threshold sits just under the smallest healthy file: the
        # fragments (size < every base file) qualify, the base never
        small_cut = min(os.path.getsize(f) for f in base)
        txlog.compact_small(
            spark, path, min_bytes=small_cut, target_partitions=1
        )
        live_after = set(txlog.live_files(path))
        # selective contract: healthy files share paths across the
        # compaction commit; the 7 fragments became exactly 1
        assert base <= live_after, "healthy base files were rewritten"
        assert len(live_after) == len(base) + 1, (
            len(live_before),
            len(live_after),
        )

    path = _scratch_table(sf_dir, "optsmall", build)
    return txlog.snapshot(spark, path).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read).
#
# The second deletion strategy every modern lakehouse format carries
# (Delta deletion vectors, Iceberg positional delete files): instead
# of the copy-on-write rewrite txlog.delete_where does, record the
# deleted rows' (file, position) pairs in a sidecar and let READERS
# subtract them. Write cost tracks the deleted rows, not the touched
# gigabytes; the trade is read-side work until maintenance folds the
# vectors in (txlog.materialize_dvs). File-rewriting ops refuse while
# DVs are active (_require_no_dvs) — the resurrection hazard is the
# classic MOR design mistake, and the guard + materialize pair is the
# documented contract.
# ---------------------------------------------------------------------------
_DV_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE NOT (o_orderkey % 10 = 0) AND NOT (o_totalprice < 50000)
"""


@register("txlog_deletion_vectors", _DV_SQL)
def txlog_deletion_vectors(spark, sf_dir):
    """MOR-delete lifecycle: create (2 range-partitioned files), DV-
    delete every 10th orderkey, CHECKPOINT the log (the collapse must
    carry add_dv actions — dropping them would undelete), DV-delete
    the sub-50k tail, then read. The build asserts the format's core
    MOR claims structurally: the data file set never changes across
    both deletes (zero rewrite — the entire point), both deletes are
    pure add_dv commits, and positions accumulate across sidecars.
    The oracle asserts the semantic claim: the snapshot equals the
    orders table minus both predicates. Time travel composes: each
    version sees exactly the DVs committed at or before it
    (pinned in tests/test_txlog.py, with the materialize/guard
    contract).

    At 100 TB: a DV delete is one predicate scan emitting positions
    (proportional to matches) + one sidecar write; the read-side
    anti-join broadcasts only ACTIVE vectors, and maintenance
    (materialize_dvs) bounds how many accumulate — the Delta
    DV/OPTIMIZE interplay."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.repartitionByRange(2, "o_orderkey"), path)
        files0 = set(txlog.live_files(path))
        v1 = txlog.delete_where_dv(
            spark, path, F.col("o_orderkey") % 10 == 0
        )
        assert v1 == 1, v1
        txlog.checkpoint_log(path)
        v2 = txlog.delete_where_dv(spark, path, F.col("o_totalprice") < 50000)
        assert v2 == 2, v2
        # zero-rewrite contract: the data file set is untouched
        assert set(txlog.live_files(path)) == files0
        assert len(txlog._replay(path).dvs) == 2
        # time travel: v1 applies only the first DV
        n0 = txlog.snapshot(spark, path, 0).count()
        n1 = txlog.snapshot(spark, path, 1).count()
        n2 = txlog.snapshot(spark, path, 2).count()
        assert n0 > n1 > n2, (n0, n1, n2)

    path = _scratch_table(sf_dir, "dv", build)
    return txlog.snapshot(spark, path).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# DV-aware change data feed — driver-facing evidence for the round-9
# ADVICE fixes: a merge-on-read delete commit must EMIT its rows as
# deletes in the CDF (previously it raised 'commit touched no
# files'), a restore that retires the sidecar must emit them back as
# inserts, and metadata COUNT must track both transitions.
# ---------------------------------------------------------------------------
_DV_CDF_SQL = """
SELECT CAST(1 AS BIGINT) AS version, o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice,
       'delete' AS _change_type
FROM orders WHERE o_orderkey % 7 = 0
UNION ALL
SELECT CAST(2 AS BIGINT) AS version, o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice,
       'insert' AS _change_type
FROM orders WHERE o_orderkey % 7 = 0
"""


@register("txlog_dv_change_feed", _DV_CDF_SQL)
def txlog_dv_change_feed(spark, sf_dir):
    """Change feed across a MOR-delete commit and the restore that
    rolls it back. Build: create → delete_where_dv(k%7=0) at v1 →
    restore(0) at v2 (a pure remove_dv commit). The build asserts
    the metadata row count tracks both transitions (table_stats
    subtracts active DVs — the r9 overcount fix) and that restore's
    head snapshot equals v0 exactly; the oracle pins the feed
    semantics row-for-row: v1 emits exactly the deleted rows as
    deletes, v2 emits exactly the same rows back as inserts.

    Scale shape: changes() reads only the DV sidecars (sized by
    deleted rows, broadcast) plus the files live at both versions —
    never a snapshot diff; the restore commit itself is O(log)."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        n_all = o.count()
        n_del = o.filter(F.col("o_orderkey") % 7 == 0).count()
        txlog.create(o.repartitionByRange(2, "o_orderkey"), path)
        v1 = txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 7 == 0)
        assert v1 == 1, v1
        assert txlog.table_stats(path)["rows"] == n_all - n_del
        v2 = txlog.restore(path, 0)
        assert v2 == 2, v2  # a files-only diff would no-op here
        assert txlog.table_stats(path)["rows"] == n_all
        assert txlog.snapshot(spark, path).count() == n_all

    path = _scratch_table(sf_dir, "dvcdf", build)
    parts = []
    for v in (1, 2):
        parts.append(
            txlog.changes(spark, path, v).select(
                F.lit(v).cast("long").alias("version"),
                "o_orderkey",
                F.round("o_totalprice", 2).alias("o_totalprice"),
                "_change_type",
            )
        )
    return parts[0].unionByName(parts[1])


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance — COUNT/SUM per customer
# maintained through append, COW delete, MOR delete, and restore by
# applying each commit's change feed as a group delta (classic IVM:
# COUNT and SUM are self-maintainable, so no commit rescans the base
# table). The build asserts the maintained view equals a fresh
# recompute at head; the oracle states the final state in closed
# form.
# ---------------------------------------------------------------------------

_MV_SQL = """
WITH final AS (
  SELECT o_custkey, o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_totalprice >= 50000)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total
FROM final GROUP BY o_custkey
"""


@register("txlog_mv_incremental", _MV_SQL)
def txlog_mv_incremental(spark, sf_dir):
    """Commit history: v0 create (orderkey % 3 != 0) → v1 append the
    rest → v2 COW delete (totalprice < 50000) → v3 MOR delete
    (orderkey % 10 = 0) → v4 restore(2), which retires v3's sidecar —
    so the final state is exactly `totalprice >= 50000` and the view
    must walk forward AND backward through deletes. Values aggregate
    as CENTS (exact int64) per the float policy: incremental
    subtraction re-orders reductions, which is only safe in integer
    space.

    Scale shape: each maintenance step costs O(rows the commit
    changed) — the v1 append delta is the appended rows, the v2 delta
    the deleted rows, v3/v4 the DV'd rows read from sidecars — and
    the view state carried between steps is one row per live group.
    The 100 TB form persists the view as its own txlog table with
    merge_upsert applying the same delta algebra."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_totalprice",
        )
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(
                2, "o_orderkey"
            ),
            path,
        )
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 0), path)
        txlog.delete_where(spark, path, F.col("o_totalprice") < 50000)
        txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 10 == 0)
        v4 = txlog.restore(path, 2)
        assert v4 == 4, v4
        # the maintained view must equal a fresh recompute at head
        mv = txlog.incremental_mv(
            spark, path, ["o_custkey"], "cents", 0, v4
        )
        fresh = (
            txlog.snapshot(spark, path)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("total"),
            )
        )
        assert mv.exceptAll(fresh).isEmpty() and fresh.exceptAll(mv).isEmpty()

    path = _scratch_table(sf_dir, "mvinc", build)
    return txlog.incremental_mv(
        spark, path, ["o_custkey"], "cents", 0, txlog.current_version(path)
    ).select("o_custkey", "n_rows", "total")


# ---------------------------------------------------------------------------
# Idempotent streaming ingest — the exactly-once foreachBatch sink
# face of the table format (Delta's txnAppId/txnVersion): every
# batch is appended through append_idempotent WITH deliberate
# replays of already-committed batch ids interleaved; if any replay
# were applied, the oracle's row count and hash would catch the
# duplicates.
# ---------------------------------------------------------------------------

_IDEMPOTENT_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
"""


@register("txlog_idempotent_ingest", _IDEMPOTENT_SQL)
def txlog_idempotent_ingest(spark, sf_dir):
    """Ingest orders in three batches keyed (app='ingest', version =
    0,1,2) with each batch REPLAYED once after commit — the
    at-least-once delivery window a foreachBatch sink lives in. The
    idempotency markers ride the same commit as the file adds, so
    the final state is exactly one copy of every row; a log
    checkpoint mid-history pins that the markers survive collapse.
    Scale shape: a replayed batch costs one driver-side log replay
    and zero data work."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.filter(F.col("o_orderkey") % 3 == 0), path)
        for ver, residue in ((0, 1), (1, 2)):
            batch = o.filter(F.col("o_orderkey") % 3 == residue)
            v = txlog.append_idempotent(batch, path, "ingest", ver)
            # replay: same (app, version) must be a version no-op
            assert txlog.append_idempotent(batch, path, "ingest", ver) == v
            if ver == 0:
                txlog.checkpoint_log(path)  # markers survive collapse
        assert txlog.last_txn_version(path, "ingest") == 1
        n_all = o.count()
        assert txlog.snapshot(spark, path).count() == n_all

    path = _scratch_table(sf_dir, "idem", build)
    return txlog.snapshot(spark, path).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# ---------------------------------------------------------------------------
# Streaming CDF source, exactly-once change
# replication, column-mapping schema evolution, multi-table atomic
# transactions, exact substring dedup (Lee et al. 2022), and dynamic
# partition pruning — the r9 verdict's items 2-3 and 5-7.
#
# The reference engine (stockify.cu:196-743) is one-shot batch over two
# hardcoded columns; everything here is north-star surface (SURVEY
# §7.6) with the same evidence discipline as the rest of the registry:
# every query has a DuckDB closed-form oracle, builds assert their own
# invariants, and scale shapes are stated per docstring.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Streaming source over the commit log — batch face of the SAME
# plan/read path the readStream executes (sources/txlog_stream.py;
# the streaming face runs under trigger(availableNow) with checkpoint
# resume in tests/test_txlog_stream.py).
# ---------------------------------------------------------------------------
_STREAM_APPENDS_SQL = """
SELECT o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice,
       CAST(o_orderkey % 4 AS BIGINT) AS _commit_version
FROM orders
"""


@register("txlog_stream_appends", _STREAM_APPENDS_SQL)
def txlog_stream_appends(spark, sf_dir):
    """Tail-the-table face: commits v0..v3 each append one key
    residue class, v4 is a COW delete (a CHANGE commit). The read
    runs with skip_change_commits=true, so it must deliver exactly
    the appended rows of v0..v3 tagged with their commit version and
    ignore v4 — Delta's skipChangeCommits streaming contract. The
    build also asserts the default mode REFUSES the change commit
    (silently streaming a rewrite as inserts would duplicate rows).

    Scale shape: planning is one driver log read per trigger; each
    added file is one executor-side Arrow read. No shuffle at all —
    the source is a pure scan."""
    from stockify_spark.sources import txlog
    from stockify_spark.sources.txlog_stream import register_txlog_stream

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.filter(F.col("o_orderkey") % 4 == 0).coalesce(1), path)
        for r in (1, 2, 3):
            txlog.append(o.filter(F.col("o_orderkey") % 4 == r).coalesce(1), path)
        txlog.delete_where(spark, path, F.col("o_totalprice") < 50000.0)  # v4
        register_txlog_stream(spark)
        try:
            spark.read.format("txlog_stream").option("path", path).load().count()
            raise AssertionError("change commit must be refused by default")
        except Exception as e:  # AnalysisException wrapping the ValueError
            assert "skip_change_commits" in str(e)

    path = _scratch_table(sf_dir, "tstream", build)
    register_txlog_stream(spark)
    df = (
        spark.read.format("txlog_stream")
        .option("path", path)
        .option("end_version", "4")
        .option("skip_change_commits", "true")
        .load()
    )
    return df.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "_commit_version",
    )


# ---------------------------------------------------------------------------
# Exactly-once change-feed replication — the end-to-end pipeline the
# r9 verdict asked for: CDF read per commit + idempotent sink, resume
# position derived from the DESTINATION's own txn markers.
# ---------------------------------------------------------------------------

_STREAM_CDF_SQL = """
WITH base AS (SELECT o_orderkey, o_totalprice FROM orders)
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
       'insert' AS _change_type, CAST(0 AS BIGINT) AS _src_version
FROM base WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'insert', CAST(1 AS BIGINT)
FROM base WHERE o_orderkey % 3 = 0
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'delete', CAST(2 AS BIGINT)
FROM base WHERE o_totalprice < 30000
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'delete', CAST(3 AS BIGINT)
FROM base WHERE o_totalprice >= 30000 AND o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'insert', CAST(4 AS BIGINT)
FROM base WHERE o_totalprice >= 30000 AND o_orderkey % 10 = 0
"""


@register("txlog_stream_cdf", _STREAM_CDF_SQL)
def txlog_stream_cdf(spark, sf_dir):
    """Scripted history — v0 create (%3!=0), v1 append (%3==0), v2
    COW delete (<30000), v3 MOR delete (%10==0 of the survivors), v4
    restore(2) — replicated into an audit table by
    txlog.replicate_changes with a DELIBERATE mid-pipeline stop at
    v2 and a resume, plus a full replay that must be a no-op: the
    oracle pins the exact multiset of change rows, so a duplicated
    or skipped version hash-mismatches.

    Scale shape: per delivered commit, cost is O(rows the commit
    touched) (changes() reads only the commit's files/sidecars);
    resume position is one driver-side log read of the destination."""
    from stockify_spark.sources import txlog

    def build(root: str) -> None:
        import os

        src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(2, "o_orderkey"),
            src,
        )
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 0), src)
        txlog.delete_where(spark, src, F.col("o_totalprice") < 30000.0)
        txlog.delete_where_dv(spark, src, F.col("o_orderkey") % 10 == 0)
        assert txlog.restore(src, 2) == 4
        # partial delivery (simulated crash after v2), then resume
        assert txlog.replicate_changes(spark, src, dst, "cdf", to_version=2) == 2
        assert txlog.last_txn_version(dst, "cdf") == 2
        assert txlog.replicate_changes(spark, src, dst, "cdf") == 4
        n = txlog.snapshot(spark, dst).count()
        txlog.replicate_changes(spark, src, dst, "cdf")  # replay: no-op
        assert txlog.snapshot(spark, dst).count() == n

    root = _scratch_table(sf_dir, "cdfpipe", build)
    import os

    feed = txlog.snapshot(spark, os.path.join(root, "dst"))
    return feed.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "_change_type",
        "_src_version",
    )


# ---------------------------------------------------------------------------
# Column mapping — rename without rewrite (Delta's column-mapping
# mode; r9 verdict #5). The acceptance case is the POST-RENAME pruned
# read: log-level stats skipping must keep working through the
# logical→physical translation.
# ---------------------------------------------------------------------------

_COLMAP_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
FROM orders WHERE o_totalprice BETWEEN 30000 AND 60000
UNION ALL
SELECT o_orderkey + 10000000 AS o_orderkey, CAST(45000.0 AS DOUBLE) AS price
FROM orders WHERE o_orderkey % 100 = 0
"""


@register("txlog_column_mapping", _COLMAP_SQL)
def txlog_column_mapping(spark, sf_dir):
    """History: create → compact sorted on o_totalprice (4 range
    files) → RENAME o_totalprice→price (metadata-only: the build
    asserts the live file set is unchanged and time travel to v0
    still shows the old name) → MOR delete price<20000 via the
    LOGICAL name → append a logical-named batch (keys+10M at 45000).
    The query is a pruned range read [30000, 60000] on the NEW name;
    the build asserts files are actually skipped (pruning translates
    to the physical stat keys), and the appended rows land in-range,
    proving post-rename writes translate back to physical names.

    Scale shape: the rename is one log write at any table size; the
    pruned read opens only range-intersecting files."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.repartition(2), path)
        txlog.compact(spark, path, target_partitions=4, sort_by="o_totalprice")
        files_before = sorted(txlog.live_files(path))
        assert txlog.rename_column(path, "o_totalprice", "price") == 2
        assert sorted(txlog.live_files(path)) == files_before  # zero rewrite
        assert txlog.snapshot(spark, path, 0).columns == ["o_orderkey", "o_totalprice"]
        txlog.delete_where_dv(spark, path, F.col("price") < 20000.0)
        extra = o.filter(F.col("o_orderkey") % 100 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit(45000.0).alias("price"),
        )
        txlog.append(extra, path)
        pruned = txlog.snapshot_pruned(spark, path, "price", 30000.0, 60000.0)
        n_live = len(txlog.live_files(path))
        assert len(pruned.inputFiles()) < n_live, (len(pruned.inputFiles()), n_live)

    path = _scratch_table(sf_dir, "cmap", build)
    pruned = txlog.snapshot_pruned(spark, path, "price", 30000.0, 60000.0)
    return pruned.select("o_orderkey", F.round("price", 2).alias("price"))


# ---------------------------------------------------------------------------
# Multi-table atomic transaction — WAL/redo two-phase commit (r9
# verdict #7): "write features AND update the index" is
# all-or-nothing across two txlog tables.
# ---------------------------------------------------------------------------

_MTXN_SQL = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_feat,
       CAST(COUNT(*) AS BIGINT) AS n_idx
FROM orders GROUP BY o_custkey
"""


@register("txlog_multi_txn", _MTXN_SQL)
def txlog_multi_txn(spark, sf_dir):
    """Three transactions, each appending a feature batch to one
    table AND its per-customer count delta to a second (the index):
    txn0 and txn1 commit cleanly; txn2 is CRASHED between the two
    per-table commits (fault injection after the manifest publish —
    features got the batch, the index did not). The build asserts the
    in-doubt state is visible (pending_multi), then recover_multi
    REDOES the missing index commit idempotently. The query joins a
    fresh per-customer recount of the features table against the
    index's maintained counts — equal columns prove cross-table
    consistency; the oracle is the closed form over orders.

    Scale shape: the manifest is O(tables × files) metadata; recovery
    replays only commits whose manifest id is absent from a table's
    log — never data work for completed tables."""
    import os

    from stockify_spark.sources import txlog

    def build(root: str) -> None:
        feat, idx = os.path.join(root, "feat"), os.path.join(root, "idx")
        o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")

        def delta(batch):
            return batch.groupBy("o_custkey").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            )

        b0 = o.filter(F.col("o_orderkey") % 2 == 0)
        b1 = o.filter((F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 3 != 0))
        b2 = o.filter((F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 3 == 0))
        txlog.commit_multi([(b0, feat), (delta(b0), idx)], root)
        txlog.commit_multi([(b1, feat), (delta(b1), idx)], root)
        assert txlog.pending_multi(root) == []
        # fault injection: crash after the features commit, before
        # the index commit — the transaction is published (manifest)
        # but only half applied
        txlog.commit_multi([(b2, feat), (delta(b2), idx)], root, _fail_after=1)
        assert len(txlog.pending_multi(root)) == 1
        n_all = o.count()
        assert txlog.snapshot(spark, feat).count() == n_all
        assert (
            txlog.snapshot(spark, idx).agg(F.sum("n")).first()[0] == n_all - b2.count()
        )
        recovered = txlog.recover_multi(root)
        assert len(recovered) == 1
        assert txlog.pending_multi(root) == []
        assert txlog.snapshot(spark, idx).agg(F.sum("n")).first()[0] == n_all
        # recovery is idempotent: a second pass changes nothing
        assert txlog.recover_multi(root) == []
        assert txlog.snapshot(spark, idx).agg(F.sum("n")).first()[0] == n_all

    root = _scratch_table(sf_dir, "mtxn", build)
    feat = txlog.snapshot(spark, os.path.join(root, "feat"))
    idx = txlog.snapshot(spark, os.path.join(root, "idx"))
    n_feat = feat.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_feat")
    )
    n_idx = idx.groupBy("o_custkey").agg(F.sum("n").cast("long").alias("n_idx"))
    # inner join: a customer missing from either side (lost or
    # duplicated commit) changes the row count and fails rows_match
    return n_feat.join(n_idx, "o_custkey").select("o_custkey", "n_feat", "n_idx")


# ---------------------------------------------------------------------------
# Drop column — the second half of column-mapping schema evolution:
# a metadata-only tombstone, reads exclude, time travel keeps, and
# the tombstoned physical name is write-protected.
# ---------------------------------------------------------------------------
_DROPCOL_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice FROM orders
UNION ALL
SELECT o_orderkey + 10000000 AS o_orderkey, ROUND(o_totalprice, 2)
FROM orders WHERE o_orderkey % 100 = 0
"""


@register("txlog_drop_column", _DROPCOL_SQL)
def txlog_drop_column(spark, sf_dir):
    """Create (o_orderkey, o_custkey, o_totalprice) → DROP o_custkey
    (the build asserts zero files rewritten, time travel to v0 still
    carries the column, and re-adding a column named o_custkey is
    REJECTED — without field ids it would resurrect the dropped
    bytes on old files) → append new rows in the narrowed logical
    schema. The snapshot must surface exactly the two surviving
    columns over both file generations.

    Scale shape: the drop is one log write at any table size; reads
    exclude the tombstoned physical column in the same zero-cost
    select that translates renames."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        txlog.create(o.repartition(2), path)
        files_before = sorted(txlog.live_files(path))
        assert txlog.drop_column(path, "o_custkey") == 1
        assert sorted(txlog.live_files(path)) == files_before  # metadata-only
        assert "o_custkey" in txlog.snapshot(spark, path, 0).columns
        try:
            txlog.append(
                o.limit(1).select("o_orderkey", "o_custkey", "o_totalprice"), path
            )
            raise AssertionError("tombstoned physical name must be rejected")
        except ValueError as e:
            assert "tombstoned" in str(e)
        extra = o.filter(F.col("o_orderkey") % 100 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_totalprice",
        )
        txlog.append(extra, path)

    path = _scratch_table(sf_dir, "dropcol", build)
    snap = txlog.snapshot(spark, path)
    assert snap.columns == ["o_orderkey", "o_totalprice"]
    return snap.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


# ---------------------------------------------------------------------------
# Direct streaming CDF — Delta's readChangeFeed face on the stream
# source (r10 verdict stretch #6): row-level insert/delete rows for
# EVERY commit straight off the log, no replicate_changes audit-table
# hop. Same scripted history as txlog_stream_cdf, so the two faces
# are pinned to the identical multiset of change rows.
# ---------------------------------------------------------------------------
_STREAM_CDF_DIRECT_SQL = """
WITH base AS (SELECT o_orderkey, o_totalprice FROM orders)
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
       'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
FROM base WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'insert', CAST(1 AS BIGINT)
FROM base WHERE o_orderkey % 3 = 0
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'delete', CAST(2 AS BIGINT)
FROM base WHERE o_totalprice < 30000
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'delete', CAST(3 AS BIGINT)
FROM base WHERE o_totalprice >= 30000 AND o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, ROUND(o_totalprice, 2), 'insert', CAST(4 AS BIGINT)
FROM base WHERE o_totalprice >= 30000 AND o_orderkey % 10 = 0
"""


@register("txlog_stream_cdf_direct", _STREAM_CDF_DIRECT_SQL)
def txlog_stream_cdf_direct(spark, sf_dir):
    """Direct change-feed read (read_changes=true) over the scripted
    history v0 create (%3!=0), v1 append (%3==0), v2 COW delete
    (<30000), v3 MOR delete via deletion vectors (%10==0 of the
    survivors), v4 restore(2) — the COW diff, the DV pair diff, AND
    the restore's resurrection must all surface as row-level
    insert/delete rows tagged with their commit version, byte-equal
    to what the replicate_changes composition (txlog_stream_cdf)
    delivers for the same history.

    Scale shape: appends stay one partition per file (append-face
    parallelism); each change commit is ONE partition whose diff is
    bounded by the files that commit touched — the batch CDF's
    O(commit) contract, now without the intermediate audit table."""
    from stockify_spark.sources import txlog
    from stockify_spark.sources.txlog_stream import register_txlog_stream

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(2, "o_orderkey"),
            path,
        )
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 0), path)
        txlog.delete_where(spark, path, F.col("o_totalprice") < 30000.0)
        txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 10 == 0)
        assert txlog.restore(path, 2) == 4

    path = _scratch_table(sf_dir, "cdfdirect", build)
    register_txlog_stream(spark)
    feed = (
        spark.read.format("txlog_stream")
        .option("path", path)
        .option("read_changes", "true")
        .load()
    )
    return feed.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "_change_type",
        "_commit_version",
    )


# ---------------------------------------------------------------------------
# txlog_history — DESCRIBE HISTORY: the log's observability face
# (sources/txlog.history). One row per commit with per-action-kind
# counts, logged byte totals, in-commit-timestamp monotonicity, and
# the derived operation kind — the first thing to read when byte
# admission or data skipping behaves unexpectedly.
# ---------------------------------------------------------------------------
_HISTORY_SQL = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), 'create',   CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE, TRUE, TRUE),
  (CAST(1 AS BIGINT), 'append',   CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE, TRUE, TRUE),
  (CAST(2 AS BIGINT), 'metadata', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, FALSE, TRUE),
  (CAST(3 AS BIGINT), 'metadata', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), FALSE, FALSE, TRUE),
  (CAST(4 AS BIGINT), 'append',   CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE, TRUE, TRUE),
  (CAST(5 AS BIGINT), 'delete',   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), TRUE,  FALSE, TRUE)
) AS t(version, operation, n_add, n_remove, n_add_dv, n_txn,
       n_schema, n_constraint, is_change_commit, bytes_logged, ts_monotone)
"""


@register("txlog_history", _HISTORY_SQL)
def txlog_history(spark, sf_dir):
    """DESCRIBE HISTORY over a scripted six-commit table: create
    (2 files) → append (1 file) → rename_column (metadata) →
    CHECK constraint (metadata) → idempotent append (1 file + txn
    marker) → MOR delete-all (ONE deletion-vector sidecar per delete
    operation — cardinality tracks deleted rows, not touched files —
    a change commit). The oracle is the closed-form VALUES of what
    a correct log must contain: per-kind action counts, operation
    classification, change-commit flag (the stream's skip/refuse
    rule), ``bytes_logged`` (add sizes present for every data
    commit — the byte-admission planning input), and in-commit
    timestamp monotonicity across the whole history.

    Scale shape: driver-side, one small JSON per commit — O(history),
    zero data IO; the face is metadata observability, not a scan."""
    import os

    from stockify_spark.sources import txlog

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )

    def build(path: str) -> None:
        t = os.path.join(path, "t")
        txlog.create(orders.filter(F.col("o_orderkey") % 3 == 0).repartition(2), t)
        txlog.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(1), t)
        txlog.rename_column(t, "o_totalprice", "price")
        txlog.set_constraint(t, "pos_price", "price >= 0")
        txlog.append_idempotent(
            orders.filter(F.col("o_orderkey") % 3 == 2)
            .coalesce(1)
            .withColumnRenamed("o_totalprice", "price"),
            t,
            "hist",
            0,
        )
        txlog.delete_where_dv(spark, t, F.col("price") >= 0.0)

    root = _scratch_table(sf_dir, "history", build)
    h = txlog.history(spark, os.path.join(root, "t"))
    from pyspark.sql import Window as _W

    prev_ts = F.lag("ts_ms").over(_W.orderBy("version"))
    return h.select(
        "version",
        "operation",
        "n_add",
        "n_remove",
        "n_add_dv",
        "n_txn",
        "n_schema",
        "n_constraint",
        "is_change_commit",
        (F.col("add_bytes").isNotNull() & (F.col("add_bytes") > 0)).alias(
            "bytes_logged"
        ),
        F.coalesce(F.col("ts_ms") > prev_ts, F.lit(True)).alias("ts_monotone"),
    )


# ---------------------------------------------------------------------------
# The maintenance policy face.
#
# The r12 verdict's top item: every maintenance primitive existed
# (checkpoint_log, compact_small, expire_log, vacuum_orphans,
# compact_gram) but each was a manual call; a real 100 TB deployment
# runs them on thresholds after every ingest cycle, the way Delta's
# auto-compaction and log cleanup do. ``txlog.maintain(path, policy)``
# is that loop; this query states its decision table — two calls over
# a scripted fragmented-ingest fixture — as a closed-form VALUES
# oracle (the txlog_history precedent), including the idempotence
# contract: the second call triggers NOTHING.
# ---------------------------------------------------------------------------

# The scripted fixture: table "t" is a trickle-ingest shape — create
# + 7 single-file appends (v0..v7, 8 small files, no checkpoint) and
# one planted 2-hour-old orphan in data/. Table "gram" holds 3
# incremental-PCA partial rows. The first maintain() call must
# checkpoint (8 commits since > 3), compact (fraction 1.0 > 0.9,
# committing v8), expire commits 0..6 (keep 2, base = the fresh v7
# checkpoint), sweep the 1 orphan, and fold the gram history (3 rows
# > 1, committing v3); the second call must trigger nothing.
_MAINTAIN_SQL = """
SELECT * FROM (VALUES
  ('t',    CAST(1 AS BIGINT), 'checkpoint',     CAST(8.0 AS DOUBLE), CAST(3.0 AS DOUBLE),    TRUE,  CAST(7  AS BIGINT)),
  ('t',    CAST(1 AS BIGINT), 'compact_small',  CAST(1.0 AS DOUBLE), CAST(0.9 AS DOUBLE),    TRUE,  CAST(8  AS BIGINT)),
  ('t',    CAST(1 AS BIGINT), 'expire_log',     CAST(7.0 AS DOUBLE), CAST(2.0 AS DOUBLE),    TRUE,  CAST(7  AS BIGINT)),
  ('t',    CAST(1 AS BIGINT), 'vacuum_orphans', CAST(1.0 AS DOUBLE), CAST(3600.0 AS DOUBLE), TRUE,  CAST(1  AS BIGINT)),
  ('t',    CAST(2 AS BIGINT), 'checkpoint',     CAST(1.0 AS DOUBLE), CAST(3.0 AS DOUBLE),    FALSE, CAST(-1 AS BIGINT)),
  ('t',    CAST(2 AS BIGINT), 'compact_small',  CAST(1.0 AS DOUBLE), CAST(0.9 AS DOUBLE),    FALSE, CAST(-1 AS BIGINT)),
  ('t',    CAST(2 AS BIGINT), 'expire_log',     CAST(0.0 AS DOUBLE), CAST(2.0 AS DOUBLE),    FALSE, CAST(0  AS BIGINT)),
  ('t',    CAST(2 AS BIGINT), 'vacuum_orphans', CAST(0.0 AS DOUBLE), CAST(3600.0 AS DOUBLE), FALSE, CAST(0  AS BIGINT)),
  ('gram', CAST(1 AS BIGINT), 'compact_gram',   CAST(3.0 AS DOUBLE), CAST(1.0 AS DOUBLE),    TRUE,  CAST(3  AS BIGINT)),
  ('gram', CAST(2 AS BIGINT), 'compact_gram',   CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),    FALSE, CAST(-1 AS BIGINT))
) AS m(tbl, call, action, metric, threshold, triggered, result)
"""


@register("txlog_maintain", _MAINTAIN_SQL)
def txlog_maintain(spark, sf_dir):
    """maintain(path, policy): the threshold decision table of two
    back-to-back maintenance passes over a scripted trickle-ingest
    table (+ a gram-stats table), the oracle its closed form. Proves
    the ordering contract (checkpoint BEFORE retention, so the first
    pass both writes the replay base and expires below it), the
    metric arithmetic (commits-since-checkpoint, small-file
    fraction, removable commits, aged orphans, partial rows), and
    idempotence (the second pass triggers nothing and commits
    nothing — the converged state is a fixpoint).

    Scale shape: maintenance cost tracks what's wrong with the table
    — selective compaction rewrites only fragments, retention
    unlinks only expired JSON, the gram fold collects 1+d+d² scalars
    — never table size; the decision pass itself is driver-side log
    metadata plus one count on the gram table."""
    import time

    from stockify_spark.llm.pca import gram_update
    from stockify_spark.sources import txlog

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    policy = {
        "checkpoint_commits": 3,
        "small_file_bytes": 512 << 20,
        "small_file_fraction": 0.9,
        "log_keep_versions": 2,
        "orphan_age_seconds": 3600.0,
    }

    def build(path: str) -> None:
        t = os.path.join(path, "t")
        txlog.create(orders.filter(F.col("o_orderkey") % 10 == 0).coalesce(1), t)
        for r in range(1, 8):
            txlog.append(
                orders.filter(F.col("o_orderkey") % 10 == r).coalesce(1), t
            )
        orphan = os.path.join(t, "data", "orphan_debris.parquet")
        with open(orphan, "wb") as f:
            f.write(b"crashed-writer debris")
        old = time.time() - 7200
        os.utime(orphan, (old, old))
        g = os.path.join(path, "gram")
        for v in range(3):
            gram_update(
                emb.filter(F.col("vec_id") % 3 == v), g, app_id="m91",
                batch_version=v,
            )
        rows = []
        for call in (1, 2):
            for d in txlog.maintain(spark, t, policy):
                rows.append({"tbl": "t", "call": call, **d})
            for d in txlog.maintain(spark, g, {"gram_partial_rows": 1}):
                rows.append({"tbl": "gram", "call": call, **d})
        with open(os.path.join(path, "decisions.json"), "w") as f:
            json.dump(rows, f)

    root = _scratch_table(sf_dir, "maintain", build)
    with open(os.path.join(root, "decisions.json")) as f:
        rows = json.load(f)
    return spark.createDataFrame(
        [
            (
                r["tbl"],
                r["call"],
                r["action"],
                r["metric"],
                r["threshold"],
                r["triggered"],
                r["result"],
            )
            for r in rows
        ],
        "tbl string, call long, action string, metric double,"
        " threshold double, triggered boolean, result long",
    )


# ---------------------------------------------------------------------------
# txlog_retention — log retention as a driver-facing contract: after
# expire_log trims the prefix below a checkpointed horizon, every
# in-horizon version still reads EXACTLY (counts stated by the oracle
# from the same slicing arithmetic), out-of-horizon reads raise the
# documented error, history pages over the surviving range, and the
# table keeps accepting writes. Most faces are exercised LIVE at
# query time against the cached expired fixture — not replayed from
# persisted flags.
# ---------------------------------------------------------------------------
_RETENTION_SQL = """
WITH c AS (SELECT o_orderkey % 6 AS r FROM orders)
SELECT 'earliest_version' AS face, CAST(3 AS BIGINT) AS value
UNION ALL SELECT 'snap_v3', (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE r <= 3)
UNION ALL SELECT 'snap_v4', (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE r <= 4)
UNION ALL SELECT 'snap_v5', (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE r <= 5)
UNION ALL SELECT 'expired_read_raises', CAST(1 AS BIGINT)
UNION ALL SELECT 'expired_ts_raises', CAST(1 AS BIGINT)
UNION ALL SELECT 'history_rows_default', CAST(4 AS BIGINT)
UNION ALL SELECT 'history_rows_page_3_5', CAST(3 AS BIGINT)
UNION ALL SELECT 'history_rows_page_4_5', CAST(2 AS BIGINT)
UNION ALL SELECT 'post_append_head', CAST(6 AS BIGINT)
"""


@register("txlog_retention", _RETENTION_SQL)
def txlog_retention(spark, sf_dir):
    """Log retention end-to-end: a six-commit history (create + five
    appends of the o_orderkey % 6 residue slices) checkpointed at v3,
    appended to v5, then expire_log(keep_versions=3) — commits 0..2
    physically gone, v6 appended after. The oracle recomputes the
    surviving versions' exact row counts from the slicing arithmetic
    (a version-v snapshot is the residues <= v), and states the
    contract booleans: reads and timestamp resolution below the
    horizon raise VersionExpired, history defaults to the surviving
    range and pages within it, and the post-expiry append landed.

    Scale shape: retention bounds the log dir at O(keep_versions)
    JSON files and history cost at O(page); data files and every
    in-horizon read are untouched — the contract that lets a
    10⁶-commit stream table run maintain() forever."""
    import os

    from stockify_spark.sources import txlog

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def build(path: str) -> None:
        t = os.path.join(path, "t")
        txlog.create(orders.filter(F.col("o_orderkey") % 6 == 0).coalesce(1), t)
        for r in (1, 2, 3):
            txlog.append(
                orders.filter(F.col("o_orderkey") % 6 == r).coalesce(1), t
            )
        assert txlog.checkpoint_log(t) == 3
        for r in (4, 5):
            txlog.append(
                orders.filter(F.col("o_orderkey") % 6 == r).coalesce(1), t
            )
        removed = txlog.expire_log(t, keep_versions=3)
        assert [n for n in removed if n.endswith(".json")] and len(removed) == 3
        # the table keeps accepting writes after expiry: v6 is an
        # empty append (head advances, slice arithmetic undisturbed)
        txlog.append(
            orders.filter(F.col("o_orderkey") % 6 == 0).limit(0).coalesce(1),
            t,
        )

    root = _scratch_table(sf_dir, "retention", build)
    t = os.path.join(root, "t")
    rows = [("earliest_version", txlog.earliest_version(t))]
    for v in (3, 4, 5):
        rows.append((f"snap_v{v}", txlog.snapshot(spark, t, version=v).count()))
    try:
        txlog.snapshot(spark, t, version=2).count()
        rows.append(("expired_read_raises", 0))
    except txlog.VersionExpired:
        rows.append(("expired_read_raises", 1))
    try:
        txlog.version_at_timestamp(t, txlog.commit_timestamp(t, 3) - 1)
        rows.append(("expired_ts_raises", 0))
    except txlog.VersionExpired:
        rows.append(("expired_ts_raises", 1))
    # default range is earliest..head (v3..v6, incl. the post-expiry
    # append); explicit pages stay inside the surviving window
    rows.append(("history_rows_default", txlog.history(spark, t).count()))
    rows.append(
        ("history_rows_page_3_5", txlog.history(spark, t, start=3, end=5).count())
    )
    rows.append(
        ("history_rows_page_4_5", txlog.history(spark, t, start=4, end=5).count())
    )
    rows.append(("post_append_head", txlog.current_version(t)))
    return spark.createDataFrame(rows, "face string, value long")


# ---------------------------------------------------------------------------
# txlog_maintain_cluster — the clustered form of the maintenance
# policy (Delta's OPTIMIZE ZORDER BY as a threshold decision): the
# small-file trigger runs the full Z-ordered rewrite, the vacuum step
# reclaims the retired fragments in the same pass, and the policy
# converges (call 2 triggers nothing — the convergence gate is the
# target layout width, since at fixture scale compacted files never
# outgrow small_file_bytes). Read-time invariants prove the rewrite
# preserved every row and RESTORED multi-column skipping.
# ---------------------------------------------------------------------------

_MAINTAIN_CLUSTER_SQL = """
SELECT 'call1_compact_triggered' AS face, CAST(1 AS BIGINT) AS value
UNION ALL SELECT 'call1_compact_result', CAST(8 AS BIGINT)
UNION ALL SELECT 'call1_vacuum_result', CAST(8 AS BIGINT)
UNION ALL SELECT 'call2_compact_triggered', CAST(0 AS BIGINT)
UNION ALL SELECT 'call2_vacuum_result', CAST(0 AS BIGINT)
UNION ALL SELECT 'files_live', CAST(4 AS BIGINT)
UNION ALL SELECT 'rows', (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
UNION ALL SELECT 'pruned_lt_total', CAST(1 AS BIGINT)
"""


@register("txlog_maintain_cluster", _MAINTAIN_CLUSTER_SQL)
def txlog_maintain_cluster(spark, sf_dir):
    """Clustered maintenance end-to-end: an 8-fragment trickle table
    (o_orderkey % 8 residues, one file each) maintained with
    compact_zorder_by=(o_totalprice, o_custkey), target width 4, and
    vacuum_keep_last=1. Call 1 must Z-rewrite into 4 files (commit
    v8) AND reclaim the 8 retired fragments' bytes; call 2 must be a
    fixpoint. Live invariants at read time: 4 live files, the exact
    source row count survived the rewrite+vacuum, and a 2-D
    min-corner probe through the log's min/max boxes opens FEWER
    files than the layout width — the skipping geometry the rewrite
    exists to restore (bench E2c measures the same physics at 16
    files).

    Scale shape: the clustered form is the policy's one O(live set)
    action, gated on layout width so it cannot loop; vacuum's cost is
    O(files reclaimed); the probe is log-metadata-only pruning."""
    import json as _json
    import os

    from stockify_spark.sources import txlog

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )
    pol = {
        "small_file_bytes": 512 << 20,
        "small_file_fraction": 0.5,
        "compact_target_partitions": 4,
        "compact_zorder_by": ["o_totalprice", "o_custkey"],
        "vacuum_keep_last": 1,
    }

    def build(path: str) -> None:
        t = os.path.join(path, "t")
        txlog.create(orders.filter(F.col("o_orderkey") % 8 == 0).coalesce(1), t)
        for r in range(1, 8):
            txlog.append(
                orders.filter(F.col("o_orderkey") % 8 == r).coalesce(1), t
            )
        calls = [txlog.maintain(spark, t, pol) for _ in (1, 2)]
        with open(os.path.join(path, "decisions.json"), "w") as f:
            _json.dump(calls, f)

    root = _scratch_table(sf_dir, "maintaincluster", build)
    t = os.path.join(root, "t")
    with open(os.path.join(root, "decisions.json")) as f:
        c1, c2 = _json.load(f)
    d1 = {d["action"]: d for d in c1}
    d2 = {d["action"]: d for d in c2}
    lo_p, lo_c = orders.agg(
        F.min("o_totalprice"), F.min("o_custkey")
    ).collect()[0]
    pruned = txlog.snapshot_pruned_multi(
        spark,
        t,
        [("o_totalprice", lo_p, lo_p + 1000.0), ("o_custkey", lo_c, lo_c + 5)],
    )
    n_live = len(txlog.live_files(t))
    rows = [
        ("call1_compact_triggered", int(d1["compact_cluster"]["triggered"])),
        ("call1_compact_result", int(d1["compact_cluster"]["result"])),
        ("call1_vacuum_result", int(d1["vacuum"]["result"])),
        ("call2_compact_triggered", int(d2["compact_cluster"]["triggered"])),
        ("call2_vacuum_result", int(d2["vacuum"]["result"])),
        ("files_live", n_live),
        ("rows", txlog.snapshot(spark, t).count()),
        ("pruned_lt_total", int(len(pruned.inputFiles()) < n_live)),
    ]
    return spark.createDataFrame(rows, "face string, value long")


# ---------------------------------------------------------------------------
# Partitioned txlog tables + label
# propagation.
#
# ``txlog_partitioned`` drives the Hive-style partition-column
# support (sources/txlog.py create_partitioned / partitionValues /
# snapshot_partition_pruned — Delta's partition design: each add
# records its file's partition in the LOG, so pruning needs zero file
# opens). ``graph_label_propagation``
# adds the community-detection primitive next to graph_pagerank /
# graph_kcore, with the same bounded-round oracle contract the peel
# uses.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# txlog_partitioned — partition columns + log-level partition pruning
# ---------------------------------------------------------------------------
_PRIS = ("1-URGENT", "3-MEDIUM")


_PART_SQL = f"""
SELECT o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(o_totalprice), 2) AS sum_total,
       CAST(2 AS BIGINT) AS files_opened,
       CAST(10 AS BIGINT) AS files_total
FROM orders
WHERE o_orderpriority IN ('{_PRIS[0]}', '{_PRIS[1]}')
GROUP BY o_orderpriority
"""


@register("txlog_partitioned", _PART_SQL)
def txlog_partitioned(spark, sf_dir):
    """Partitioned txlog table end-to-end: create orders partitioned
    by priority (each file holds one priority and keeps the column;
    its add action also records the value — Delta's partitionValues),
    append a second batch, then answer a per-priority aggregate from
    PARTITION-PRUNED reads. The structural columns pin the pruning
    contract: each probed priority opens exactly its own 2 files (1
    per write) of the table's 10 — counted from the log alone before
    any scan. The oracle recomputes the aggregates straight from
    orders, so a partition value mis-parsed from the staging layout,
    a file holding another partition's rows, or a pruned read that
    dropped a file changes rows or sums.

    Scale shape: pruning cost is O(live add actions) driver-side log
    metadata (the same ledger every snapshot already replays); the
    read plans one multi-file scan of the matching files. At 100 TB
    this is the difference between scanning a table and scanning a
    partition — the first lever any warehouse pulls."""
    from stockify_spark.sources import txlog

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )

    def build(path: str) -> None:
        t = os.path.join(path, "t")
        txlog.create_partitioned(
            orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1),
            t,
            ["o_orderpriority"],
        )
        txlog.append(orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1), t)
        counts = {
            "files_total": len(txlog.live_files(t)),
            "files_opened": {
                p: len(txlog.partition_files(t, {"o_orderpriority": p}))
                for p in _PRIS
            },
        }
        with open(os.path.join(path, "counts.json"), "w") as f:
            json.dump(counts, f)

    root = _scratch_table(sf_dir, "partitioned", build)
    t = os.path.join(root, "t")
    with open(os.path.join(root, "counts.json")) as f:
        counts = json.load(f)

    pieces = []
    for p in _PRIS:
        pruned = txlog.snapshot_partition_pruned(spark, t, {"o_orderpriority": p})
        pieces.append(
            pruned.groupBy(F.col("o_orderpriority").alias("pri")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
                F.lit(counts["files_opened"][p]).cast("bigint").alias(
                    "files_opened"
                ),
                F.lit(counts["files_total"]).cast("bigint").alias("files_total"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Partitioned-table maintenance + the
# streaming CUSUM detector.
#
# ``txlog_partitioned_compact`` drives the per-partition OPTIMIZE, the
# unit a trickle-ingested partitioned table fragments in.
# ``stream_cusum_alarm`` adds an ORDER-SENSITIVE stateful streaming
# operator next to the order-free running totals: Page's CUSUM with
# O(1) per-key state, whose batch face turns the sequential recurrence
# into one window pass via the prefix identity — the differential
# contract a change-point monitor needs.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# txlog_partitioned_compact — per-partition OPTIMIZE
# ---------------------------------------------------------------------------
_PC_SQL = """
SELECT pri, files_before, files_after, n_rows, sum_total
FROM (
  SELECT o_orderpriority AS pri,
         CAST(4 AS BIGINT) AS files_before,
         CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 4 END
              AS BIGINT) AS files_after,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         ROUND(SUM(o_totalprice), 2) AS sum_total
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
  GROUP BY o_orderpriority)
"""


@register("txlog_partitioned_compact", _PC_SQL)
def txlog_partitioned_compact(spark, sf_dir):
    """Per-partition compaction on a trickle-ingested partitioned
    table: four single-task writes leave every priority partition
    with 4 files; compact_partition('1-URGENT') rewrites exactly
    that partition to 1 file in one atomic commit — the untouched
    '3-MEDIUM' partition keeps its 4 (structural columns pinned from
    the log alone), and the data aggregates over BOTH partitions
    still match the raw orders table, read through partition-pruned
    snapshots of the post-compaction version. Time-travel to the
    pre-compaction version is exercised in
    tests/test_txlog_partitioned.py.

    Scale shape: the rewrite reads only the target partition's
    files; the commit is adds+removes for that partition only — the
    same fragmentation-tracks-cost contract as compact_small, scoped
    to the partition a streaming sink actually fragmented."""
    from stockify_spark.sources import txlog

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )

    def build(path: str) -> None:
        t = os.path.join(path, "t")
        txlog.create_partitioned(
            orders.filter(F.col("o_orderkey") % 4 == 0).coalesce(1),
            t,
            ["o_orderpriority"],
        )
        for r in (1, 2, 3):
            txlog.append(
                orders.filter(F.col("o_orderkey") % 4 == r).coalesce(1), t
            )
        before = {
            p: len(txlog.partition_files(t, {"o_orderpriority": p}))
            for p in ("1-URGENT", "3-MEDIUM")
        }
        txlog.compact_partition(spark, t, {"o_orderpriority": "1-URGENT"})
        after = {
            p: len(txlog.partition_files(t, {"o_orderpriority": p}))
            for p in ("1-URGENT", "3-MEDIUM")
        }
        with open(os.path.join(path, "files.json"), "w") as f:
            json.dump({"before": before, "after": after}, f)

    root = _scratch_table(sf_dir, "partcompact", build)
    t = os.path.join(root, "t")
    with open(os.path.join(root, "files.json")) as f:
        counts = json.load(f)

    pieces = []
    for p in ("1-URGENT", "3-MEDIUM"):
        snap = txlog.snapshot_partition_pruned(spark, t, {"o_orderpriority": p})
        pieces.append(
            snap.groupBy(F.col("o_orderpriority").alias("pri")).agg(
                F.lit(counts["before"][p]).cast("bigint").alias("files_before"),
                F.lit(counts["after"][p]).cast("bigint").alias("files_after"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select("pri", "files_before", "files_after", "n_rows", "sum_total")
