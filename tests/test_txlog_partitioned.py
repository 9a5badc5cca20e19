"""Partition-column support in the txlog (sources/txlog.py
create_partitioned / partitionValues / snapshot_partition_pruned),
plus the label-propagation pins of queries/graph.py."""

from __future__ import annotations

import os
import tempfile
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from stockify_spark.sources import txlog
from tests.conftest import SF_SMOKE


@pytest.fixture()
def ptable(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="ptab_"), "t")
    df = spark.range(0, 100).select(
        "id",
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 4).cast("string")))
        .alias("grp"),
    )
    v0 = txlog.create_partitioned(df.coalesce(1), path, ["bucket", "grp"])
    txlog.append(df.withColumn("id", F.col("id") + 100).coalesce(1), path)
    exp = df.union(df.withColumn("id", F.col("id") + 100))
    return path, exp, v0


def _vals(df):
    return sorted((r.id, r.bucket, r.grp) for r in df.collect())


def test_snapshot_reconstitutes_partition_columns(spark, ptable):
    path, exp, _ = ptable
    snap = txlog.snapshot(spark, path)
    assert _vals(snap) == _vals(exp)
    # typed literals, not strings: bucket comes back as the int the
    # writer declared
    assert dict(snap.dtypes)["bucket"] == "int"


def test_partition_pruning_is_exact_and_bounded(spark, ptable):
    path, exp, _ = ptable
    pr = txlog.snapshot_partition_pruned(spark, path, {"bucket": 1, "grp": "g1"})
    want = exp.filter((F.col("bucket") == 1) & (F.col("grp") == "g1"))
    assert _vals(pr) == _vals(want)
    opened = txlog.partition_files(path, {"bucket": 1, "grp": "g1"})
    assert len(opened) == 2  # one file per write for this partition
    assert len(opened) < len(txlog.live_files(path))
    # single-column prune matches a filter over the full snapshot
    pr1 = txlog.snapshot_partition_pruned(spark, path, {"bucket": 2})
    assert _vals(pr1) == _vals(exp.filter(F.col("bucket") == 2))


def test_null_partition_values_round_trip(spark, ptable):
    path, exp, _ = ptable
    prn = txlog.snapshot_partition_pruned(spark, path, {"grp": None})
    rows = prn.collect()
    assert len(rows) == 20 and all(r.grp is None for r in rows)


def test_time_travel_and_checkpoint_preserve_partitioning(spark, ptable):
    path, exp, v0 = ptable
    assert txlog.snapshot(spark, path, version=v0).count() == 100
    txlog.checkpoint_log(path)
    snap = txlog.snapshot(spark, path)
    assert snap.count() == 200
    assert "bucket" in snap.columns  # spec survived the collapse
    assert txlog._replay(path).partitioning["cols"] == ["bucket", "grp"]


def test_append_requires_partition_columns(spark, ptable):
    path, _, _ = ptable
    with pytest.raises(ValueError, match="partition columns"):
        txlog.append(spark.range(3).select("id"), path)


def test_unpartitioned_tables_reject_partition_faces(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="flat_"), "t")
    txlog.create(spark.range(5), path)
    with pytest.raises(ValueError, match="not partitioned"):
        txlog.snapshot_partition_pruned(spark, path, {"id": 1})


def test_raw_read_and_rewrite_faces_refuse_partitioned_tables(spark, ptable):
    path, _, _ = ptable
    for op, call in [
        ("compact_small", lambda: txlog.compact_small(spark, path)),
        ("delete_where", lambda: txlog.delete_where(spark, path, F.col("id") < 5)),
        (
            "merge_upsert",
            lambda: txlog.merge_upsert(spark, path, spark.range(2), ["id"]),
        ),
        ("changes", lambda: txlog.changes(spark, path, 1)),
        (
            "snapshot_pruned",
            lambda: txlog.snapshot_pruned(spark, path, "id", 0, 5),
        ),
        ("clone", lambda: txlog.clone(path, path + "_c")),
    ]:
        with pytest.raises(NotImplementedError, match="partitioned"):
            call()


def test_label_propagation_matches_python(spark):
    """2-round deterministic LPA recomputed in pure Python from the
    same residue-graph edges."""
    from stockify_spark.queries.graph import _kcore_sym_edges
    from stockify_spark.queries.graph import graph_label_propagation

    sym = _kcore_sym_edges(spark, SF_SMOKE)
    nbrs = defaultdict(list)
    for r in sym.collect():
        nbrs[r.a].append(r.b)
    labels = {n: n for n in nbrs}
    for _ in range(2):
        new = {}
        for n, ns in nbrs.items():
            votes = Counter(labels[x] for x in ns)
            top = max(votes.values())
            new[n] = min(l for l, c in votes.items() if c == top)
        labels = new
    got = {r.node: r.label for r in graph_label_propagation(spark, SF_SMOKE).collect()}
    assert got == labels
    # propagation actually coarsens: fewer distinct labels than nodes
    assert len(set(labels.values())) < len(labels)


def test_compact_partition_rewrites_only_the_target(spark, ptable):
    path, exp, _ = ptable
    tgt = {"bucket": 1, "grp": "g1"}
    other = {"bucket": 2, "grp": "g2"}
    before_t = txlog.partition_files(path, tgt)
    before_o = txlog.partition_files(path, other)
    v_pre = txlog.current_version(path)
    assert len(before_t) == 2
    txlog.compact_partition(spark, path, tgt)
    after_t = txlog.partition_files(path, tgt)
    assert len(after_t) == 1 and set(after_t).isdisjoint(before_t)
    # untouched partition keeps its exact files (still shared)
    assert txlog.partition_files(path, other) == before_o
    # values identical through the rewrite, and time travel to the
    # pre-compaction version still sees the old file layout
    snap = txlog.snapshot_partition_pruned(spark, path, tgt)
    want = exp.filter((F.col("bucket") == 1) & (F.col("grp") == "g1"))
    assert _vals(snap) == _vals(want)
    assert txlog.partition_files(path, tgt, version=v_pre) == before_t
    assert _vals(txlog.snapshot(spark, path)) == _vals(exp)


def test_compact_partition_requires_full_key_and_partitioned_table(spark, ptable):
    path, _, _ = ptable
    with pytest.raises(ValueError, match="FULL partition key"):
        txlog.compact_partition(spark, path, {"bucket": 1})
    flat = os.path.join(tempfile.mkdtemp(prefix="flatc_"), "t")
    txlog.create(spark.range(5), flat)
    with pytest.raises(ValueError, match="not partitioned"):
        txlog.compact_partition(spark, flat, {"id": 1})


def test_compact_partition_noop_when_already_compact(spark, ptable):
    path, _, _ = ptable
    tgt = {"bucket": 1, "grp": "g1"}
    txlog.compact_partition(spark, path, tgt)
    v = txlog.current_version(path)
    assert txlog.compact_partition(spark, path, tgt) == v  # fixpoint


def test_maintain_compacts_partitioned_tables_per_partition(spark, ptable):
    path, exp, _ = ptable
    policy = {"small_file_bytes": 512 << 20, "small_file_fraction": 0.5}
    decisions = {d["action"]: d for d in txlog.maintain(spark, path, policy)}
    assert decisions["compact_small"]["triggered"]
    # every partition is now at the 1-file target; values intact
    for key, adds in txlog._group_adds_by_partition(
        txlog._replay(path).adds.values()
    ).items():
        assert len(adds) == 1, key
    assert _vals(txlog.snapshot(spark, path)) == _vals(exp)
    # idempotence: the converged state is a fixpoint
    again = {d["action"]: d for d in txlog.maintain(spark, path, policy)}
    assert not again["compact_small"]["triggered"]


def test_maintain_clustered_sort_runs_per_partition_zorder_refused(spark, ptable):
    path, exp, _ = ptable
    with pytest.raises(NotImplementedError, match="z-ordered"):
        txlog.maintain(
            spark,
            path,
            {"small_file_bytes": 1, "compact_zorder_by": ["id", "bucket"]},
        )
    # sorted per-partition OPTIMIZE: compacts AND clusters on id
    policy = {
        "small_file_bytes": 512 << 20,
        "small_file_fraction": 0.5,
        "compact_sort_by": "id",
    }
    decisions = {d["action"]: d for d in txlog.maintain(spark, path, policy)}
    assert decisions["compact_cluster"]["triggered"]
    for key, adds in txlog._group_adds_by_partition(
        txlog._replay(path).adds.values()
    ).items():
        assert len(adds) == 1, key
        st = adds[0].get("stats", {})
        assert "id" in st.get("min", {})  # stats present for skipping
    assert _vals(txlog.snapshot(spark, path)) == _vals(exp)
    again = {d["action"]: d for d in txlog.maintain(spark, path, policy)}
    assert not again["compact_cluster"]["triggered"]


def test_compact_partition_sort_by_rejects_partition_columns(spark, ptable):
    path, _, _ = ptable
    with pytest.raises(ValueError, match="partition column"):
        txlog.compact_partition(
            spark, path, {"bucket": 1, "grp": "g1"}, sort_by="bucket"
        )


def test_compact_partition_sorts_on_renamed_column(spark):
    """Under column mapping compact_partition clusters on the LOGICAL
    name, as compact does: after a rename v -> w, sort_by="w" sorts
    on the physical v the files carry, the retired name is refused,
    and the rows keep their logical columns."""
    path = os.path.join(tempfile.mkdtemp(prefix="pren_"), "t")
    df = spark.range(0, 60).select(
        "id",
        (F.col("id") * 7 % 60).alias("v"),
        (F.col("id") % 3).cast("int").alias("bucket"),
    )
    txlog.create_partitioned(df.coalesce(1), path, ["bucket"])
    for off in (60, 120):
        txlog.append(df.withColumn("id", F.col("id") + off).coalesce(1), path)
    exp = sorted((r.id, r.v, r.bucket) for r in txlog.snapshot(spark, path).collect())
    txlog.rename_column(path, "v", "w")
    with pytest.raises(ValueError, match="'v'"):
        txlog.compact_partition(spark, path, {"bucket": 1}, target_partitions=2, sort_by="v")
    txlog.compact_partition(spark, path, {"bucket": 1}, target_partitions=2, sort_by="w")
    adds = [
        a for a in txlog._replay(path).adds.values() if a["partitionValues"] == {"bucket": "1"}
    ]
    # two range-sorted files on the physical column: disjoint boxes
    boxes = sorted((a["stats"]["min"]["v"], a["stats"]["max"]["v"]) for a in adds)
    assert len(boxes) == 2 and boxes[0][1] < boxes[1][0]
    snap = txlog.snapshot(spark, path)
    assert snap.columns == ["id", "w", "bucket"]
    assert sorted((r.id, r.w, r.bucket) for r in snap.collect()) == exp


# ---------------------------------------------------------------------------
# r13 ADVICE items 1-3: partitioned routing for the idempotent /
# multi-table writers, and typed partition-value normalization
# ---------------------------------------------------------------------------


def test_append_idempotent_routes_partition_values(spark, ptable):
    """A streaming sink (append_idempotent / foreach_batch_sink)
    pointed at a partitioned table must stage adds WITH
    partitionValues — pre-fix it committed partition-less files that
    every pruned read silently missed."""
    path, exp, _ = ptable
    batch = spark.range(200, 220).select(
        "id",
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )
    txlog.append_idempotent(batch.coalesce(1), path, "app1", 0)
    # every live add carries the full partition key
    for a in txlog._replay(path).adds.values():
        assert set(a.get("partitionValues", {})) == {"bucket", "grp"}
    # pruned read sees the new rows
    pr = txlog.snapshot_partition_pruned(spark, path, {"bucket": 1, "grp": "g1"})
    got = sorted(r.id for r in pr.collect() if r.id >= 200)
    want = sorted(
        r.id for r in batch.collect() if r.bucket == 1 and r.grp == "g1"
    )
    assert got == want and len(want) > 0
    # snapshot reconstitutes typed partition columns, no nulls
    snap = txlog.snapshot(spark, path)
    assert snap.filter(F.col("bucket").isNull()).count() == 0
    # replayed batch is still a no-op
    v = txlog.current_version(path)
    txlog.append_idempotent(batch.coalesce(1), path, "app1", 0)
    assert txlog.current_version(path) == v
    # missing partition columns raise instead of committing
    with pytest.raises(ValueError, match="partition columns"):
        txlog.append_idempotent(
            spark.range(300, 301).select("id"), path, "app1", 1
        )


def test_commit_multi_routes_partition_values(spark, ptable):
    """A partitioned member of a multi-table transaction stages adds
    with partitionValues (pre-fix: silent partition-less adds)."""
    path, exp, _ = ptable
    root = tempfile.mkdtemp(prefix="mtxn_")
    plain = os.path.join(root, "plain")
    batch_p = spark.range(500, 510).select(
        "id",
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )
    batch_u = spark.range(0, 5).select("id")
    txlog.commit_multi(
        [(batch_p.coalesce(1), path), (batch_u.coalesce(1), plain)], root
    )
    # all live adds on the partitioned table carry the key
    for a in txlog._replay(path).adds.values():
        assert set(a.get("partitionValues", {})) == {"bucket", "grp"}
    snap = txlog.snapshot(spark, path)
    assert snap.filter(F.col("id") >= 500).count() == 10
    assert snap.filter(F.col("bucket").isNull()).count() == 0
    assert txlog.snapshot(spark, plain).count() == 5
    # partitioned member missing its key raises in phase 1 (nothing
    # staged to either table's log)
    v_p = txlog.current_version(path)
    v_u = txlog.current_version(plain)
    with pytest.raises(ValueError, match="partition columns"):
        txlog.commit_multi(
            [(spark.range(900, 901).select("id"), path)], root
        )
    assert txlog.current_version(path) == v_p
    assert txlog.current_version(plain) == v_u


def test_boolean_partition_values_normalize(spark):
    """equals={"flag": True} must match Spark's hive directory
    booleans ("true"/"false"), not str(True)="True" — pre-fix the
    pruned read silently returned an empty result."""
    path = os.path.join(tempfile.mkdtemp(prefix="pbool_"), "t")
    df = spark.range(0, 20).select(
        "id", (F.col("id") % 2 == 0).alias("flag")
    )
    txlog.create_partitioned(df.coalesce(1), path, ["flag"])
    stored = {
        a["partitionValues"]["flag"] for a in txlog._replay(path).adds.values()
    }
    assert stored == {"true", "false"}
    pr = txlog.snapshot_partition_pruned(spark, path, {"flag": True})
    assert sorted(r.id for r in pr.collect()) == list(range(0, 20, 2))
    # string forms normalize case-insensitively
    assert len(txlog.partition_files(path, {"flag": "False"})) == 1
    # non-boolean junk raises instead of matching nothing
    with pytest.raises(ValueError, match="boolean"):
        txlog.partition_files(path, {"flag": "yes"})
    # compaction actually fires on the boolean key (pre-fix: no-op)
    txlog.append(df.filter(F.col("flag")).coalesce(1), path)
    v = txlog.current_version(path)
    txlog.compact_partition(spark, path, {"flag": True})
    assert txlog.current_version(path) == v + 1
    assert len(txlog.partition_files(path, {"flag": True})) == 1


def test_float_partition_values_require_stored_strings(spark):
    """Float/temporal partition values don't round-trip str()
    reliably — non-string input raises loudly (r13 ADVICE item 3)."""
    path = os.path.join(tempfile.mkdtemp(prefix="pflt_"), "t")
    df = spark.range(0, 6).select(
        "id", (F.col("id") % 2).cast("double").alias("x")
    )
    txlog.create_partitioned(df.coalesce(1), path, ["x"])
    with pytest.raises(ValueError, match="directory string"):
        txlog.partition_files(path, {"x": 1.0})
    stored = sorted(
        a["partitionValues"]["x"] for a in txlog._replay(path).adds.values()
    )
    assert len(txlog.partition_files(path, {"x": stored[0]})) == 1
    # boolean value against a non-boolean column raises
    with pytest.raises(ValueError, match="non-boolean"):
        txlog.partition_files(path, {"x": True})
