"""ACID txlog table format: snapshots, time travel, COW delete,
compaction, optimistic concurrency."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from stockify_spark.sources import txlog
from stockify_spark.sources.io import load_table
from tests.conftest import jobs_of, legacy_copy

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")


def test_create_append_snapshot_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    first = o.filter(F.col("o_orderkey") % 2 == 0)
    second = o.filter(F.col("o_orderkey") % 2 == 1)
    v0 = txlog.create(first, path)
    v1 = txlog.append(second, path)
    assert (v0, v1) == (0, 1)
    assert txlog.snapshot(spark, path).count() == o.count()
    # time travel: version 0 sees only the first batch
    assert txlog.snapshot(spark, path, version=0).count() == first.count()


def test_snapshot_isolation_under_append(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(100), path)
    reader = txlog.snapshot(spark, path)  # plan bound to v0's files
    txlog.append(o.limit(50), path)
    # the v0 reader's lazily-executed plan still reads exactly v0
    assert reader.count() == 100
    assert txlog.snapshot(spark, path).count() == 150


def test_delete_where_is_copy_on_write(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(
        o.filter(F.col("o_orderkey") < 500).repartitionByRange(4, "o_orderkey"),
        path,
    )
    before = set(txlog.live_files(path))
    # range-localized predicate: only the file(s) holding low keys
    # contain matches, so COW must leave the other files untouched
    v = txlog.delete_where(spark, path, F.col("o_orderkey") < 50)
    after = set(txlog.live_files(path))
    # some files rewritten, but history is intact: the old version
    # still returns the pre-delete rows
    got = txlog.snapshot(spark, path).filter(F.col("o_orderkey") < 50).count()
    assert got == 0
    pre = txlog.snapshot(spark, path, version=v - 1).count()
    assert pre > txlog.snapshot(spark, path).count()
    # untouched files are SHARED between versions (true copy-on-write)
    assert before & after
    assert before != after


def test_compact_preserves_data_and_history(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(200).repartition(8), path)
    rows_before = sorted(map(tuple, txlog.snapshot(spark, path).collect()))
    v = txlog.compact(spark, path)
    assert len(txlog.live_files(path)) == 1
    assert sorted(map(tuple, txlog.snapshot(spark, path).collect())) == rows_before
    # pre-compaction version still readable (old files not deleted)
    assert txlog.snapshot(spark, path, version=v - 1).count() == 200


def test_optimistic_concurrency_retries_past_conflict(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(10), path)
    # simulate a racing writer that claimed version 1
    conflict = txlog._commit_path(path, 1)
    with open(conflict, "w") as f:
        f.write('{"version": 1, "actions": []}')
    v = txlog.append(o.limit(5), path)
    assert v == 2  # loser retried at the next version
    assert txlog.snapshot(spark, path).count() == 15
    assert os.path.exists(txlog._commit_path(path, 2))


def test_change_data_feed_per_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") < 300).repartitionByRange(4, "o_orderkey"), path)
    txlog.append(o.filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 400)), path)
    v_del = txlog.delete_where(spark, path, F.col("o_orderkey") < 20)
    v_cmp = txlog.compact(spark, path)
    # append commit: inserts only, exactly the appended rows
    cdf1 = txlog.changes(spark, path, 1)
    assert cdf1.filter(F.col("_change_type") == "delete").count() == 0
    assert cdf1.count() == o.filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 400)).count()
    # COW delete commit: deletes only, exactly the matching rows
    cdf2 = txlog.changes(spark, path, v_del)
    assert cdf2.filter(F.col("_change_type") == "insert").count() == 0
    assert sorted(r.o_orderkey for r in cdf2.collect()) == sorted(
        r.o_orderkey for r in o.filter(F.col("o_orderkey") < 20).collect()
    )
    # compaction commit: same rows both sides -> empty feed
    assert txlog.changes(spark, path, v_cmp).count() == 0


def test_additive_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(50), path)
    evolved = o.limit(30).withColumn("discount_pct", F.lit(5).cast("long"))
    txlog.append(evolved, path)
    snap = txlog.snapshot(spark, path)
    assert "discount_pct" in snap.columns
    # old files read the new column as NULL; new rows carry it
    assert snap.filter(F.col("discount_pct").isNull()).count() == 50
    assert snap.filter(F.col("discount_pct") == 5).count() == 30
    # time travel to v0 shows the original schema
    assert "discount_pct" not in txlog.snapshot(spark, path, version=0).columns


def test_sorted_compaction_clusters_ranges(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") < 1000).repartition(8), path)
    txlog.compact(spark, path, target_partitions=4, sort_by="o_orderkey")
    files = txlog.live_files(path)
    assert len(files) == 4
    # each file covers a disjoint o_orderkey range (footer-skippable)
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["o_orderkey"])
        col = t.column("o_orderkey").to_pylist()
        ranges.append((min(col), max(col)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # data intact
    assert txlog.snapshot(spark, path).count() == o.filter(F.col("o_orderkey") < 1000).count()


def test_log_level_file_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(
        o.filter(F.col("o_orderkey") < 1000).repartitionByRange(4, "o_orderkey"), path
    )
    txlog.compact(spark, path, target_partitions=4, sort_by="o_orderkey")
    # probe a narrow range: the pruned snapshot must read FEWER files
    pruned = txlog.snapshot_pruned(spark, path, "o_orderkey", 0, 100)
    n_input_files = len(pruned.inputFiles())
    assert n_input_files < len(txlog.live_files(path))
    # and be exactly correct
    want = o.filter((F.col("o_orderkey") >= 0) & (F.col("o_orderkey") <= 100)).count()
    assert pruned.count() == want
    # fully-disjoint probe: zero rows, no files
    assert txlog.snapshot_pruned(spark, path, "o_orderkey", 10**9, 2 * 10**9).count() == 0


def test_log_checkpoint_bounds_replay_and_keeps_history(spark, tmp_path):
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(100), path)
    txlog.append(o.limit(60), path)
    v_del = txlog.delete_where(spark, path, F.col("o_orderkey") < 10)
    rows_now = sorted(map(tuple, txlog.snapshot(spark, path).collect()))
    ckv = txlog.checkpoint_log(path)
    assert ckv == v_del
    # post-checkpoint reads are identical
    assert sorted(map(tuple, txlog.snapshot(spark, path).collect())) == rows_now
    # replay now starts at the checkpoint: one synthetic commit
    assert txlog._read_log(path)[0]["version"] == ckv
    # appends after the checkpoint compose with it
    txlog.append(o.limit(5), path)
    assert txlog.snapshot(spark, path).count() == len(rows_now) + 5
    # time travel BELOW the checkpoint still replays the old commits
    assert txlog.snapshot(spark, path, version=0).count() == 100
    # CDF at the checkpointed version still reads the real commit
    assert (
        txlog.changes(spark, path, v_del)
        .filter(F.col("_change_type") == "delete")
        .count()
        > 0
    )


def test_commit_conflict_on_concurrently_removed_file(spark, tmp_path):
    """A writer whose remove actions reference files another commit
    already removed must get CommitConflict, not corrupt the live set
    (retrying a stale remove would double-remove the file and make
    every later snapshot raise)."""
    import pytest

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(50).repartitionByRange(2, "o_orderkey"), path)
    stale_rel = list(txlog._replay(path).adds)  # what a slow writer captured
    # a faster writer compacts: every captured file is now removed
    txlog.compact(spark, path, target_partitions=1)
    actions = [{"remove": {"path": r}} for r in stale_rel]
    with pytest.raises(txlog.CommitConflict):
        txlog._commit(path, actions)
    # the table is still fully readable at the latest version
    assert txlog.snapshot(spark, path).count() == 50


def test_relative_log_paths_survive_table_rename(spark, tmp_path):
    """Logged paths are table-relative (Delta-style): moving the
    whole table directory must not invalidate snapshots, time travel,
    pruning stats, or the change feed."""
    import os
    import shutil

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(100), path)
    txlog.append(o.limit(40), path)
    moved = str(tmp_path / "moved")
    shutil.move(path, moved)
    assert txlog.snapshot(spark, moved).count() == 140
    assert txlog.snapshot(spark, moved, version=0).count() == 100
    assert txlog.changes(spark, moved, 1).count() == 40
    for f in txlog.live_files(moved):
        assert os.path.isabs(f) and f.startswith(moved)


def test_merge_upsert_updates_inserts_and_shares_files(spark, tmp_path):
    """MERGE: matched keys take the source's values, unmatched source
    keys insert, untouched rows survive — and files without matches
    are NOT rewritten (stay shared with the pre-merge version)."""
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(
        o.filter(F.col("o_orderkey") < 600).repartitionByRange(4, "o_orderkey"), path
    )
    files_before = set(txlog.live_files(path))
    # source: updates for keys < 100, inserts for 10000..10049
    src = (
        o.filter(F.col("o_orderkey") < 100)
        .select("o_orderkey", (F.col("o_totalprice") * 0 + 7.5).alias("o_totalprice"))
        .unionByName(
            o.filter(F.col("o_orderkey") < 50).select(
                (F.col("o_orderkey") + 10000).alias("o_orderkey"),
                (F.col("o_totalprice") * 0 + 1.25).alias("o_totalprice"),
            )
        )
    )
    v = txlog.merge_upsert(spark, path, src, ["o_orderkey"])
    snap = txlog.snapshot(spark, path)
    n_base = o.filter(F.col("o_orderkey") < 600).count()
    n_src_new = o.filter(F.col("o_orderkey") < 50).count()
    assert snap.count() == n_base + n_src_new
    # updated rows carry the source value
    assert (
        snap.filter((F.col("o_orderkey") < 100) & (F.col("o_totalprice") != 7.5)).count()
        == 0
    )
    assert snap.filter(F.col("o_orderkey") >= 10000).count() == n_src_new
    # low-key files were rewritten, high-key files shared untouched
    files_after = set(txlog.live_files(path))
    assert files_before & files_after, "expected untouched files to stay shared"
    assert files_before != files_after
    # change feed: deletes are the OLD values of updated rows only
    cdf = txlog.changes(spark, path, v)
    dels = cdf.filter(F.col("_change_type") == "delete")
    assert dels.count() == o.filter(F.col("o_orderkey") < 100).count()
    assert dels.filter(F.col("o_orderkey") >= 100).count() == 0
    ins = cdf.filter(F.col("_change_type") == "insert")
    assert ins.count() == src.count()
    # pre-merge snapshot still readable (time travel across the merge)
    assert txlog.snapshot(spark, path, version=0).count() == n_base


def test_merge_upsert_on_legacy_absolute_path_table(spark, tmp_path):
    """Tables written by pre-relative-log code store ABSOLUTE paths
    in their adds (still readable via the _abs passthrough); merge's
    remove actions must use the same log form or every merge dies in
    CommitConflict (remove paths would never match the adds)."""
    import json

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(80).repartitionByRange(2, "o_orderkey"), path)
    cp = txlog._commit_path(path, 0)
    with open(cp) as f:
        c = json.load(f)
    for a in c["actions"]:
        if "add" in a:
            a["add"]["path"] = txlog._abs(path, a["add"]["path"])
    with open(cp, "w") as f:
        json.dump(c, f)
    src = o.filter(F.col("o_orderkey") < 10).select(
        "o_orderkey", (F.col("o_totalprice") * 0 + 3.5).alias("o_totalprice")
    )
    txlog.merge_upsert(spark, path, src, ["o_orderkey"])
    snap = txlog.snapshot(spark, path)
    assert snap.count() == 80
    assert snap.filter((F.col("o_orderkey") < 10) & (F.col("o_totalprice") != 3.5)).count() == 0


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE TO VERSION: snapshot equality with the target version,
    append-only history (the rollback is itself time-travelable), an
    O(log) commit (no data rewrite — resurrected files are the SAME
    paths), and a change feed of deletes + resurrected inserts."""
    import pytest

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") % 2 == 0), path)
    v1 = txlog.append(o.filter(F.col("o_orderkey") % 2 == 1), path)
    files_v1 = set(txlog.live_files(path))
    txlog.delete_where(spark, path, F.col("o_orderkey") % 10 == 0)
    v3 = txlog.restore(path, v1)
    assert v3 == 3  # a NEW commit, not history rewriting
    # snapshot equality with the pre-delete version
    now = {tuple(r) for r in txlog.snapshot(spark, path).collect()}
    then = {tuple(r) for r in txlog.snapshot(spark, path, version=v1).collect()}
    assert now == then and len(now) == o.count()
    # no data movement: the restored live set is exactly v1's files
    assert set(txlog.live_files(path)) == files_v1
    # time travel still sees the deleted state at version 2
    assert txlog.snapshot(spark, path, version=2).count() < o.count()
    # CDF of the restore commit: inserts resurrect the deleted rows
    ch = txlog.changes(spark, path, v3)
    inserted = {
        r.o_orderkey for r in ch.filter(F.col("_change_type") == "insert").collect()
    }
    assert inserted and all(k % 10 == 0 for k in inserted)
    # restoring to the current snapshot is a no-op, not a new commit
    assert txlog.restore(path, v3) == v3
    # stats survive the round trip: skipping still prunes from the log
    with pytest.raises(FileNotFoundError):
        txlog.restore(path, 99)


def test_vacuum_blocks_restore_past_retention(spark, tmp_path):
    """After VACUUM drops a version's files, restore to that version
    must refuse (no dangling-file snapshots) while restore within the
    retention window still works."""
    import pytest

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") % 2 == 0), path)
    txlog.append(o.filter(F.col("o_orderkey") % 2 == 1), path)
    # compact rewrites everything — the pre-compact files become
    # vacuum candidates
    txlog.compact(spark, path, target_partitions=2)
    deleted = txlog.vacuum(path, keep_last=1)
    assert deleted  # the old layout is physically gone
    with pytest.raises(FileNotFoundError):
        txlog.restore(path, 1)


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER BY (a, b): a 1-D sort gives perfect file
    boxes on the sort column and useless ones on the other; the
    Morton interleave must give BOTH columns real pruning — and the
    probe result must be exact regardless of layout."""
    path_sorted = str(tmp_path / "sorted")
    path_z = str(tmp_path / "zorder")
    o = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )
    n_files = 16
    for p, kw in (
        (path_sorted, {"sort_by": "o_orderkey"}),
        (path_z, {"zorder_by": ["o_orderkey", "o_totalprice"]}),
    ):
        txlog.create(o, p)
        txlog.compact(spark, p, target_partitions=n_files, **kw)

    keys = sorted(r.o_orderkey for r in o.collect())
    prices = sorted(r.o_totalprice for r in o.collect())
    k_lo, k_hi = keys[len(keys) // 2], keys[len(keys) // 2 + len(keys) // 16]
    p_lo, p_hi = prices[len(prices) // 2], prices[len(prices) // 2 + len(prices) // 16]

    def files_read(path, preds):
        return len(
            txlog.snapshot_pruned_multi(spark, path, preds).inputFiles()
        )

    key_pred = [("o_orderkey", k_lo, k_hi)]
    price_pred = [("o_totalprice", p_lo, p_hi)]
    # sort column prunes hard under the 1-D sort; the OTHER column
    # reads every file
    assert files_read(path_sorted, key_pred) <= 3
    assert files_read(path_sorted, price_pred) == n_files
    # z-order: BOTH columns prune to well under half the files
    assert files_read(path_z, key_pred) <= n_files // 2
    assert files_read(path_z, price_pred) <= n_files // 2
    # and the 2-D probe intersects the boxes (at least as tight as
    # the tighter single-column prune)
    both = key_pred + price_pred
    assert files_read(path_z, both) <= min(
        files_read(path_z, key_pred), files_read(path_z, price_pred)
    )
    # exactness: identical result set on every layout, pruned or not
    expect = {
        tuple(r)
        for r in o.filter(
            (F.col("o_orderkey") >= k_lo)
            & (F.col("o_orderkey") <= k_hi)
            & (F.col("o_totalprice") >= p_lo)
            & (F.col("o_totalprice") <= p_hi)
        ).collect()
    }
    for p in (path_sorted, path_z):
        got = {
            tuple(r)
            for r in txlog.snapshot_pruned_multi(spark, p, both)
            .select("o_orderkey", "o_totalprice", "o_custkey")
            .collect()
        }
        assert got == expect
    assert expect  # probe is non-trivial


def test_bloom_index_point_lookup_prunes_scattered_column(spark, tmp_path):
    """Bloom file index: on a table CLUSTERED by price, orderkey
    point probes get nothing from min/max (every file spans most
    keys) — the bloom must prune absent keys to ZERO file opens and
    keep present-key results exact."""
    path = str(tmp_path / "t")
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    txlog.create(li, path)
    txlog.compact(spark, path, target_partitions=8, sort_by="l_extendedprice")
    txlog.attach_bloom(spark, path, "l_orderkey")

    keys = [r.l_orderkey for r in li.select("l_orderkey").distinct().limit(3).collect()]
    absent = max(r.l_orderkey for r in li.select("l_orderkey").collect()) + 999

    # absent key: bloom says no everywhere -> zero files opened
    df_absent = txlog.snapshot_point(spark, path, "l_orderkey", absent)
    assert df_absent.count() == 0
    assert len(df_absent.inputFiles()) == 0
    # present keys: exact rows; opened files bounded by bloom hits
    for key in keys:
        got = {
            tuple(r)
            for r in txlog.snapshot_point(spark, path, "l_orderkey", key).collect()
        }
        expect = {
            tuple(r) for r in li.filter(F.col("l_orderkey") == key).collect()
        }
        assert got == expect and expect
    # control: min/max skipping is useless here — the key range of
    # every price-sorted file overlaps the probe
    n_all = len(
        txlog.snapshot_pruned(spark, path, "l_orderkey", keys[0], keys[0]).inputFiles()
    )
    assert n_all == 8


def test_bloom_false_positive_rate_is_bounded(spark, tmp_path):
    """8192-bit / 6-hash filter over a few thousand keys: probing
    many absent keys must open files rarely (the filter's entire
    value is that absent probes are nearly free)."""
    path = str(tmp_path / "t")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    txlog.create(li, path)
    txlog.compact(spark, path, target_partitions=4)
    txlog.attach_bloom(spark, path, "l_orderkey")
    top = max(r.l_orderkey for r in li.select("l_orderkey").collect())
    opened = sum(
        len(txlog.snapshot_point(spark, path, "l_orderkey", top + 10 + i).inputFiles())
        for i in range(50)
    )
    # 50 absent probes x 4 files = 200 chances; a healthy filter at
    # this load factor false-positives well under 10% of them
    assert opened <= 20


def test_snapshot_point_any_multi_key_and_incremental_bloom(spark, tmp_path):
    """snapshot_point_any: one Spark read answers a BATCH of point
    probes (the ingest-dedup shape), opening only files whose bloom
    admits at least one key; attach_bloom(missing_only=True) indexes
    only newly-appended files, so per-batch index maintenance is
    batch-sized."""
    path = str(tmp_path / "t")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    txlog.create(li, path)
    txlog.compact(spark, path, target_partitions=4)
    txlog.attach_bloom(spark, path, "l_orderkey")
    keys = sorted(
        r.l_orderkey for r in li.select("l_orderkey").distinct().limit(3).collect()
    )
    top = max(r.l_orderkey for r in li.select("l_orderkey").collect())
    absent = [top + 100 + i for i in range(5)]
    # all-absent batch: zero files opened
    df0 = txlog.snapshot_point_any(spark, path, "l_orderkey", absent)
    assert df0.count() == 0 and df0.inputFiles() == []
    # mixed batch: exact union of the per-key results
    got = {
        tuple(r)
        for r in txlog.snapshot_point_any(
            spark, path, "l_orderkey", keys + absent
        ).collect()
    }
    expect = {
        tuple(r) for r in li.filter(F.col("l_orderkey").isin(keys)).collect()
    }
    assert got == expect and expect
    # empty key list: empty result, no error
    assert txlog.snapshot_point_any(spark, path, "l_orderkey", []).count() == 0
    # incremental blooming: append a new file, missing_only indexes
    # JUST it (one new index action), and the probe covers it
    pre_bloomed = {p for p, c in txlog._replay(path).blooms if c == "l_orderkey"}
    txlog.append(
        spark.createDataFrame(
            [(top + 7, 1)], "l_orderkey long, l_partkey long"
        ).coalesce(1),
        path,
    )
    v = txlog.attach_bloom(spark, path, "l_orderkey", missing_only=True)
    import json as _json

    with open(txlog._commit_path(path, v)) as f:
        acts = _json.load(f)["actions"]
    # only the newly-appended file is indexed — never a re-scan of
    # the already-bloomed ones
    assert acts and all("index" in a for a in acts)
    assert not {a["index"]["path"] for a in acts} & pre_bloomed
    assert len(acts) == len(txlog.live_files(path)) - len(pre_bloomed)
    hit = txlog.snapshot_point_any(spark, path, "l_orderkey", [top + 7])
    assert hit.count() == 1 and len(hit.inputFiles()) == 1
    # fully-indexed table: missing_only is a commit-free no-op
    assert txlog.attach_bloom(spark, path, "l_orderkey", missing_only=True) == v


def test_compact_small_leaves_healthy_files_shared(spark, tmp_path):
    """Selective OPTIMIZE: small trickle-append files bin-pack into
    one; the original big file keeps its path (still shared with the
    pre-compaction snapshot), rows and values unchanged."""
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.coalesce(1), path)  # one healthy-sized file
    big_files = set(txlog.live_files(path))
    for i in range(5):  # trickle of tiny appends
        txlog.append(o.filter(F.col("o_orderkey") % 100 == i).coalesce(1), path)
    before = {tuple(r) for r in txlog.snapshot(spark, path).collect()}
    n_before = len(txlog.live_files(path))
    # threshold between the healthy file (~16 KB at this SF) and
    # the ~KB append fragments
    v = txlog.compact_small(spark, path, min_bytes=5_000, target_partitions=1)
    after_files = set(txlog.live_files(path))
    # the big file survived by PATH (no rewrite, still shared)
    assert big_files <= after_files
    # five fragments became one packed file
    assert len(after_files) == len(big_files) + 1 < n_before
    # values identical
    assert {tuple(r) for r in txlog.snapshot(spark, path).collect()} == before
    # idempotent: nothing left to pack -> no new commit
    assert txlog.compact_small(spark, path, min_bytes=5_000) == v


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read)
# ---------------------------------------------------------------------------

def _dv_fixture(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "dvt")
    df = spark.range(100).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 2).cast("double").alias("v"),
    )
    txlog.create(df.repartition(2), path)
    return path


def test_dv_delete_rewrites_nothing_and_reads_apply(spark, tmp_path):
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    files0 = set(txlog.live_files(path))
    v = txlog.delete_where_dv(spark, path, F.col("k") % 10 == 0)
    assert v == 1
    assert set(txlog.live_files(path)) == files0  # zero rewrite
    got = {r.k for r in txlog.snapshot(spark, path).collect()}
    assert got == {k for k in range(100) if k % 10 != 0}
    # time travel to v0 sees everything
    assert txlog.snapshot(spark, path, 0).count() == 100


def test_dv_survives_checkpoint_collapse(spark, tmp_path):
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    txlog.delete_where_dv(spark, path, F.col("k") < 50)
    txlog.checkpoint_log(path)
    # replay now starts at the checkpoint; the DV must still apply
    assert txlog.snapshot(spark, path).count() == 50


def test_rewriting_ops_refuse_active_dvs_until_materialized(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    txlog.delete_where_dv(spark, path, F.col("k") % 2 == 0)
    with pytest.raises(RuntimeError, match="deletion vectors"):
        txlog.compact(spark, path, target_partitions=1)
    with pytest.raises(RuntimeError, match="deletion vectors"):
        txlog.delete_where(spark, path, F.col("k") > 90)
    before = sorted(r.k for r in txlog.snapshot(spark, path).collect())
    txlog.materialize_dvs(spark, path)
    # after folding, the same rows read back and rewrites are legal
    after = sorted(r.k for r in txlog.snapshot(spark, path).collect())
    assert after == before == list(range(1, 100, 2))
    txlog.compact(spark, path, target_partitions=1)
    assert sorted(r.k for r in txlog.snapshot(spark, path).collect()) == before
    # stale sidecars (files rewritten) are inert: no resurrection,
    # no double-delete
    assert txlog._replay(path).dvs  # sidecars still logged


def test_pruned_and_point_readers_apply_dvs(spark, tmp_path):
    """Every read path must subtract DVs — a pruned read that
    resurrects deleted rows is the MOR design mistake the format
    guards against on the write side."""
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    txlog.delete_where_dv(spark, path, F.col("k").between(20, 29))
    pruned = {
        r.k
        for r in txlog.snapshot_pruned(spark, path, "k", 10, 39).collect()
    }
    assert pruned == set(range(10, 20)) | set(range(30, 40))
    multi = {
        r.k
        for r in txlog.snapshot_pruned_multi(
            spark, path, [("k", 10, 39), ("v", 0.0, 1000.0)]
        ).collect()
    }
    assert multi == pruned
    assert txlog.snapshot_point(spark, path, "k", 25).count() == 0
    assert txlog.snapshot_point(spark, path, "k", 35).count() == 1


def test_clone_carries_dvs_and_constraints(spark, tmp_path):
    """ADVICE r9: a shallow clone of a table with active deletion
    vectors must NOT resurrect the MOR-deleted rows (clone carries
    add_dv with rebased sidecar paths), and CHECK constraints must
    keep enforcing on writes to the clone."""
    import pytest
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    txlog.set_constraint(path, "k_nonneg", "k >= 0")
    txlog.delete_where_dv(spark, path, F.col("k") % 10 == 0)
    dst = str(tmp_path / "clone")
    txlog.clone(path, dst)
    got = {r.k for r in txlog.snapshot(spark, dst).collect()}
    assert got == {k for k in range(100) if k % 10 != 0}
    # constraints survive the clone
    bad = spark.range(1).select(F.lit(-1).cast("long").alias("k"),
                                F.lit(0.0).alias("v"))
    with pytest.raises(txlog.ConstraintViolation):
        txlog.append(bad, dst)
    # rewriting ops on the clone still refuse until materialized
    with pytest.raises(RuntimeError, match="deletion vectors"):
        txlog.compact(spark, dst, target_partitions=1)
    txlog.materialize_dvs(spark, dst)
    assert {r.k for r in txlog.snapshot(spark, dst).collect()} == got
    # the source never observed any of it
    assert txlog.snapshot(spark, path).count() == 90


def test_clone_carries_bloom_indexes(spark, tmp_path):
    """Bloom index metadata survives a clone with rebased file keys:
    snapshot_point on the clone skips provably-absent files."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "src")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    txlog.create(df.repartitionByRange(4, "k"), path)
    txlog.attach_bloom(spark, path, "k")
    dst = str(tmp_path / "clone")
    txlog.clone(path, dst)
    st = txlog._replay(dst)
    idx = {p for p, c in st.blooms if c == "k"}
    live = set(st.adds)
    assert idx == live and len(idx) == 4  # rebased keys match adds
    assert txlog.snapshot_point(spark, dst, "k", 150).count() == 1


def test_restore_neutralizes_dvs(spark, tmp_path):
    """ADVICE r9: restore() to a pre-DV version must retire DVs
    committed after the target — the restored head snapshot equals
    the target snapshot exactly, and restore is itself restorable."""
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)          # v0: 100 rows
    v_dv = txlog.delete_where_dv(spark, path, F.col("k") < 50)  # v1
    assert txlog.snapshot(spark, path).count() == 50
    v_restore = txlog.restore(path, 0)           # must NOT say no-op
    assert v_restore == v_dv + 1
    assert txlog.snapshot(spark, path).count() == 100
    assert {r.k for r in txlog.snapshot(spark, path).collect()} == set(range(100))
    # restore of the restore re-activates the sidecar (add_dv back)
    v_back = txlog.restore(path, v_dv)
    assert v_back == v_restore + 1
    assert {r.k for r in txlog.snapshot(spark, path).collect()} == set(range(50, 100))
    # every historical version still reads exactly as committed
    assert txlog.snapshot(spark, path, 0).count() == 100
    assert txlog.snapshot(spark, path, v_dv).count() == 50
    assert txlog.snapshot(spark, path, v_restore).count() == 100


def test_table_stats_subtracts_active_dvs(spark, tmp_path):
    """ADVICE r9: metadata COUNT must not overcount MOR-deleted rows;
    overlapping sidecars dedupe; stale sidecars (post-materialize)
    stop counting."""
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    assert txlog.table_stats(path)["rows"] == 100
    txlog.delete_where_dv(spark, path, F.col("k") < 30)
    assert txlog.table_stats(path)["rows"] == 70
    # second sidecar overlapping the first: k<40 adds only 10 new
    txlog.delete_where_dv(spark, path, F.col("k") < 40)
    assert txlog.table_stats(path)["rows"] == 60
    assert txlog.snapshot(spark, path).count() == 60
    # time travel stats
    assert txlog.table_stats(path, 0)["rows"] == 100
    txlog.materialize_dvs(spark, path)
    assert txlog.table_stats(path)["rows"] == 60


def test_checkpoint_carries_bloom_indexes(spark, tmp_path):
    """ADVICE r9: a log checkpoint must not discard bloom index
    actions — skipping survives the collapse."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"))
    txlog.create(df.repartitionByRange(4, "k"), path)
    txlog.attach_bloom(spark, path, "k")
    txlog.checkpoint_log(path)
    txlog.append(spark.range(200, 210).select(F.col("id").alias("k")), path)
    idx = {p for p, c in txlog._replay(path).blooms if c == "k"}
    assert len(idx) == 4  # replay starts at the checkpoint; indexes intact
    # absent key: only the unindexed appended file may open
    assert txlog.snapshot_point(spark, path, "k", 205).count() == 1
    assert txlog.snapshot_point(spark, path, "k", 199).count() == 1


def test_changes_emits_dv_deletes_and_restore_inserts(spark, tmp_path):
    """ADVICE r9: the change feed sees MOR deletes — an add_dv commit
    emits exactly the newly-deleted rows as deletes; the restore
    commit that retires the sidecar emits them back as inserts; the
    materialize commit after a re-delete emits an EMPTY feed."""
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)          # v0
    v1 = txlog.delete_where_dv(spark, path, F.col("k") < 10)
    cdf1 = txlog.changes(spark, path, v1)
    rows1 = cdf1.collect()
    assert {r._change_type for r in rows1} == {"delete"}
    assert sorted(r.k for r in rows1) == list(range(10))
    # overlapping second delete: only the NEW rows appear
    v2 = txlog.delete_where_dv(spark, path, F.col("k") < 15)
    rows2 = txlog.changes(spark, path, v2).collect()
    assert sorted(r.k for r in rows2) == list(range(10, 15))
    assert {r._change_type for r in rows2} == {"delete"}
    # restore to v0 resurrects all 15 as inserts
    v3 = txlog.restore(path, 0)
    rows3 = txlog.changes(spark, path, v3).collect()
    assert {r._change_type for r in rows3} == {"insert"}
    assert sorted(r.k for r in rows3) == list(range(15))
    # delete again, then materialize: the materialize commit's feed
    # is EMPTY (the delete was already reported at the add_dv commit)
    txlog.delete_where_dv(spark, path, F.col("k") < 5)
    v5 = txlog.materialize_dvs(spark, path)
    assert txlog.changes(spark, path, v5).count() == 0


def test_dv_delete_skips_already_deleted_rows(spark, tmp_path):
    """A delete_where_dv whose matches are all already MOR-deleted is
    a no-op commit-wise (returns the current version unchanged)."""
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    v1 = txlog.delete_where_dv(spark, path, F.col("k") < 20)
    v2 = txlog.delete_where_dv(spark, path, F.col("k") < 10)  # subset
    assert v2 == v1  # nothing new to delete
    assert txlog.snapshot(spark, path).count() == 80


def test_incremental_mv_tracks_every_commit_type(spark, tmp_path):
    """r9: COUNT/SUM view maintained from change feeds equals a fresh
    recompute after create/append/COW-delete/MOR-delete/restore/
    compaction — including the no-op feeds (compaction) and
    metadata-only commits (constraints are skipped)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.range(200).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 3).cast("long").alias("v"),
        F.col("id").alias("rid"),
    )
    txlog.create(df.filter(F.col("rid") < 120).repartition(2), path)
    txlog.append(df.filter(F.col("rid") >= 120), path)           # v1
    txlog.set_constraint(path, "v_nonneg", "v >= 0")             # v2 (metadata)
    txlog.delete_where(spark, path, F.col("rid") % 4 == 0)       # v3 COW
    txlog.delete_where_dv(spark, path, F.col("rid") % 5 == 0)    # v4 MOR
    txlog.restore(path, 3)                                       # v5 un-MOR
    txlog.delete_where_dv(spark, path, F.col("rid") % 6 == 0)    # v6 MOR again
    txlog.materialize_dvs(spark, path)                           # v7 fold (empty feed)
    txlog.compact(spark, path, target_partitions=1)              # v8 (empty feed)
    head = txlog.current_version(path)
    mv = txlog.incremental_mv(spark, path, ["k"], "v", 0, head)
    fresh = txlog.snapshot(spark, path).groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("total"),
    )
    got = sorted(tuple(r) for r in mv.collect())
    want = sorted(tuple(r) for r in fresh.collect())
    assert got == want and got  # non-empty and identical


def test_incremental_mv_rejects_missing_versions(spark, tmp_path):
    """A silent skip of a nonexistent version would return a view
    labeled as fresher than it is (r9 review finding)."""
    import pytest
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    txlog.create(
        spark.range(10).select((F.col("id") % 2).alias("k"),
                               F.col("id").alias("v")),
        path,
    )
    with pytest.raises(ValueError, match="not found"):
        txlog.incremental_mv(spark, path, ["k"], "v", 0, 5)


def test_append_idempotent_skips_replayed_batches(spark, tmp_path):
    """r9: the exactly-once sink contract — a replayed (app, batch)
    pair is a no-op, a new batch commits atomically with its marker,
    independent apps do not interfere, and the marker survives a log
    checkpoint."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    b = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    txlog.create(b(0, 10), path)
    v1 = txlog.append_idempotent(b(10, 20), path, "ingest", 0)
    assert txlog.snapshot(spark, path).count() == 20
    # replay of batch 0: no new version, no duplicate rows
    assert txlog.append_idempotent(b(10, 20), path, "ingest", 0) == v1
    assert txlog.snapshot(spark, path).count() == 20
    # next batch applies; a second app has its own version space
    txlog.append_idempotent(b(20, 30), path, "ingest", 1)
    txlog.append_idempotent(b(30, 35), path, "other", 0)
    assert txlog.snapshot(spark, path).count() == 35
    assert txlog.last_txn_version(path, "ingest") == 1
    assert txlog.last_txn_version(path, "other") == 0
    # markers survive the checkpoint collapse
    txlog.checkpoint_log(path)
    assert txlog.append_idempotent(b(20, 30), path, "ingest", 1) \
        == txlog.current_version(path)
    assert txlog.snapshot(spark, path).count() == 35


def test_foreach_batch_sink_is_exactly_once(spark, tmp_path):
    """End-to-end streaming face: a foreachBatch writer into the
    table, then the same batches replayed through the sink (the
    at-least-once window), leaves exactly-once table state."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    txlog.create(
        spark.range(0).select(F.col("id").alias("k"), F.col("id").alias("v")),
        path,
    )
    src = str(tmp_path / "src")
    spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(2).write.parquet(src)
    sink = txlog.foreach_batch_sink(path, "stream-app")
    stream = (
        spark.readStream.schema("k long, v long")
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    stream.awaitTermination(120)
    n1 = txlog.snapshot(spark, path).count()
    assert n1 == 50
    # simulate the failure-replay window: re-deliver every batch id
    # the stream already committed
    replay = spark.read.parquet(src)
    sink(replay, 0)
    assert txlog.snapshot(spark, path).count() == 50


def test_vacuum_reclaims_retired_dv_sidecars(spark, tmp_path):
    """r9: a restore-retired sidecar below the retention window is
    reclaimable like any removed data file; restore past it raises
    instead of resurrecting a snapshot with a dangling sidecar."""
    import os

    import pytest
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)                 # v0
    v_dv = txlog.delete_where_dv(spark, path, F.col("k") < 50)   # v1
    sidecar = next(iter(txlog._replay(path).dvs))
    txlog.restore(path, 0)                              # v2 retires it
    txlog.append(spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")), path)    # v3
    assert os.path.exists(txlog._abs(path, sidecar))
    deleted = txlog.vacuum(path, keep_last=1)           # window: v3 only
    assert sidecar in deleted
    assert not os.path.exists(txlog._abs(path, sidecar))
    # head still reads (110 rows: restore resurrected all 100)
    assert txlog.snapshot(spark, path).count() == 110
    # restore back to the MOR-delete version now raises loudly
    with pytest.raises(FileNotFoundError, match="sidecar"):
        txlog.restore(path, v_dv)


def test_vacuum_keeps_active_dv_sidecars(spark, tmp_path):
    from pyspark.sql import functions as F

    path = _dv_fixture(spark, tmp_path)
    txlog.delete_where_dv(spark, path, F.col("k") < 50)
    txlog.append(spark.range(100, 105).select(
        F.col("k").alias("k") if False else F.col("id").alias("k"),
        F.lit(0.0).alias("v")), path)
    deleted = txlog.vacuum(path, keep_last=1)
    assert all("dv/" not in d for d in deleted)
    assert txlog.snapshot(spark, path).count() == 55


def test_concurrent_appends_all_land(spark, tmp_path):
    """True multi-writer append race: N threads commit concurrently
    through the optimistic create-exclusive loop — every batch must
    land exactly once (N distinct versions, no lost updates) and the
    final snapshot must hold every row. This is the ACID claim under
    ACTUAL concurrency, not just the simulated stale-remove case."""
    import threading

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(10), path)
    n_threads = 6
    per_batch = 20
    errs = []

    def writer(i: int) -> None:
        try:
            batch = o.filter(F.col("o_orderkey") % n_threads == i).limit(per_batch)
            # pre-materialize driver-side to keep the race window on
            # the COMMIT, not the Spark job
            rows = batch.collect()
            df = spark.createDataFrame(rows, batch.schema)
            txlog.append(df, path)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert txlog.current_version(path) == n_threads  # every commit a distinct version
    # every thread's rows are present exactly once
    assert txlog.snapshot(spark, path).count() == 10 + sum(
        min(per_batch, o.filter(F.col("o_orderkey") % n_threads == i).count())
        for i in range(n_threads)
    )


def test_concurrent_idempotent_appends_dedup(spark, tmp_path):
    """Two writers replaying the SAME (app, version) batch race the
    idempotency check: at most one may land. The check-then-commit
    window means both can slip through only if commits interleave —
    with one active writer per app_id being the streaming engine's
    guarantee, this test pins the sequential-replay contract instead:
    serial replays of every version are all no-ops."""
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(10), path)
    b = o.limit(25)
    for v in (0, 1, 2):
        txlog.append_idempotent(b, path, "app", v)
    n = txlog.snapshot(spark, path).count()
    for v in (0, 1, 2):  # full replay of the history
        txlog.append_idempotent(b, path, "app", v)
    assert txlog.snapshot(spark, path).count() == n


def test_cow_and_dv_deletes_keep_rows_whose_predicate_is_null(spark, tmp_path):
    """Both delete faces delete a row only where the predicate is
    TRUE: a NULL predicate keeps the row, under copy-on-write exactly
    as under deletion vectors."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, 40)], "k long, v long"
    ).coalesce(1)
    cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
    txlog.create(df, cow)
    txlog.create(df, mor)
    txlog.delete_where(spark, cow, F.col("v") > 25)
    txlog.delete_where_dv(spark, mor, F.col("v") > 25)

    def rows(p):
        return sorted(tuple(r) for r in txlog.snapshot(spark, p).collect())

    assert rows(cow) == rows(mor) == [(1, 10), (2, None)]


def _every_kind_table(spark, tmp_path) -> str:
    """A small table whose log holds every action kind: add/remove,
    add_dv/remove_dv, constraint, rename, drop_column, data_schema,
    index, txn and mtxn."""
    path = str(tmp_path / "t")
    df = spark.range(8).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") * 100).alias("w"),
        F.lit(1).cast("long").alias("x"),
    )
    txlog.create(df.repartitionByRange(2, "k"), path)
    txlog.append(df.filter(F.col("k") < 2).withColumn("k", F.col("k") + 100), path)
    txlog.delete_where(spark, path, F.col("k") == 7)              # remove + add
    pre_dv = txlog.delete_where_dv(spark, path, F.col("k") == 1) - 1
    txlog.restore(path, pre_dv)                                   # remove_dv
    txlog.delete_where_dv(spark, path, F.col("k") == 2)           # live add_dv
    txlog.set_constraint(path, "k_pos", "k >= 0")
    txlog.rename_column(path, "v", "vv")
    txlog.drop_column(path, "w")
    txlog.attach_bloom(spark, path, "k")
    batch = spark.createDataFrame([(200, 1, 1)], "k long, vv long, x long")
    txlog.append_idempotent(batch.coalesce(1), path, "ingest", 3)
    txlog.commit_multi([(batch.coalesce(1), path)], str(tmp_path))
    return path


def test_checkpoint_and_clone_round_trip_every_action_kind(spark, tmp_path):
    """A checkpoint is the replayed state written back, and a clone is
    the source's state with its paths rebased: replaying either must
    give back the same state, kind by kind. A checkpoint or clone that
    loses an action kind fails here."""
    import dataclasses

    path = _every_kind_table(spark, tmp_path)
    st = txlog._replay(path)
    kinds = set()
    for v in range(st.version + 1):
        with open(txlog._commit_path(path, v)) as f:
            kinds.update(k for a in json.load(f)["actions"] for k in a)
    assert kinds == {
        "add", "remove", "add_dv", "remove_dv", "constraint", "rename",
        "drop_column", "data_schema", "index", "txn", "mtxn",
    }
    # ...and every kind of state is non-empty
    assert st.adds and st.dvs and st.constraints and st.blooms
    assert st.txns == {"ingest": 3} and len(st.mtxns) == 1
    assert [next(iter(a)) for a in st.schema] == ["rename", "drop_column"]
    rows = sorted(map(tuple, txlog.snapshot(spark, path).collect()))

    txlog.checkpoint_log(path)
    assert txlog._read_log(path)[0]["version"] == st.version  # replays from it
    after = txlog._replay(path)
    assert after == st and list(after.adds) == list(st.adds)
    assert sorted(map(tuple, txlog.snapshot(spark, path).collect())) == rows

    dst = str(tmp_path / "clone")
    txlog.clone(path, dst)

    def rebase(p):
        return os.path.relpath(txlog._abs(path, p), dst)

    def moved(entry):
        return {**entry, "path": rebase(entry["path"])}

    want = dataclasses.replace(
        st,
        version=0,
        adds={rebase(p): moved(a) for p, a in st.adds.items()},
        dvs={rebase(p): moved(d) for p, d in st.dvs.items()},
        blooms={(rebase(p), c): moved(i) for (p, c), i in st.blooms.items()},
    )
    got = txlog._replay(dst)
    assert got == want and list(got.adds) == list(want.adds)
    assert sorted(map(tuple, txlog.snapshot(spark, dst).collect())) == rows


def test_checkpoint_round_trips_partitioning(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(6).select("id", (F.col("id") % 2).cast("int").alias("b"))
    txlog.create_partitioned(df, path, ["b"])
    txlog.append(df.filter(F.col("id") < 2), path)
    st = txlog._replay(path)
    assert st.partitioning["cols"] == ["b"]
    txlog.checkpoint_log(path)
    assert txlog._read_log(path)[0]["version"] == st.version
    assert txlog._replay(path) == st


def test_public_ops_replay_the_log_once(spark, tmp_path, monkeypatch):
    """A public operation replays the log once and passes the state
    down; a commit replays once more per attempt, because a lost race
    needs a fresh log."""
    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") < 200).repartitionByRange(2, "o_orderkey"), path)
    reads = []
    real = txlog._read_log
    monkeypatch.setattr(
        txlog, "_read_log", lambda *a, **k: reads.append(1) or real(*a, **k)
    )

    def count(fn) -> int:
        reads.clear()
        fn()
        return len(reads)

    assert count(lambda: txlog.snapshot(spark, path)) == 1
    assert count(lambda: txlog.append(o.filter(F.col("o_orderkey") >= 200), path)) == 2
    src = o.filter(F.col("o_orderkey") < 20)
    assert count(lambda: txlog.merge_upsert(spark, path, src, ["o_orderkey"])) == 2
    assert count(lambda: txlog.delete_where(spark, path, F.col("o_orderkey") < 10)) == 2


# ---------------------------------------------------------------------------
# The data schema is a log action: reads plan from it, not from footers
# ---------------------------------------------------------------------------


def _evolved_table(spark, path: str):
    """v0 (id, v); v1 appends c; v2 appends d: two successive added
    columns."""
    base = spark.range(40, numPartitions=2).select("id", (F.col("id") * 2).alias("v"))
    txlog.create(base, path)
    txlog.append(base.withColumn("c", F.lit("x")), path)
    txlog.append(base.withColumn("c", F.lit("y")).withColumn("d", F.lit(1.5)), path)


def test_snapshot_plans_from_the_logged_schema(spark, tmp_path):
    """Building a snapshot of a table of at most 32 files starts no
    Spark job, with or without active deletion vectors: the data files
    are read with the logged schema and the sidecars with a fixed one.
    With mergeSchema each read unioned footers in a job."""
    path = str(tmp_path / "t")
    _evolved_table(spark, path)
    assert len(txlog.live_files(path)) <= 32
    assert jobs_of(spark, lambda: txlog.snapshot(spark, path)) == []
    txlog.delete_where_dv(spark, path, F.col("id") == 3)
    assert jobs_of(spark, lambda: txlog.snapshot(spark, path)) == []
    assert txlog.snapshot(spark, path).count() == 117


def test_rewrite_faces_start_no_schema_jobs(spark, tmp_path):
    """merge_upsert, delete_where and attach_bloom start fewer jobs on
    a table with a logged schema than on the same table's legacy log,
    read with mergeSchema: one footer-union job per file-set read (two
    for each rewrite face, one per file for the bloom build) — and
    commit the same rows."""
    logged = str(tmp_path / "t")
    _evolved_table(spark, logged)
    legacy = legacy_copy(logged, str(tmp_path / "legacy"))
    src = spark.range(30, 50).select(
        "id", F.lit(-1).cast("long").alias("v"), F.lit("z").alias("c"), F.lit(0.5).alias("d")
    )

    def rows(path):
        return sorted(map(str, txlog.snapshot(spark, path).collect()))

    faces = [  # reads per face; None: one per live file
        (2, lambda p: txlog.merge_upsert(spark, p, src, ["id"])),
        (2, lambda p: txlog.delete_where(spark, p, F.col("id") < 5)),
        (None, lambda p: txlog.attach_bloom(spark, p, "v", bits=8192)),
    ]
    for reads, face in faces:
        reads = reads or len(txlog.live_files(logged))
        new = jobs_of(spark, lambda: face(logged))
        old = jobs_of(spark, lambda: face(legacy))
        assert len(old) - len(new) == reads
        assert rows(logged) == rows(legacy)


def test_additive_evolution_logs_each_added_column(spark, tmp_path):
    """Two successive added columns: the head reads both, in the order
    they were added (the order mergeSchema gave); each earlier version
    and a restore to it read its narrower schema."""
    path = str(tmp_path / "t")
    _evolved_table(spark, path)
    cols = ["id", "v", "c", "d"]
    assert txlog.snapshot(spark, path).columns == cols
    for v, width in ((0, 2), (1, 3), (2, 4)):
        assert txlog.snapshot(spark, path, version=v).columns == cols[:width]
    # only the commits that add a column log a schema
    kinds = []
    for v in range(3):
        with open(txlog._commit_path(path, v)) as f:
            kinds.append(sum("data_schema" in a for a in json.load(f)["actions"]))
    txlog.append(spark.range(100, 102).select("id"), path)
    with open(txlog._commit_path(path, 3)) as f:
        kinds.append(sum("data_schema" in a for a in json.load(f)["actions"]))
    assert kinds == [1, 1, 1, 0]
    txlog.restore(path, 0)
    snap = txlog.snapshot(spark, path)
    assert snap.columns == ["id", "v"]
    assert snap.count() == 40


def _lose_next_commit_to(monkeypatch, winner: list[dict]) -> None:
    """Make the next commit attempt lose its version to another writer
    that commits ``winner`` there first."""
    real = txlog._try_commit

    def racing(p, version, actions):
        monkeypatch.setattr(txlog, "_try_commit", real)
        assert real(p, version, winner)
        return False

    monkeypatch.setattr(txlog, "_try_commit", racing)


def test_racing_appends_both_keep_their_column(spark, tmp_path, monkeypatch):
    """Two appends staged from the same version, each adding a column,
    race for one version: the loser replays the log, merges its schema
    action with the winner's by column name, and commits next, so both
    columns read back, in commit order. A restore that loses to an
    append adding a column still narrows, and keeps that column."""
    path = str(tmp_path / "t")
    base = spark.range(10).select("id")
    txlog.create(base, path)
    st = txlog._replay(path)
    a = txlog._stage_append(base.withColumn("a", F.lit(1)), path, st, "append")
    b = txlog._stage_append(base.withColumn("b", F.lit(2)), path, st, "append")
    _lose_next_commit_to(monkeypatch, a)
    assert txlog._commit(path, b) == 2
    snap = txlog.snapshot(spark, path)
    assert snap.columns == ["id", "a", "b"]
    assert snap.filter(F.col("a") == 1).count() == 10
    assert snap.filter(F.col("b") == 2).count() == 10
    c = txlog._stage_append(base.withColumn("c", F.lit(3)), path, txlog._replay(path), "append")
    _lose_next_commit_to(monkeypatch, c)
    assert txlog.restore(path, 0) == 4
    snap = txlog.snapshot(spark, path)
    assert snap.columns == ["id", "c"]
    assert snap.filter(F.col("c") == 3).count() == 10
    assert snap.count() == 20


def test_legacy_log_without_schema_reads_through_merge_schema(spark, tmp_path):
    """A log with no data_schema action still opens: its reads union the
    footers with mergeSchema, one job per snapshot, and give the same
    columns and rows."""
    path = str(tmp_path / "t")
    _evolved_table(spark, path)
    legacy = legacy_copy(path, str(tmp_path / "legacy"))
    assert txlog._replay(legacy).data_schema is None
    assert len(jobs_of(spark, lambda: txlog.snapshot(spark, legacy))) == 1
    for v in (None, 0, 1):
        a = txlog.snapshot(spark, path, version=v)
        b = txlog.snapshot(spark, legacy, version=v)
        assert a.columns == b.columns
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
    # an append that adds no column keeps the legacy log legacy
    txlog.append(spark.range(100, 102).select("id", F.lit(0).cast("long").alias("v")), legacy)
    assert txlog._replay(legacy).data_schema is None


def test_empty_files_are_not_committed(spark, tmp_path):
    """A write adds no 0-row file: an 8-partition batch with one row
    commits one file. A write whose files are all empty keeps one, so
    an empty create still reads back its schema."""
    path = str(tmp_path / "t")
    one = spark.range(1).repartition(8)
    txlog.create(one, path)
    assert [a["stats"]["rows"] for a in txlog._replay(path).adds.values()] == [1]
    assert len(os.listdir(txlog._data_dir(path))) == 1
    empty = str(tmp_path / "e")
    txlog.create(spark.range(0).repartition(4).withColumn("v", F.lit("s")), empty)
    assert len(txlog.live_files(empty)) == 1
    assert txlog.snapshot(spark, empty).columns == ["id", "v"]
    assert txlog.snapshot(spark, empty).count() == 0
