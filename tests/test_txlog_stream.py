"""Streaming change-data source over the txlog commit log
(sources/txlog_stream.py) + the exactly-once replication pipeline
(txlog.replicate_changes) — round-10 north-star extensions (the
reference is strictly one-shot batch, stockify.cu:196-743).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from stockify_spark.sources import txlog
from stockify_spark.sources.txlog_stream import register_txlog_stream

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def _orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )


def _append_history(spark, path):
    """v0 create %4==0, v1..v3 append the other residues."""
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") % 4 == 0).coalesce(1), path)
    for r in (1, 2, 3):
        txlog.append(o.filter(F.col("o_orderkey") % 4 == r).coalesce(1), path)
    return o


class TestBatchFace:
    def test_versions_and_rows(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)
        register_txlog_stream(spark)
        df = spark.read.format("txlog_stream").option("path", path).load()
        assert df.count() == o.count()
        per_v = {
            r["_commit_version"]: r["n"]
            for r in df.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
        }
        expect = {
            v: o.filter(F.col("o_orderkey") % 4 == v).count() for v in range(4)
        }
        assert per_v == expect
        # rows themselves match the residue of their version
        bad = df.filter(F.col("o_orderkey") % 4 != F.col("_commit_version")).count()
        assert bad == 0

    def test_version_range(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)
        register_txlog_stream(spark)
        df = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("starting_version", "1")
            .option("end_version", "2")
            .load()
        )
        assert df.count() == o.filter(
            (F.col("o_orderkey") % 4 == 1) | (F.col("o_orderkey") % 4 == 2)
        ).count()
        assert set(
            r["_commit_version"]
            for r in df.select("_commit_version").distinct().collect()
        ) == {1, 2}

    def test_change_commit_raises_and_skips(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)
        txlog.delete_where(spark, path, F.col("o_totalprice") < 50000.0)
        register_txlog_stream(spark)
        with pytest.raises(Exception, match="skip_change_commits"):
            spark.read.format("txlog_stream").option("path", path).load().count()
        n = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("skip_change_commits", "true")
            .load()
            .count()
        )
        assert n == o.count()  # appends only; the COW commit ignored


class TestStreamingFace:
    def test_available_now_replays_all_commits(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)
        register_txlog_stream(spark)
        sdf = spark.readStream.format("txlog_stream").option("path", path).load()
        assert sdf.isStreaming
        q = (
            sdf.writeStream.format("memory")
            .queryName("txs_all")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("txs_all")
        assert got.count() == o.count()
        assert got.select("_commit_version").distinct().count() == 4

    def test_checkpoint_resume_tails_new_commits(self, spark, tmp):
        """Stop after the initial history, append a new commit, restart
        from the SAME checkpoint: only the new commit is delivered —
        offsets (commit versions) live in the streaming checkpoint."""
        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")

        def run_once():
            sdf = spark.readStream.format("txlog_stream").option("path", path).load()
            q = (
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        n1 = spark.read.parquet(out).count()
        assert n1 == o.count()
        txlog.append(o.limit(7), path)  # v4
        run_once()
        got = spark.read.parquet(out)
        assert got.count() == n1 + 7
        assert got.filter(F.col("_commit_version") == 4).count() == 7

    def test_foreach_batch_exactly_once_roundtrip(self, spark, tmp):
        """txlog stream → foreach_batch_sink(txlog) — source offsets
        are deterministic versions and the sink dedups on batch id, so
        re-running from the same checkpoint cannot duplicate rows."""
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        o = _append_history(spark, src)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        sink = txlog.foreach_batch_sink(dst, "rt")

        def run_once():
            sdf = spark.readStream.format("txlog_stream").option("path", src).load()
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        assert txlog.snapshot(spark, dst).count() == o.count()
        # deliberate replay of batch 0 outside the engine: idempotent
        first = txlog.snapshot(spark, dst).limit(3)
        txlog.append_idempotent(first, dst, "rt", 0)
        assert txlog.snapshot(spark, dst).count() == o.count()
        # restart from the same checkpoint with nothing new: no-op
        run_once()
        assert txlog.snapshot(spark, dst).count() == o.count()


class TestReplicateChanges:
    def _history(self, spark, path):
        o = _orders(spark)
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(2, "o_orderkey"),
            path,
        )
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 0), path)
        txlog.delete_where(spark, path, F.col("o_totalprice") < 30000.0)
        txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 10 == 0)
        txlog.restore(path, 2)
        return o

    def test_full_feed_and_resume(self, spark, tmp):
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        o = self._history(spark, src)
        # partial delivery, then resume picks up exactly the rest
        assert txlog.replicate_changes(spark, src, dst, "cdf", to_version=2) == 2
        mid = txlog.snapshot(spark, dst)
        assert mid.select(F.max("_src_version")).first()[0] == 2
        assert txlog.replicate_changes(spark, src, dst, "cdf") == 4
        feed = txlog.snapshot(spark, dst)
        # closed forms per version
        hi = F.col("o_totalprice") >= 30000.0
        exp = {
            (0, "insert"): o.filter(F.col("o_orderkey") % 3 != 0).count(),
            (1, "insert"): o.filter(F.col("o_orderkey") % 3 == 0).count(),
            (2, "delete"): o.filter(~hi).count(),
            (3, "delete"): o.filter(hi & (F.col("o_orderkey") % 10 == 0)).count(),
            (4, "insert"): o.filter(hi & (F.col("o_orderkey") % 10 == 0)).count(),
        }
        got = {
            (r["_src_version"], r["_change_type"]): r["n"]
            for r in feed.groupBy("_src_version", "_change_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == exp
        # replay is a no-op (idempotent markers)
        n = feed.count()
        txlog.replicate_changes(spark, src, dst, "cdf")
        assert txlog.snapshot(spark, dst).count() == n

    def test_metadata_only_commit_advances_marker(self, spark, tmp):
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        o = _orders(spark)
        txlog.create(o.coalesce(1), src)
        txlog.set_constraint(src, "pos", "o_totalprice >= 0")  # metadata-only v1
        assert txlog.replicate_changes(spark, src, dst, "cdf") == 1
        assert txlog.last_txn_version(dst, "cdf") == 1
        # resume after the idle marker does not re-inspect v1
        txlog.append(o.limit(5), src)  # v2
        assert txlog.replicate_changes(spark, src, dst, "cdf") == 2
        assert txlog.snapshot(spark, dst).filter(
            F.col("_src_version") == 2
        ).count() == 5


class TestMultiTableTxn:
    def test_commit_recover_and_orphan_safety(self, spark, tmp):
        import time

        o = _orders(spark)
        feat, idx = os.path.join(tmp, "feat"), os.path.join(tmp, "idx")
        b0 = o.filter(F.col("o_orderkey") % 2 == 0)
        b1 = o.filter(F.col("o_orderkey") % 2 == 1)
        d = lambda b: b.groupBy().agg(F.count("*").cast("long").alias("n"))  # noqa: E731
        txlog.commit_multi([(b0, feat), (d(b0), idx)], tmp)
        assert txlog.pending_multi(tmp) == []
        # crash between the two table commits
        txlog.commit_multi([(b1, feat), (d(b1), idx)], tmp, _fail_after=1)
        assert len(txlog.pending_multi(tmp)) == 1
        assert txlog.snapshot(spark, feat).count() == o.count()
        assert txlog.snapshot(spark, idx).count() == 1  # only b0's delta
        # the staged-but-uncommitted idx file must SURVIVE orphan
        # vacuum (a pending manifest references it)
        deleted = txlog.vacuum_orphans(idx, min_age_seconds=0.0, txn_root=tmp)
        assert deleted == []
        assert txlog.recover_multi(tmp) != []
        assert txlog.snapshot(spark, idx).agg(F.sum("n")).first()[0] == o.count()
        assert txlog.recover_multi(tmp) == []  # idempotent

    def test_vacuum_orphans_age_gate(self, spark, tmp):
        import time

        o = _orders(spark)
        path = os.path.join(tmp, "t")
        txlog.create(o.coalesce(1), path)
        # a true orphan (never referenced anywhere)
        orphan = os.path.join(path, "data", "deadbeef_orphan.parquet")
        with open(orphan, "wb") as f:
            f.write(b"junk")
        # fresh: inside the in-flight horizon, kept
        assert txlog.vacuum_orphans(path, min_age_seconds=3600) == []
        # aged out: reclaimed; live files untouched
        os.utime(orphan, (time.time() - 7200, time.time() - 7200))
        got = txlog.vacuum_orphans(path, min_age_seconds=3600)
        assert got == [os.path.join("data", "deadbeef_orphan.parquet")]
        assert txlog.snapshot(spark, path).count() == o.count()

    def test_vacuum_orphans_sweeps_log_dir_tmp_debris(self, spark, tmp):
        """A writer crashed between os.link and the tmp unlink strands
        '<version>.json.<hex>.tmp'; a checkpoint_log killed mid-write
        strands '_ckpt_tmp_<hex>'. Readers skip both names forever —
        vacuum_orphans is the only reclamation path."""
        import time

        o = _orders(spark)
        path = os.path.join(tmp, "t")
        txlog.create(o.coalesce(1), path)
        ld = os.path.join(path, "_txlog")
        stranded = os.path.join(ld, f"{1:016d}.json.deadbeef.tmp")
        ckpt_tmp = os.path.join(ld, "_ckpt_tmp_deadbeef")
        for p in (stranded, ckpt_tmp):
            with open(p, "w") as f:
                f.write("{}")
        # fresh: a LIVE writer may be mid-publish — kept
        assert txlog.vacuum_orphans(path, min_age_seconds=3600) == []
        old = time.time() - 7200
        os.utime(stranded, (old, old))
        os.utime(ckpt_tmp, (old, old))
        got = txlog.vacuum_orphans(path, min_age_seconds=3600)
        assert got == sorted(
            [
                os.path.join("_txlog", os.path.basename(stranded)),
                os.path.join("_txlog", "_ckpt_tmp_deadbeef"),
            ]
        )
        # the log itself is intact: commits, reads, appends all work
        assert txlog.snapshot(spark, path).count() == o.count()
        txlog.append(o.limit(3).coalesce(1), path)
        assert txlog.snapshot(spark, path).count() == o.count() + 3

    def test_try_commit_disk_write_failure_leaves_no_tmp(self, spark, tmp, monkeypatch):
        """A failed body write (disk full) must not strand a partial
        tmp file in the log dir."""
        o = _orders(spark)
        path = os.path.join(tmp, "t")
        txlog.create(o.coalesce(1), path)
        real_open = open

        def boom(p, *a, **k):
            f = real_open(p, *a, **k)
            if str(p).endswith(".tmp"):
                class _Failing:
                    def __enter__(self):
                        return self

                    def __exit__(self, *exc):
                        f.close()
                        return False

                    def write(self, _):
                        raise OSError(28, "No space left on device")

                return _Failing()
            return f

        monkeypatch.setattr("builtins.open", boom)
        with pytest.raises(OSError):
            txlog.append(o.limit(1).coalesce(1), path)
        monkeypatch.undo()
        ld = os.path.join(path, "_txlog")
        assert [n for n in os.listdir(ld) if n.endswith(".tmp")] == []

    def test_crash_before_manifest_leaves_no_transaction(self, spark, tmp):
        """_fail_after=0: manifest IS published (phase 2 completes),
        zero table commits — recovery must still complete it; the
        all-or-nothing point is the manifest rename."""
        o = _orders(spark)
        feat, idx = os.path.join(tmp, "feat"), os.path.join(tmp, "idx")
        txlog.commit_multi(
            [(o.limit(10), feat), (o.limit(5), idx)], tmp, _fail_after=0
        )
        assert len(txlog.pending_multi(tmp)) == 1
        txlog.recover_multi(tmp)
        assert txlog.snapshot(spark, feat).count() == 10
        assert txlog.snapshot(spark, idx).count() == 5
        assert txlog.pending_multi(tmp) == []


class TestCdfStreamingComposition:
    def test_stream_full_cdf_via_replicated_audit_table(self, spark, tmp):
        """FULL change-feed streaming by composition: replicate_changes
        turns ANY table's CDF (incl. COW/MOR/restore commits) into an
        APPEND-ONLY audit table, which txlog_stream CAN stream — so
        downstream consumers tail row-level inserts AND deletes as a
        real readStream without the source having to diff rewrites
        executor-side."""
        src = os.path.join(tmp, "src")
        aud = os.path.join(tmp, "aud")
        o = _orders(spark)
        txlog.create(o.coalesce(1), src)
        txlog.delete_where(spark, src, F.col("o_totalprice") < 30000.0)  # COW
        txlog.delete_where_dv(spark, src, F.col("o_orderkey") % 10 == 0)  # MOR
        txlog.replicate_changes(spark, src, aud, "cdf")
        register_txlog_stream(spark)
        sdf = spark.readStream.format("txlog_stream").option("path", aud).load()
        q = (
            sdf.writeStream.format("memory")
            .queryName("cdf_tail")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("cdf_tail")
        assert got.filter(F.col("_change_type") == "delete").count() > 0
        assert got.count() == txlog.snapshot(spark, aud).count()
        # more src commits → replicate → the SAME stream tails them
        txlog.append(o.limit(9), src)
        txlog.replicate_changes(spark, src, aud, "cdf")
        q2 = (
            spark.readStream.format("txlog_stream")
            .option("path", aud)
            .load()
            .writeStream.format("memory")
            .queryName("cdf_tail2")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        assert (
            spark.table("cdf_tail2").filter(F.col("_src_version") == 3).count() == 9
        )


class TestColumnMappingStream:
    def test_stream_surfaces_logical_names(self, spark, tmp):
        """A renamed + dropped table streams with the SAME logical
        schema a snapshot shows — translation ships with each
        partition, old files' physical names never leak."""
        path = os.path.join(tmp, "t")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        txlog.create(o.coalesce(1), path)
        txlog.rename_column(path, "o_totalprice", "price")
        txlog.drop_column(path, "o_custkey")
        txlog.append(
            txlog.snapshot(spark, path).limit(5).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"), "price"
            ),
            path,
        )
        register_txlog_stream(spark)
        df = spark.read.format("txlog_stream").option("path", path).load()
        assert df.columns == ["o_orderkey", "price", "_commit_version"]
        assert df.count() == o.count() + 5
        sdf = spark.readStream.format("txlog_stream").option("path", path).load()
        q = (
            sdf.writeStream.format("memory")
            .queryName("cm_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("cm_stream")
        assert got.columns == ["o_orderkey", "price", "_commit_version"]
        assert got.count() == o.count() + 5

    def test_vacuumed_commit_fails_loud(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _orders(spark)
        txlog.create(o.limit(50).coalesce(1), path)
        txlog.append(o.limit(20).coalesce(1), path)
        txlog.compact(spark, path, target_partitions=1)  # v2 rewrites
        txlog.vacuum(path, keep_last=1)  # v0/v1 data files reclaimed
        register_txlog_stream(spark)
        with pytest.raises(Exception, match="vacuumed"):
            (
                spark.read.format("txlog_stream")
                .option("path", path)
                .option("end_version", "1")
                .load()
                .count()
            )
        # the batch change feed plans commits like the stream does, so
        # it names the vacuumed file too (not Spark's PATH_NOT_FOUND)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            txlog.changes(spark, path, 1)


def test_recover_races_writer_no_double_apply(spark, tmp_path):
    """A recoverer completing the SAME pending manifest the (slow)
    writer later finishes must not double-apply: the marker-checked
    commit loop makes the second attempt a no-op regardless of
    interleaving."""
    tmp = str(tmp_path)
    o = _orders(spark)
    feat, idx = os.path.join(tmp, "feat"), os.path.join(tmp, "idx")
    mid = txlog.commit_multi(
        [(o.limit(10), feat), (o.limit(5), idx)], tmp, _fail_after=1
    )
    # recoverer completes the idx entry first...
    txlog.recover_multi(tmp)
    assert txlog.snapshot(spark, idx).count() == 5
    # ...then the "writer wakes up" and retries its own redo step
    import json

    with open(os.path.join(txlog._manifest_dir(tmp), f"{mid}.json")) as f:
        manifest = json.load(f)
    for e in manifest["entries"]:
        txlog._commit_mtxn(e["table"], e["actions"] + [{"mtxn": mid}], mid)
    assert txlog.snapshot(spark, feat).count() == 10
    assert txlog.snapshot(spark, idx).count() == 5  # still exactly once


class TestBatchFacePushdown:
    def _banded(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _orders(spark)
        bands = [0, 50_000, 100_000, 150_000, 200_000, 250_000, 300_000, 400_000, 10**9]
        txlog.create(
            o.filter(
                (F.col("o_totalprice") >= bands[0]) & (F.col("o_totalprice") < bands[1])
            ).coalesce(1),
            path,
        )
        for i in range(1, 8):
            txlog.append(
                o.filter(
                    (F.col("o_totalprice") >= bands[i])
                    & (F.col("o_totalprice") < bands[i + 1])
                ).coalesce(1),
                path,
            )
        return path, o

    def test_stats_pruning_plans_fewer_files_same_rows(self, spark, tmp):
        from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

        from stockify_spark.sources.txlog_stream import (
            _TxlogBatchReaderPushdown,
            _table_schema,
        )

        path, o = self._banded(spark, tmp)
        register_txlog_stream(spark)
        pred = (F.col("o_totalprice") >= 100000) & (F.col("o_totalprice") <= 149000)
        df = spark.read.format("txlog_stream").option("path", path).load().filter(pred)
        assert df.count() == o.filter(pred).count()  # pruning never changes rows
        r = _TxlogBatchReaderPushdown(_table_schema(path), {"path": path})
        kept = r.pushFilters(
            [
                GreaterThanOrEqual(("o_totalprice",), 100000.0),
                LessThanOrEqual(("o_totalprice",), 149000.0),
            ]
        )
        assert len(list(kept)) == 2  # every filter returned for re-evaluation
        assert len(r.partitions()) == 1  # only the [100k,150k) band file

    def test_commit_version_bound_narrows_commit_loop(self, spark, tmp):
        from pyspark.sql.datasource import GreaterThanOrEqual

        from stockify_spark.sources.txlog_stream import (
            _TxlogBatchReaderPushdown,
            _table_schema,
        )

        path, _ = self._banded(spark, tmp)
        r = _TxlogBatchReaderPushdown(_table_schema(path), {"path": path})
        r.pushFilters([GreaterThanOrEqual(("_commit_version",), 6)])
        assert len(r.partitions()) == 2  # versions 6 and 7 only

    def test_vanilla_session_conf_gets_plain_reader(self, spark, tmp):
        """Under spark.sql.python.filterPushdown.enabled=false (the
        driver's vanilla-session default) the DataSource must hand
        out the reader WITHOUT pushFilters — Spark refuses pushdown-
        capable readers under that conf — and results are identical."""
        path, o = self._banded(spark, tmp)
        register_txlog_stream(spark)
        prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        try:
            pred = (F.col("o_totalprice") >= 100000) & (
                F.col("o_totalprice") <= 149000
            )
            df = (
                spark.read.format("txlog_stream").option("path", path).load()
                .filter(pred)
            )
            assert df.count() == o.filter(pred).count()
        finally:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_vacuum_orphans_respects_legacy_absolute_add_paths(spark, tmp_path):
    """A log whose add actions record ABSOLUTE paths (legacy form)
    must still protect those live files from orphan vacuum — the
    comparison is by real absolute path, not by the logged string."""
    import json
    import time

    path = str(tmp_path / "t")
    o = _orders(spark)
    txlog.create(o.limit(30).coalesce(1), path)
    # rewrite commit 0 to reference its file by ABSOLUTE path
    cpath = txlog._commit_path(path, 0)
    with open(cpath) as f:
        commit = json.load(f)
    for a in commit["actions"]:
        if "add" in a:
            a["add"]["path"] = txlog._abs(path, a["add"]["path"])
    with open(cpath, "w") as f:
        json.dump(commit, f)
    assert txlog.snapshot(spark, path).count() == 30  # still readable
    # age every file out of the horizon; the live file must survive
    old = time.time() - 7200
    dd = os.path.join(path, "data")
    for name in os.listdir(dd):
        os.utime(os.path.join(dd, name), (old, old))
    assert txlog.vacuum_orphans(path, min_age_seconds=3600) == []
    assert txlog.snapshot(spark, path).count() == 30


class TestVacuumStagingDirs:
    def test_stale_staging_dir_reclaimed_fresh_kept(self, spark, tmp):
        """ADVICE r10 (low): a writer crashed mid-phase-1 leaves a
        data/_staging_<uuid> directory no log or manifest will ever
        reference — vacuum_orphans must reclaim it once its NEWEST
        mtime clears the in-flight horizon, and must keep a fresh one
        (a live writer may still be staging into it)."""
        import time

        o = _orders(spark)
        path = os.path.join(tmp, "t")
        txlog.create(o.coalesce(1), path)
        stale = os.path.join(path, "data", "_staging_deadbeef")
        os.makedirs(stale)
        with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
            f.write(b"junk")
        fresh = os.path.join(path, "data", "_staging_cafef00d")
        os.makedirs(fresh)
        with open(os.path.join(fresh, "part-0.parquet"), "wb") as f:
            f.write(b"junk")
        # age ONLY the stale one (dir + contents)
        old = time.time() - 7200
        os.utime(os.path.join(stale, "part-0.parquet"), (old, old))
        os.utime(stale, (old, old))
        got = txlog.vacuum_orphans(path, min_age_seconds=3600)
        assert got == [os.path.join("data", "_staging_deadbeef")]
        assert not os.path.exists(stale)
        assert os.path.isdir(fresh)  # inside the horizon — kept
        # a stale DIR mtime with a fresh file inside is still live
        os.utime(fresh, (old, old))
        assert txlog.vacuum_orphans(path, min_age_seconds=3600) == []
        assert txlog.snapshot(spark, path).count() == o.count()


class TestRateLimit:
    def _thirty_commits(self, spark, path):
        mk = lambda i: spark.createDataFrame(  # noqa: E731
            [(i, float(i))], "o_orderkey long, o_totalprice double"
        )
        txlog.create(mk(0), path)
        for i in range(1, 30):
            txlog.append(mk(i), path)

    def test_offset_arithmetic_unit(self, spark, tmp):
        """Cap mechanics without the engine, following the engine's
        observed pyspark 4.1.2 call contract: on a FRESH stream
        latestOffset is asked before initialOffset (so the unknown
        base caps from starting_version - 1, bounding batch 0); at
        RESTART the offset log's last batch is re-planned through
        partitions(start, end) before any latestOffset (so the base
        re-syncs to the checkpoint and the cap can never rewind the
        offset log below delivered commits)."""
        from stockify_spark.sources.txlog_stream import (
            _TxlogStreamReader,
            _table_schema,
        )

        path = os.path.join(tmp, "t")
        self._thirty_commits(spark, path)
        schema = _table_schema(path)
        opts = {"path": path, "max_commits_per_trigger": "10"}
        # fresh stream: latestOffset FIRST — batch 0 already capped
        r = _TxlogStreamReader(schema, opts)
        assert r.latestOffset() == {"version": 9}
        assert r.initialOffset() == {"version": -1}
        assert r.latestOffset() == {"version": 19}
        assert r.latestOffset() == {"version": 29}
        assert r.latestOffset() == {"version": 29}  # caught up, no rewind
        # restart: engine re-plans the last checkpointed batch first
        r2 = _TxlogStreamReader(schema, opts)
        parts = r2.partitions({"version": 9}, {"version": 19})
        assert {p.version for p in parts} == set(range(10, 20))
        assert r2.latestOffset() == {"version": 29}  # capped from 19
        # uncapped reader is untouched by the tracking
        r3 = _TxlogStreamReader(schema, {"path": path})
        assert r3.latestOffset() == {"version": 29}

    def test_backlog_drains_in_bounded_batches_exactly_once(self, spark, tmp):
        """30-commit backlog, max_commits_per_trigger=10: the stream
        drains in >= 3 micro-batches of <= 10 commits each, every
        commit delivered exactly once INCLUDING across a checkpoint
        restart with new commits."""
        from stockify_spark.sources.txlog_stream import register_txlog_stream

        path = os.path.join(tmp, "t")
        self._thirty_commits(spark, path)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        batches: list[tuple[int, list[int]]] = []

        def sink(df, bid):
            vs = sorted(
                r["_commit_version"]
                for r in df.select("_commit_version").distinct().collect()
            )
            if vs:
                batches.append((bid, vs))

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", path)
                .option("max_commits_per_trigger", "10")
                .load()
            )
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_once()
        assert len(batches) >= 3
        assert all(len(vs) <= 10 for _, vs in batches)
        assert sorted(v for _, vs in batches for v in vs) == list(range(30))
        # new commits + restart from the same checkpoint
        for i in range(30, 35):
            txlog.append(
                spark.createDataFrame(
                    [(i, float(i))], "o_orderkey long, o_totalprice double"
                ),
                path,
            )
        n_before = len(batches)
        run_once()
        new = [v for _, vs in batches[n_before:] for v in vs]
        assert sorted(new) == list(range(30, 35))  # exactly once, no replay


class TestBatchFaceHistoricalSchema:
    def test_range_read_folds_schema_at_end_version(self, spark, tmp):
        """ADVICE r10 (low): a batch range read ending BEFORE a later
        rename/drop must surface the names snapshot(version=end)
        surfaces — not the head's names."""
        from stockify_spark.sources.txlog_stream import register_txlog_stream

        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)  # v0..v3
        txlog.rename_column(path, "o_totalprice", "price")  # v4
        txlog.append(
            _orders(spark).limit(3).withColumnRenamed("o_totalprice", "price"),
            path,
        )  # v5
        register_txlog_stream(spark)
        hist = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("end_version", "3")
            .load()
        )
        assert hist.columns == ["o_orderkey", "o_totalprice", "_commit_version"]
        assert hist.count() == o.count()
        # the head-range read surfaces the post-rename name
        head = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("skip_change_commits", "true")
            .load()
        )
        assert head.columns == ["o_orderkey", "price", "_commit_version"]
        assert head.count() == o.count() + 3

    def test_schema_comes_from_the_log(self, spark, tmp, monkeypatch):
        """The declared schema is the logged data schema with the column
        mapping applied: no footer is opened. A log without the action
        gets the same columns and types from the footer union."""
        import pyarrow.parquet as pq

        from stockify_spark.sources.txlog_stream import _table_schema
        from tests.conftest import legacy_copy

        path = os.path.join(tmp, "t")
        _append_history(spark, path)
        txlog.append(_orders(spark).limit(3).withColumn("tag", F.lit("t")), path)
        txlog.rename_column(path, "o_totalprice", "price")
        txlog.drop_column(path, "tag")
        footers = _table_schema(legacy_copy(path, os.path.join(tmp, "legacy")))

        def no_footer(*a, **k):
            raise AssertionError("footer opened")

        monkeypatch.setattr(pq, "read_schema", no_footer)
        logged = _table_schema(path)
        assert logged.names == ["o_orderkey", "price", "_commit_version"]
        assert [(f.name, f.dataType) for f in logged] == [(f.name, f.dataType) for f in footers]
        assert _table_schema(path, 4).names == ["o_orderkey", "o_totalprice", "tag", "_commit_version"]


class TestDirectCdf:
    """read_changes=true — Delta's readChangeFeed face, r11."""

    def _history(self, spark, path):
        """create / append / COW delete / MOR (DV) delete / restore —
        every change-commit class the batch CDF distinguishes."""
        o = _orders(spark)
        txlog.create(
            o.filter(F.col("o_orderkey") % 3 != 0).repartitionByRange(
                2, "o_orderkey"
            ),
            path,
        )
        txlog.append(o.filter(F.col("o_orderkey") % 3 == 0), path)       # v1
        txlog.delete_where(spark, path, F.col("o_totalprice") < 30000.0)  # v2 COW
        txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 10 == 0) # v3 MOR
        assert txlog.restore(path, 2) == 4                                # v4
        return o

    def test_batch_face_matches_changes_per_commit(self, spark, tmp):
        """The direct feed must be the exact multiset union of
        txlog.changes(v) for every row-touching commit."""
        path = os.path.join(tmp, "t")
        self._history(spark, path)
        register_txlog_stream(spark)
        got = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        assert got.columns == [
            "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
        ]
        want = None
        for v in range(5):
            c = txlog.changes(spark, path, v).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            want = c if want is None else want.unionByName(c)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_streaming_face_bounded_batches_exactly_once(self, spark, tmp):
        """Stream the full feed with a per-trigger cap: every change
        row exactly once, commit versions within each batch bounded."""
        path = os.path.join(tmp, "t")
        self._history(spark, path)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")
        sdf = (
            spark.readStream.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .option("max_commits_per_trigger", "2")
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(out)
        want = None
        for v in range(5):
            c = txlog.changes(spark, path, v).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            want = c if want is None else want.unionByName(c)
        assert got.select(*want.columns).exceptAll(want).count() == 0
        assert want.exceptAll(got.select(*want.columns)).count() == 0

    def test_metadata_only_commit_emits_nothing(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _orders(spark)
        txlog.create(o.limit(20).coalesce(1), path)
        txlog.rename_column(path, "o_totalprice", "price")  # v1: no rows
        register_txlog_stream(spark)
        got = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        assert got.columns == [
            "o_orderkey", "price", "_change_type", "_commit_version"
        ]
        assert got.filter(F.col("_commit_version") == 1).count() == 0
        assert got.count() == 20

    def test_compaction_yields_empty_feed(self, spark, tmp):
        """A rewrite that re-adds the same rows must cancel to an
        EMPTY delta (multiset diff), exactly like the batch CDF."""
        path = os.path.join(tmp, "t")
        o = _orders(spark)
        txlog.create(o.repartition(4), path)          # v0
        txlog.compact(spark, path, target_partitions=1)  # v1
        register_txlog_stream(spark)
        got = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        assert got.filter(F.col("_commit_version") == 1).count() == 0
        assert got.count() == o.count()

    def test_options_mutually_exclusive(self, spark, tmp):
        path = os.path.join(tmp, "t")
        txlog.create(_orders(spark).limit(5).coalesce(1), path)
        register_txlog_stream(spark)
        with pytest.raises(Exception, match="mutually"):
            (
                spark.read.format("txlog_stream")
                .option("path", path)
                .option("read_changes", "true")
                .option("skip_change_commits", "true")
                .load()
                .count()
            )


class TestDirectCdfNullsAndDuplicates:
    def test_diff_with_null_keys_and_duplicate_rows(self, spark, tmp):
        """exceptAll semantics through the executor-side pandas diff:
        NULLs compare equal (Spark's exceptAll rule) and duplicate
        rows cancel by COUNT, not by distinct — a COW rewrite over a
        table holding nulls and verbatim duplicates must emit exactly
        the per-copy delta changes() emits."""
        path = os.path.join(tmp, "t")
        rows = [
            (1, 10.0), (1, 10.0), (1, 10.0),   # triplicate
            (2, None), (2, None),               # null dupes
            (3, 30.0),
        ]
        df = spark.createDataFrame(rows, "k long, v double")
        txlog.create(df.coalesce(1), path)                      # v0
        txlog.delete_where(spark, path, F.col("k") == 1)        # v1: COW
        txlog.delete_where(spark, path, F.col("v").isNull())    # v2: null-key COW
        register_txlog_stream(spark)
        got = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        want = None
        for v in range(3):
            c = txlog.changes(spark, path, v).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            want = c if want is None else want.unionByName(c)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # closed form: v1 deletes THREE copies of (1, 10.0), v2 TWO nulls
        assert (
            got.filter(
                (F.col("_commit_version") == 1)
                & (F.col("_change_type") == "delete")
            ).count()
            == 3
        )
        assert (
            got.filter(
                (F.col("_commit_version") == 2)
                & (F.col("_change_type") == "delete")
            ).count()
            == 2
        )


class TestDirectCdfNestedColumns:
    def test_array_column_through_change_commit(self, spark, tmp):
        """Nested cells (array<double>) are unhashable as pandas keys;
        the diff freezes them to tuples and thaws before emission —
        the feed must round-trip values exactly and match changes()."""
        path = os.path.join(tmp, "t")
        rows = [
            (1, [1.0, 2.0]), (2, [3.0]), (3, []),
            (4, None), (5, [1.0, 2.0]),
        ]
        df = spark.createDataFrame(rows, "k long, emb array<double>")
        txlog.create(df.coalesce(1), path)                 # v0
        txlog.delete_where(spark, path, F.col("k") <= 2)   # v1 COW
        register_txlog_stream(spark)
        got = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        want = None
        for v in range(2):
            c = txlog.changes(spark, path, v).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            want = c if want is None else want.unionByName(c)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        dels = {
            r["k"]: r["emb"]
            for r in got.filter(F.col("_change_type") == "delete").collect()
        }
        assert dels == {1: [1.0, 2.0], 2: [3.0]}


class TestRateLimitRestartMidBacklog:
    def test_available_now_runs_drain_capped_slices_exactly_once(self, spark, tmp):
        """Restart while the backlog is only partly drained: each
        availableNow run captures ONE capped offset at prepare time,
        delivers to it, and terminates — so a 30-commit backlog
        drains across successive runs with no commit repeated or
        skipped, the checkpoint carrying the position between runs
        (the restart leg of the admission-control contract)."""
        path = os.path.join(tmp, "t")
        mk = lambda i: spark.createDataFrame(  # noqa: E731
            [(i, float(i))], "o_orderkey long, o_totalprice double"
        )
        txlog.create(mk(0), path)
        for i in range(1, 30):
            txlog.append(mk(i), path)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", path)
                .option("max_commits_per_trigger", "10")
                .load()
            )
            q = (
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        seen_after_run = []
        for _ in range(5):
            run_once()
            got = spark.read.parquet(out)
            vs = sorted(
                r[0] for r in got.select("_commit_version").distinct().collect()
            )
            seen_after_run.append((got.count(), vs))
            if len(vs) == 30:
                break
        counts = [n for n, _ in seen_after_run]
        # strictly increasing in bounded slices, never a full drain in run 1
        assert counts[0] < 30
        assert counts == sorted(counts)
        final_n, final_vs = seen_after_run[-1]
        assert final_vs == list(range(30))
        assert final_n == 30  # one row per commit: exactly once


class TestStreamingExactDedup:
    def test_cross_batch_and_cross_restart_state(self, spark, tmp):
        """llm/dedup.streaming_exact_dedup over the txlog stream:
        max_commits_per_trigger=1 forces one COMMIT per micro-batch,
        so suppressing a duplicate that arrived in a LATER commit
        proves the seen-fingerprint state crosses batches; appending
        another duplicate and restarting from the checkpoint proves
        it crosses restarts (state store rides the checkpoint)."""
        from stockify_spark.llm.dedup import streaming_exact_dedup

        path = os.path.join(tmp, "t")
        mk = lambda i, txt: spark.createDataFrame(  # noqa: E731
            [(i, txt)], "doc_id long, text string"
        )
        txlog.create(mk(1, "alpha beta gamma"), path)       # v0
        txlog.append(mk(2, "unique text here"), path)       # v1
        txlog.append(mk(3, "  Alpha  BETA gamma "), path)   # v2: dup of v0
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", path)
                .option("max_commits_per_trigger", "1")
                .load()
            )
            q = (
                streaming_exact_dedup(sdf, "text", "doc_id")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_once()
        got = spark.read.parquet(out)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]
        assert got.select("fingerprint").distinct().count() == 2
        # restart leg: two more commits, one duplicate one fresh
        txlog.append(mk(4, "ALPHA beta gamma"), path)       # v3: dup again
        txlog.append(mk(5, "genuinely new words"), path)    # v4
        run_once()
        got = spark.read.parquet(out)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 5]

    def test_watermark_bounded_variant_runs(self, spark, tmp):
        """The bounded-state form (dropDuplicatesWithinWatermark):
        same first-wins result while every duplicate arrives inside
        the watermark delay — the at-scale configuration, state
        evicted past the delay."""
        from stockify_spark.llm.dedup import streaming_exact_dedup

        path = os.path.join(tmp, "t")
        mk = lambda i, txt: spark.createDataFrame(  # noqa: E731
            [(i, txt)], "doc_id long, text string"
        )
        txlog.create(mk(1, "alpha beta gamma"), path)
        txlog.append(mk(2, "alpha BETA gamma"), path)  # dup
        register_txlog_stream(spark)
        sdf = (
            spark.readStream.format("txlog_stream")
            .option("path", path)
            .option("max_commits_per_trigger", "1")
            .load()
            .withColumn(
                "ts", F.timestamp_seconds(F.col("_commit_version") + 1700000000)
            )
        )
        dd = streaming_exact_dedup(sdf, "text", "doc_id", event_time_col="ts")
        assert dd.isStreaming
        q = (
            dd.writeStream.format("memory")
            .queryName("sdedup_wm")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.table("sdedup_wm")
        assert [r["doc_id"] for r in got.collect()] == [1]


class TestDedupIngestSink:
    def test_dedup_against_history_exactly_once(self, spark, tmp):
        """Dedup-against-HISTORY ingest: the destination table is the
        dedup state. Within-batch dups collapse, dups against rows
        ingested in EARLIER batches (or earlier runs) are dropped by
        the fingerprint anti-join, and a replayed batch is a no-op
        via the (app, batch-id) marker riding the same commit as the
        data."""
        from stockify_spark.llm.dedup import dedup_ingest_sink

        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "doc_id long, text string"
        )
        txlog.create(mk([(1, "alpha beta"), (2, "alpha  BETA")]), src)  # v0: in-batch dup
        txlog.append(mk([(3, "fresh words")]), src)                     # v1
        txlog.append(mk([(4, "ALPHA beta"), (5, "newer stuff")]), src)  # v2: dup-vs-history
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        sink = dedup_ingest_sink(spark, dst, "ing", "text", "doc_id")

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", src)
                .option("max_commits_per_trigger", "1")
                .load()
                .drop("_commit_version")
            )
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_once()
        got = txlog.snapshot(spark, dst)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 3, 5]
        assert got.select("fingerprint").distinct().count() == 3
        # out-of-engine replay of batch 0: marker makes it a no-op
        first = got.limit(1).drop("fingerprint")
        sink(first, 0)
        assert txlog.snapshot(spark, dst).count() == 3
        # restart with one dup + one novel commit
        txlog.append(mk([(6, "fresh  WORDS"), (7, "final novel doc")]), src)
        run_once()
        got = txlog.snapshot(spark, dst)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 3, 5, 7]


class TestNearDedupIngestSink:
    def test_near_dup_history_within_batch_and_restart(self, spark, tmp):
        """MinHash-LSH dedup-against-history: shared-shingle texts
        with small edits are dropped vs history AND within a batch
        (greedy smaller-id wins); an ALL-duplICATE commit still
        commits its idempotency marker; unrelated texts pass; state
        is the table, so a restart continues correctly."""
        from stockify_spark.llm.dedup import near_dedup_ingest_sink

        base_text = (
            "the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the river"
        )
        near = base_text.replace("softly", "gently")        # 1-token edit
        near2 = base_text.replace("quiet", "calm")          # another edit
        other = (
            "completely different subject matter entirely about "
            "spacecraft navigation systems and orbital mechanics designs"
        )
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "doc_id long, text string"
        )
        # v0: base + a within-batch near-dup; v1: all near-dups of
        # history; v2: novel
        txlog.create(mk([(1, base_text), (2, near)]), src)
        txlog.append(mk([(3, near2)]), src)
        txlog.append(mk([(4, other)]), src)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        sink = near_dedup_ingest_sink(
            spark, dst, "near", "text", "doc_id", threshold=0.5
        )

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", src)
                .option("max_commits_per_trigger", "1")
                .load()
                .drop("_commit_version")
            )
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_once()
        got = txlog.snapshot(spark, dst)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 4]
        assert got.columns == ["doc_id", "text", "_sig"]
        # restart: one more near-dup of doc 1 and one novel doc
        txlog.append(
            mk([(5, base_text.replace("rain", "snow")), (6, "short novel fragment of text")]),
            src,
        )
        run_once()
        got = txlog.snapshot(spark, dst)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 4, 6]
        # replay of batch 0 outside the engine: marker no-op
        sink(mk([(1, base_text)]), 0)
        assert txlog.snapshot(spark, dst).count() == 3


class TestNearDedupIngestSinkIndexed:
    def test_same_semantics_as_plain_sink(self, spark, tmp):
        """The bloom-indexed sink mirrors the near-dup semantics:
        history dups, within-batch greedy smaller-id, novel pass,
        replay no-op — same scripted feed as the plain sink's test."""
        from stockify_spark.llm.dedup import near_dedup_ingest_sink_indexed

        base_text = (
            "the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the river"
        )
        near = base_text.replace("softly", "gently")
        near2 = base_text.replace("quiet", "calm")
        other = (
            "completely different subject matter entirely about "
            "spacecraft navigation systems and orbital mechanics designs"
        )
        dst = os.path.join(tmp, "dst")
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "doc_id long, text string"
        )
        sink = near_dedup_ingest_sink_indexed(
            spark, dst, "neari", "text", "doc_id", threshold=0.5
        )
        sink(mk([(1, base_text), (2, near)]), 0)
        sink(mk([(3, near2)]), 1)
        sink(mk([(4, other)]), 2)
        got = txlog.snapshot(spark, dst)
        assert sorted(r["doc_id"] for r in got.collect()) == [1, 4]
        assert got.columns == ["doc_id", "text", "_sig"]
        # the self-index exists, is bloomed, and an absent key opens
        # ZERO files (the mostly-novel ingest hot path)
        idx = dst + "_bandidx"
        assert txlog.snapshot(spark, idx).count() > 0
        pruned = txlog.snapshot_point_any(
            spark, idx, "bk", ["999:absent,key,never"]
        )
        assert pruned.inputFiles() == []
        # replay of batch 1 outside the engine: marker no-op on BOTH
        # the corpus and the index
        v_dst, v_idx = txlog.current_version(dst), txlog.current_version(idx)
        sink(mk([(3, near2)]), 1)
        assert txlog.snapshot(spark, dst).count() == 2
        assert txlog.current_version(dst) == v_dst
        # (attach_bloom(missing_only) after a no-op append adds no
        # commit either: no new files to index)
        assert txlog.current_version(idx) == v_idx

    def test_parity_with_plain_sink_on_documents_feed(self, spark, tmp):
        """Survivor-set parity on a real 4-batch documents feed with
        planted cross-batch duplicates: the indexed probe must make
        the SAME drop decisions as the linear-scan probe."""
        from stockify_spark.llm.dedup import (
            near_dedup_ingest_sink,
            near_dedup_ingest_sink_indexed,
        )

        docs = (
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id", "text")
        )
        batches = []
        for b in range(4):
            batch = docs.filter(F.col("doc_id") % 4 == b)
            if b == 3:
                batch = batch.unionByName(
                    docs.filter(
                        (F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 3 == 0)
                    ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
                )
            batches.append(batch.localCheckpoint())
        plain_dst = os.path.join(tmp, "plain")
        idx_dst = os.path.join(tmp, "indexed")
        plain = near_dedup_ingest_sink(
            spark, plain_dst, "p", "text", "doc_id"
        )
        indexed = near_dedup_ingest_sink_indexed(
            spark, idx_dst, "i", "text", "doc_id"
        )
        for b, batch in enumerate(batches):
            plain(batch, b)
            indexed(batch, b)
        a = sorted(
            r["doc_id"] for r in txlog.snapshot(spark, plain_dst).collect()
        )
        bids = sorted(
            r["doc_id"] for r in txlog.snapshot(spark, idx_dst).collect()
        )
        assert a == bids and len(a) > 0


class TestIndexedSinkUnderMaintenance:
    def test_index_bounded_and_zero_open_under_maintained_sink(
        self, spark, tmp
    ):
        """Composition the r13/r14 verdicts asked for: the bloom-
        indexed near-dup sink with its INDEX table wrapped in
        maintained_sink small-file compaction. Over a 9-batch feed
        with a cadence of 4: (a) the index's live-file count stays
        bounded by the compaction instead of growing one file per
        batch, (b) after the post-maintenance batch re-blooms the
        compacted files (attach_bloom missing_only), an absent-key
        probe still opens ZERO data files, and (c) survivor
        semantics match the linear-scan sink on the same feed."""
        from stockify_spark.llm.dedup import (
            near_dedup_ingest_sink,
            near_dedup_ingest_sink_indexed,
        )

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
            "doc_id", "text"
        )
        n_b = 9
        batches = [
            docs.filter(F.col("doc_id") % n_b == b).localCheckpoint()
            for b in range(n_b)
        ]
        dst = os.path.join(tmp, "dst")
        idx = dst + "_bandidx"
        inner = near_dedup_ingest_sink_indexed(
            spark, dst, "mi", "text", "doc_id"
        )
        # compact the INDEX whenever >=2 of its files are small —
        # always true for batch-sized fragments in this test
        policy = {
            "small_file_bytes": 10 * 1024 * 1024,
            "small_file_fraction": 0.4,
            "compact_target_partitions": 1,
        }
        sink = txlog.maintained_sink(inner, spark, idx, policy, every=4)
        plain_dst = os.path.join(tmp, "plain")
        plain = near_dedup_ingest_sink(
            spark, plain_dst, "mp", "text", "doc_id"
        )
        for b, batch in enumerate(batches):
            sink(batch, b)
            plain(batch, b)
        # (a) bounded: cadence points after batches 3 and 7 compacted
        # the index; without maintenance it would hold ~9 fragments
        # (one per batch). Batch 8's append adds at most one more.
        assert len(txlog.live_files(idx)) <= 3
        # (b) batch 8 ran AFTER the last compaction, so its
        # missing_only pass bloomed the compacted file: an absent
        # band key must probe ZERO data files
        pruned = txlog.snapshot_point_any(
            spark, idx, "bk", ["999:absent,key,never"]
        )
        assert pruned.inputFiles() == []
        # (c) same survivor decisions as the linear-scan sink
        a = sorted(
            r["doc_id"] for r in txlog.snapshot(spark, dst).collect()
        )
        p = sorted(
            r["doc_id"] for r in txlog.snapshot(spark, plain_dst).collect()
        )
        assert a == p and len(a) > 0


class TestDirectCdfSchemaEdges:
    def test_mid_stream_rename_fails_loud_not_silent_nulls(self, spark, tmp):
        """A rename committed AFTER a read_changes stream captured its
        schema must error with the restart contract — name-aligned
        emission would otherwise silently NULL the renamed column's
        values (r11 review finding)."""
        path = os.path.join(tmp, "t")
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "k long, v double"
        )
        txlog.create(mk([(1, 1.0), (2, 2.0)]), path)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")
        sdf = (
            spark.readStream.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.read.parquet(out).count() == 2
            # rename + change commit while the SAME query is running:
            # its schema was captured at start, so emitting the
            # post-rename rows by name would silently NULL them — the
            # read must fail the query instead
            txlog.rename_column(path, "v", "price")
            txlog.delete_where(spark, path, F.col("price") < 1.5)
            with pytest.raises(Exception, match="declared schema"):
                q.processAllAvailable()
                q.awaitTermination(60)
        finally:
            q.stop()
        # nothing was silently emitted for the post-rename commit
        assert spark.read.parquet(out).count() == 2
        # a RESTARTED query (fresh schema capture) reads it fine —
        # the documented restart-to-pick-up-schema contract
        q2 = (
            spark.readStream.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", os.path.join(tmp, "out2"))
            .option("checkpointLocation", os.path.join(tmp, "ckpt2"))
            .start()
        )
        q2.processAllAvailable()
        q2.stop()
        got2 = spark.read.parquet(os.path.join(tmp, "out2"))
        assert "price" in got2.columns
        assert got2.filter(F.col("_change_type") == "delete").count() == 1

    def test_additive_evolution_matches_batch_cdf(self, spark, tmp):
        """A read_changes range over an additive schema change must
        null-fill pre-evolution files by NAME (the batch CDF's
        mergeSchema semantics) — parity with changes(), where the
        append face's positional count pin would refuse."""
        path = os.path.join(tmp, "t")
        txlog.create(
            spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
            path,
        )                                                           # v0: 2 cols
        txlog.append(
            spark.createDataFrame([(3, 3.0, "x")], "k long, v double, tag string"),
            path,
        )                                                           # v1: 3 cols
        txlog.delete_where(spark, path, F.col("k") == 1)            # v2: COW
        register_txlog_stream(spark)
        got = (
            spark.read.format("txlog_stream")
            .option("path", path)
            .option("read_changes", "true")
            .load()
        )
        want = None
        for v in range(3):
            c = txlog.changes(spark, path, v).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            want = c if want is None else want.unionByName(
                c, allowMissingColumns=True
            )
        want = want.select(*got.columns)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # the pre-evolution row surfaces with a NULL tag
        assert (
            got.filter((F.col("k") == 1) & (F.col("_change_type") == "insert"))
            .collect()[0]["tag"]
            is None
        )
        # the plain append face keeps its loud positional pin
        with pytest.raises(Exception, match="schema evolution"):
            (
                spark.read.format("txlog_stream")
                .option("path", path)
                .option("skip_change_commits", "true")
                .load()
                .count()
            )


class TestByteAdmission:
    """max_bytes_per_trigger: admission by LOG-RECORDED add sizes —
    commits vary wildly in bytes, so the commit-count cap alone
    cannot bound a batch (the r11 verdict's item 4)."""

    def _mixed_commits(self, spark, path):
        """8 commits alternating tiny (1 row) and fat (3000 rows)."""
        def mk(i, n):
            return spark.createDataFrame(
                [(i * 10_000 + j, float(j)) for j in range(n)],
                "o_orderkey long, o_totalprice double",
            ).coalesce(1)

        sizes = [1, 3000, 1, 3000, 1, 1, 3000, 1]
        txlog.create(mk(0, sizes[0]), path)
        for i, n in enumerate(sizes[1:], start=1):
            txlog.append(mk(i, n), path)
        return sizes

    def test_log_records_sizes_and_sum_matches_disk(self, spark, tmp):
        from stockify_spark.sources.txlog_stream import _commit_add_bytes

        path = os.path.join(tmp, "t")
        self._mixed_commits(spark, path)
        import json as _json

        for v in range(8):
            with open(txlog._commit_path(path, v)) as f:
                actions = _json.load(f)["actions"]
            adds = [a["add"] for a in actions if "add" in a]
            assert adds and all("size" in a for a in adds)
            want = sum(
                os.path.getsize(txlog._abs(path, a["path"])) for a in adds
            )
            assert _commit_add_bytes(path, v) == want

    def test_legacy_commit_without_sizes_falls_back_to_stat(self, spark, tmp):
        from stockify_spark.sources.txlog_stream import _commit_add_bytes

        path = os.path.join(tmp, "t")
        self._mixed_commits(spark, path)
        import json as _json

        want = _commit_add_bytes(path, 3)
        cpath = txlog._commit_path(path, 3)
        with open(cpath) as f:
            body = _json.load(f)
        for a in body["actions"]:
            a.get("add", {}).pop("size", None)
        os.unlink(cpath)  # rewrite in place (test-only log surgery)
        with open(cpath, "w") as f:
            _json.dump(body, f)
        assert _commit_add_bytes(path, 3) == want

    def test_offset_arithmetic_bytes(self, spark, tmp):
        """Mechanics: batch boundaries track BYTES — a batch closes
        once its admitted add-bytes reach the cap, at least one
        commit always admitted, and the count cap composes."""
        from stockify_spark.sources.txlog_stream import (
            _TxlogStreamReader,
            _commit_add_bytes,
            _table_schema,
        )

        path = os.path.join(tmp, "t")
        self._mixed_commits(spark, path)
        s = [_commit_add_bytes(path, v) for v in range(8)]
        small, fat = s[0], s[1]
        assert fat > 3 * small  # the premise: sizes differ materially

        # cap below one fat commit: every fat commit drains ALONE,
        # tiny neighbors pack together up to the cap
        cap = fat - 1
        schema = _table_schema(path)
        r = _TxlogStreamReader(
            schema, {"path": path, "max_bytes_per_trigger": str(cap)}
        )
        ends = []
        prev = -1
        while prev < 7:
            got = int(r.latestOffset()["version"])
            assert got > prev  # liveness: always >= 1 commit
            batch = list(range(prev + 1, got + 1))
            bytes_but_last = sum(s[v] for v in batch[:-1])
            # could not have closed earlier...
            assert bytes_but_last < cap
            # ...and closed for a reason: cap reached or caught up
            assert sum(s[v] for v in batch) >= cap or got == 7
            ends.append(got)
            prev = got
        assert ends[-1] == 7 and len(ends) >= 4
        # fat commits 1,3,6 were not batched with anything after them
        for v_fat in (1, 3, 6):
            assert v_fat in ends

        # compose with the commit cap: count closes first when finer
        r2 = _TxlogStreamReader(
            schema,
            {
                "path": path,
                "max_bytes_per_trigger": str(10 * fat),
                "max_commits_per_trigger": "2",
            },
        )
        assert r2.latestOffset() == {"version": 1}
        assert r2.latestOffset() == {"version": 3}

        # rejects nonsense
        with pytest.raises(ValueError, match="max_bytes_per_trigger"):
            _TxlogStreamReader(
                schema, {"path": path, "max_bytes_per_trigger": "0"}
            )

    def test_mixed_backlog_drains_exactly_once_across_restart(self, spark, tmp):
        """End-to-end: byte-capped drain delivers every commit exactly
        once, batch boundaries tracking bytes, including across a
        checkpoint restart with new commits."""
        from stockify_spark.sources.txlog_stream import (
            _commit_add_bytes,
            register_txlog_stream,
        )

        path = os.path.join(tmp, "t")
        self._mixed_commits(spark, path)
        fat = _commit_add_bytes(path, 1)
        register_txlog_stream(spark)
        ckpt = os.path.join(tmp, "ckpt")
        batches: list[list[int]] = []

        def sink(df, bid):
            vs = sorted(
                r["_commit_version"]
                for r in df.select("_commit_version").distinct().collect()
            )
            if vs:
                batches.append(vs)

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", path)
                .option("max_bytes_per_trigger", str(fat - 1))
                .load()
            )
            q = (
                sdf.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_once()
        assert sorted(v for vs in batches for v in vs) == list(range(8))
        assert len(batches) >= 4  # bounded batches, not one table-sized
        # every fat commit (1, 3, 6) ends its batch
        for v_fat in (1, 3, 6):
            assert any(vs[-1] == v_fat for vs in batches)
        # restart with fresh commits: exactly once, no replay
        for i in range(8, 11):
            txlog.append(
                spark.createDataFrame(
                    [(i, float(i))], "o_orderkey long, o_totalprice double"
                ),
                path,
            )
        n_before = len(batches)
        run_once()
        new = [v for vs in batches[n_before:] for v in vs]
        assert sorted(new) == [8, 9, 10]


class TestStartingTimestamp:
    """starting_timestamp (Delta's startingTimestamp): the stream /
    batch range starts at the EARLIEST commit whose in-commit
    timestamp is at or after the given epoch millis."""

    def test_batch_face_resolution(self, spark, tmp):
        path = os.path.join(tmp, "t")
        o = _append_history(spark, path)  # v0..v3
        register_txlog_stream(spark)
        ts2 = txlog.commit_timestamp(path, 2)

        def read(**opts):
            r = spark.read.format("txlog_stream").option("path", path)
            for k, v in opts.items():
                r = r.option(k, str(v))
            return r.load()

        # exact timestamp of v2 → starts AT v2
        got = read(starting_timestamp=ts2)
        assert set(
            r["_commit_version"]
            for r in got.select("_commit_version").distinct().collect()
        ) == {2, 3}
        # one ms after v2 → starts at v3
        got = read(starting_timestamp=ts2 + 1)
        assert set(
            r["_commit_version"]
            for r in got.select("_commit_version").distinct().collect()
        ) == {3}
        # before the first commit → everything
        got = read(starting_timestamp=txlog.commit_timestamp(path, 0) - 10)
        assert got.count() == o.count()
        # both options: rejected
        with pytest.raises(Exception, match="mutually exclusive"):
            read(starting_timestamp=ts2, starting_version=1).count()

    def test_legacy_tsless_prefix_resolves_to_first_timestamped(self, spark, tmp):
        """A log whose EARLY commits predate in-commit timestamps (no
        "ts" field — the legacy on-disk form) must still resolve
        starting_timestamp: legacy commits sort as OLDER than any
        timestamp (version_at_timestamp's ts=-1 rule), so a timestamp
        at or below the first timestamped commit starts there instead
        of propagating commit_timestamp's ValueError."""
        import json as _json

        path = os.path.join(tmp, "t")
        _append_history(spark, path)  # v0..v3
        for v in (0, 1):  # strip ts from the prefix — legacy form
            p = txlog._commit_path(path, v)
            with open(p) as f:
                c = _json.load(f)
            c.pop("ts", None)
            with open(p, "w") as f:
                _json.dump(c, f)
        register_txlog_stream(spark)
        ts2 = txlog.commit_timestamp(path, 2)

        def versions_from(ts):
            got = (
                spark.read.format("txlog_stream")
                .option("path", path)
                .option("starting_timestamp", str(ts))
                .load()
            )
            return {
                r["_commit_version"]
                for r in got.select("_commit_version").distinct().collect()
            }

        # below the first timestamped commit → starts AT it (never 0/1:
        # the legacy prefix has no timestamps to match)
        assert versions_from(ts2 - 1) == {2, 3}
        assert versions_from(ts2) == {2, 3}
        assert versions_from(ts2 + 1) == {3}

    def test_streaming_face_tail_only_when_past_head(self, spark, tmp):
        """A timestamp past the head subscribes to the TAIL: nothing
        historical, only commits landing after the stream starts."""
        path = os.path.join(tmp, "t")
        _append_history(spark, path)
        register_txlog_stream(spark)
        future = txlog.commit_timestamp(path, 3) + 60_000
        ckpt = os.path.join(tmp, "ckpt")
        out = os.path.join(tmp, "out")

        def run_once():
            sdf = (
                spark.readStream.format("txlog_stream")
                .option("path", path)
                .option("starting_timestamp", str(future))
                .load()
            )
            q = (
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        import glob as _g

        files = [f for f in _g.glob(out + "/*.parquet")]
        n0 = spark.read.parquet(out).count() if files else 0
        assert n0 == 0  # nothing historical qualified
        # new commit after subscription: delivered (offsets already
        # pinned past the old head by the checkpoint)
        txlog.append(
            spark.createDataFrame(
                [(1, 1.0)], "o_orderkey long, o_totalprice double"
            ),
            path,
        )
        run_once()
        got = spark.read.parquet(out)
        assert got.count() == 1
        assert got.first()["_commit_version"] == 4
