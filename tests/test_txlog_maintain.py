"""Threshold-driven maintenance policy face (sources/txlog.maintain)
— the r12 verdict's top item: checkpoint / selective compaction /
log retention / orphan sweep / gram fold unified behind one
policy call, idempotent once the table has converged.
"""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from stockify_spark.sources import txlog

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def _orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )


def _fragmented(spark, path, n_appends: int = 7):
    """create + n single-file appends — a trickle-ingest shape."""
    o = _orders(spark)
    txlog.create(o.filter(F.col("o_orderkey") % 10 == 0).coalesce(1), path)
    for r in range(1, n_appends + 1):
        txlog.append(o.filter(F.col("o_orderkey") % 10 == r).coalesce(1), path)
    return o


def _by_action(decisions):
    return {d["action"]: d for d in decisions}


POLICY = {
    "checkpoint_commits": 3,
    "small_file_bytes": 512 << 20,
    "small_file_fraction": 0.9,
    "log_keep_versions": 2,
    "orphan_age_seconds": 3600.0,
}


class TestMaintain:
    def test_full_policy_then_idempotent_second_call(self, spark, tmp):
        path = os.path.join(tmp, "t")
        _fragmented(spark, path)  # v0..v7, 8 small files, no checkpoint
        orphan = os.path.join(path, "data", "orphan.parquet")
        with open(orphan, "wb") as f:
            f.write(b"debris")
        old = time.time() - 7200
        os.utime(orphan, (old, old))
        n_before = txlog.snapshot(spark, path).count()

        d1 = _by_action(txlog.maintain(spark, path, POLICY))
        assert d1["checkpoint"]["triggered"] and d1["checkpoint"]["result"] == 7
        assert d1["checkpoint"]["metric"] == 8.0  # head+1: no prior ckpt
        assert d1["compact_small"]["triggered"]
        assert d1["compact_small"]["metric"] == 1.0
        assert d1["compact_small"]["result"] == 8
        assert d1["expire_log"]["triggered"] and d1["expire_log"]["metric"] == 7.0
        assert d1["vacuum_orphans"]["triggered"]
        assert d1["vacuum_orphans"]["result"] == 1
        assert not os.path.exists(orphan)
        # table content untouched by maintenance
        assert txlog.snapshot(spark, path).count() == n_before
        assert len(txlog.live_files(path)) == 1
        assert txlog.earliest_version(path) == 7

        # second call: converged — every decision reports False and
        # no commit / deletion happens
        head = txlog.current_version(path)
        d2 = _by_action(txlog.maintain(spark, path, POLICY))
        assert not any(d["triggered"] for d in d2.values())
        assert txlog.current_version(path) == head
        assert d2["checkpoint"]["result"] == -1
        assert d2["compact_small"]["result"] == -1
        assert d2["expire_log"]["result"] == 0
        assert d2["vacuum_orphans"]["result"] == 0

    def test_each_threshold_gates_its_action(self, spark, tmp):
        path = os.path.join(tmp, "t")
        _fragmented(spark, path, n_appends=2)  # 3 commits
        # thresholds ABOVE the metrics: nothing fires
        quiet = _by_action(
            txlog.maintain(
                spark,
                path,
                {
                    "checkpoint_commits": 10,
                    "small_file_bytes": 1,  # nothing is under 1 byte
                    "small_file_fraction": 0.9,
                    "log_keep_versions": 50,
                    "orphan_age_seconds": 3600.0,
                },
            )
        )
        assert not any(d["triggered"] for d in quiet.values())
        assert txlog.current_version(path) == 2
        # fraction threshold: 3 small files of 3 = 1.0; f=1.0 is NOT
        # exceeded (strict >), f=0.99 is
        d = _by_action(
            txlog.maintain(
                spark,
                path,
                {"small_file_bytes": 512 << 20, "small_file_fraction": 1.0},
            )
        )
        assert not d["compact_small"]["triggered"]
        d = _by_action(
            txlog.maintain(
                spark,
                path,
                {"small_file_bytes": 512 << 20, "small_file_fraction": 0.99},
            )
        )
        assert d["compact_small"]["triggered"]

    def test_small_file_sizes_come_from_the_log(self, spark, tmp, monkeypatch):
        """The small-file trigger and compact_small size each live file
        from its add action's logged size: with os.path.getsize
        refusing every file live before the call, maintain returns the
        decisions an unpatched run on a copy of the table returns."""
        import shutil

        path = os.path.join(tmp, "t")
        _fragmented(spark, path, n_appends=3)
        twin = os.path.join(tmp, "twin")
        shutil.copytree(path, twin)
        policy = {"small_file_bytes": 512 << 20, "small_file_fraction": 0.5}
        want = txlog.maintain(spark, twin, policy)
        assert want[0]["triggered"]
        live = {os.path.realpath(f) for f in txlog.live_files(path)}
        real = os.path.getsize

        def getsize(p):
            if os.path.realpath(p) in live:
                raise AssertionError(f"stat of a file whose size is logged: {p}")
            return real(p)

        monkeypatch.setattr(os.path, "getsize", getsize)
        assert txlog.maintain(spark, path, policy) == want

    def test_compact_skipped_while_dvs_active(self, spark, tmp):
        path = os.path.join(tmp, "t")
        _fragmented(spark, path, n_appends=2)
        txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 7 == 0)
        d = _by_action(
            txlog.maintain(
                spark,
                path,
                {"small_file_bytes": 512 << 20, "small_file_fraction": 0.5},
            )
        )
        # metric still reported, action withheld (MOR sidecars block
        # rewrites); the policy call itself must not raise
        assert d["compact_small"]["metric"] == 1.0
        assert not d["compact_small"]["triggered"]
        txlog.materialize_dvs(spark, path)
        d = _by_action(
            txlog.maintain(
                spark,
                path,
                {"small_file_bytes": 512 << 20, "small_file_fraction": 0.5},
            )
        )
        assert d["compact_small"]["triggered"]

    def test_clustered_compaction_restores_skipping_layout(self, spark, tmp):
        """compact_zorder_by in the policy: the small-file trigger
        runs the clustered FULL rewrite (OPTIMIZE ZORDER), so a
        fragmented table comes back with its multi-column skipping
        layout — pruned probes open a strict subset of files on BOTH
        clustered columns; second call converges (one healthy file)."""
        path = os.path.join(tmp, "t")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
            "o_orderkey", "o_totalprice", "o_custkey"
        )
        txlog.create(o.filter(F.col("o_orderkey") % 8 == 0).coalesce(1), path)
        for r in range(1, 8):
            txlog.append(o.filter(F.col("o_orderkey") % 8 == r).coalesce(1), path)
        pol = {
            "small_file_bytes": 512 << 20,
            "small_file_fraction": 0.5,
            "compact_target_partitions": 4,
            "compact_zorder_by": ["o_totalprice", "o_custkey"],
        }
        n = txlog.snapshot(spark, path).count()
        d = _by_action(txlog.maintain(spark, path, pol))
        assert d["compact_cluster"]["triggered"]
        assert txlog.snapshot(spark, path).count() == n
        assert len(txlog.live_files(path)) == 4
        lo = o.agg(F.min("o_totalprice")).collect()[0][0]
        ck = o.agg(F.min("o_custkey")).collect()[0][0]
        # the 2-D min-corner probe must skip files through the
        # restored Z-layout boxes (bench E2c physics at 4 files)
        pruned = txlog.snapshot_pruned_multi(
            spark,
            path,
            [("o_totalprice", lo, lo + 1000.0), ("o_custkey", ck, ck + 5)],
        )
        assert len(pruned.inputFiles()) < 4
        # convergence: the table is AT the target layout width, so the
        # second pass must not rewrite (even though every file is
        # still under small_file_bytes at toy scale) — until new
        # fragments push the file count past the target again
        files_before = sorted(txlog.live_files(path))
        d2 = _by_action(txlog.maintain(spark, path, pol))
        assert not d2["compact_cluster"]["triggered"]
        assert sorted(txlog.live_files(path)) == files_before
        txlog.append(o.limit(7).coalesce(1), path)  # fragment returns
        d3 = _by_action(txlog.maintain(spark, path, pol))
        assert d3["compact_cluster"]["triggered"]
        assert len(txlog.live_files(path)) == 4
        with pytest.raises(ValueError, match="mutually exclusive"):
            txlog.maintain(
                spark,
                path,
                {**pol, "compact_sort_by": "o_totalprice"},
            )

    def test_gram_fold_threshold(self, spark, tmp):
        from stockify_spark.llm.pca import gram_update

        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        table = os.path.join(tmp, "gram")
        for v in range(3):
            gram_update(
                emb.filter(F.col("vec_id") % 3 == v),
                table,
                app_id="m",
                batch_version=v,
            )
        d = _by_action(txlog.maintain(spark, table, {"gram_partial_rows": 1}))
        assert d["compact_gram"]["metric"] == 3.0
        assert d["compact_gram"]["triggered"]
        assert txlog.snapshot(spark, table).count() == 1
        d = _by_action(txlog.maintain(spark, table, {"gram_partial_rows": 1}))
        assert not d["compact_gram"]["triggered"]
        assert d["compact_gram"]["metric"] == 1.0

    def test_vacuum_policy_reclaims_compacted_fragments(self, spark, tmp):
        """vacuum_keep_last: after the compaction step retires the
        fragments, the vacuum step (same pass, keep_last=1) reclaims
        their bytes; snapshots keep reading; second pass is a no-op."""
        path = os.path.join(tmp, "t")
        _fragmented(spark, path, n_appends=4)  # 5 fragments
        n = txlog.snapshot(spark, path).count()
        pol = {
            "small_file_bytes": 512 << 20,
            "small_file_fraction": 0.5,
            "vacuum_keep_last": 1,
        }
        d = _by_action(txlog.maintain(spark, path, pol))
        assert d["compact_small"]["triggered"]
        assert d["vacuum"]["triggered"] and d["vacuum"]["result"] == 5
        # the fragments are physically gone; the table still reads
        data_files = os.listdir(os.path.join(path, "data"))
        assert len([f for f in data_files if f.endswith(".parquet")]) == 1
        assert txlog.snapshot(spark, path).count() == n
        d2 = _by_action(txlog.maintain(spark, path, pol))
        assert not d2["vacuum"]["triggered"] and d2["vacuum"]["result"] == 0

    def test_unknown_policy_key_rejected(self, spark, tmp):
        path = os.path.join(tmp, "t")
        txlog.create(_orders(spark).limit(5).coalesce(1), path)
        with pytest.raises(ValueError, match="unknown maintain policy"):
            txlog.maintain(spark, path, {"compact_every": 5})

    def test_age_based_expiry(self, spark, tmp):
        """log_max_age_ms / expire_log(max_age_ms=...): the horizon is
        the version a TIMESTAMP AS OF read at now-age resolves to —
        that version itself survives (the oldest in-window read must
        keep working), everything below a checkpoint at/below it
        expires."""
        path = os.path.join(tmp, "t")
        _fragmented(spark, path, n_appends=5)  # v0..v5
        txlog.checkpoint_log(path)  # at v5
        txlog.append(_orders(spark).limit(3).coalesce(1), path)  # v6
        ts0 = txlog.commit_timestamp(path, 0)
        ts3 = txlog.commit_timestamp(path, 3)
        ts5 = txlog.commit_timestamp(path, 5)
        # cutoff older than everything: nothing to do
        assert txlog.expire_log(path, max_age_ms=100, now_ms=ts0) == []
        # cutoff between v3 and v4: horizon v3, but the only
        # checkpoint (v5) is above it — contract holds, no deletion
        assert txlog.expire_log(path, max_age_ms=0, now_ms=ts3) == []
        # cutoff at v5's ts: horizon v5 = the checkpoint; v0..v4 go
        removed = txlog.expire_log(path, max_age_ms=0, now_ms=ts5)
        assert removed == sorted(f"{v:016d}.json" for v in range(5))
        # the resolved version itself still reads
        assert txlog.snapshot(spark, path, timestamp_ms=ts5).count() > 0
        assert txlog.earliest_version(path) == 5
        # idempotent; and a cutoff now BELOW the expired horizon
        # resolves through the VersionExpired branch to a no-op
        assert txlog.expire_log(path, max_age_ms=0, now_ms=ts5) == []
        assert txlog.expire_log(path, max_age_ms=0, now_ms=ts3) == []
        with pytest.raises(ValueError):
            txlog.expire_log(path)
        # maintain's decision row for the age form
        d = _by_action(
            txlog.maintain(spark, path, {"log_max_age_ms": 10**15})
        )
        assert not d["expire_log_age"]["triggered"]

    def test_maintained_sink_runs_policy_on_cadence(self, spark, tmp):
        """maintained_sink: the wrapped foreachBatch sink triggers the
        policy every N batches; data is untouched; a replayed cadence
        batch re-runs a converged policy as a no-op."""
        from stockify_spark.llm.dedup import dedup_ingest_sink

        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
            "doc_id", "text"
        )
        dst = os.path.join(tmp, "corpus")
        inner = dedup_ingest_sink(spark, dst, "ms", "text", "doc_id")
        policy = {"checkpoint_commits": 0}
        sink = txlog.maintained_sink(inner, spark, dst, policy, every=2)
        for b in range(4):
            sink(docs.filter(F.col("doc_id") % 4 == b), b)
        # cadence points after batches 1 and 3: checkpoints exist and
        # the newest is at the batch-3 commit
        names = [
            n
            for n in os.listdir(os.path.join(dst, "_txlog"))
            if n.startswith("checkpoint.")
        ]
        assert len(names) == 2
        n_rows = txlog.snapshot(spark, dst).count()
        head = txlog.current_version(dst)
        # replay of the last cadence batch: data no-op (idempotent
        # marker) AND maintenance no-op (converged policy)
        sink(docs.filter(F.col("doc_id") % 4 == 3), 3)
        assert txlog.snapshot(spark, dst).count() == n_rows
        assert txlog.current_version(dst) == head
        assert len(
            [
                n
                for n in os.listdir(os.path.join(dst, "_txlog"))
                if n.startswith("checkpoint.")
            ]
        ) == 2
        with pytest.raises(ValueError):
            txlog.maintained_sink(inner, spark, dst, policy, every=0)

    def test_retention_converges_over_successive_calls(self, spark, tmp):
        """First call checkpoints AND expires in one pass (checkpoint
        runs before retention, so the replay base it writes already
        qualifies when the keep window reaches it)."""
        path = os.path.join(tmp, "t")
        _fragmented(spark, path, n_appends=5)  # v0..v5
        d = _by_action(
            txlog.maintain(
                spark, path, {"checkpoint_commits": 0, "log_keep_versions": 1}
            )
        )
        assert d["checkpoint"]["triggered"] and d["checkpoint"]["result"] == 5
        assert d["expire_log"]["triggered"] and d["expire_log"]["metric"] == 5.0
        assert txlog.earliest_version(path) == 5
        assert txlog.snapshot(spark, path).count() > 0
