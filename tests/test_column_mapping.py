"""Column-mapping schema evolution (txlog.rename_column) — rename
without rewriting data, Delta's column-mapping mode re-expressed over
the JSON commit log (round-10; reference has no schema concept at
all, stockify.cu:647-657 hardcodes its two columns).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from stockify_spark.sources import txlog

from tests.conftest import SF_SMOKE


def _orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.create(_orders(spark).repartitionByRange(4, "o_orderkey"), path)
    return path


class TestRename:
    def test_rename_is_metadata_only(self, spark, table):
        files_before = sorted(txlog.live_files(table))
        v = txlog.rename_column(table, "o_totalprice", "price")
        assert v == 1
        assert sorted(txlog.live_files(table)) == files_before  # zero rewrite
        snap = txlog.snapshot(spark, table)
        assert snap.columns == ["o_orderkey", "price"]
        assert snap.count() == _orders(spark).count()

    def test_time_travel_sees_old_names(self, spark, table):
        txlog.rename_column(table, "o_totalprice", "price")
        assert txlog.snapshot(spark, table, 0).columns == [
            "o_orderkey",
            "o_totalprice",
        ]

    def test_rename_chain(self, spark, table):
        txlog.rename_column(table, "o_totalprice", "price")
        txlog.rename_column(table, "price", "total_cents_ish")
        assert txlog.snapshot(spark, table).columns == [
            "o_orderkey",
            "total_cents_ish",
        ]

    def test_rejections(self, spark, table):
        with pytest.raises(ValueError, match="does not exist"):
            txlog.rename_column(table, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            txlog.rename_column(table, "o_totalprice", "o_orderkey")
        txlog.set_constraint(table, "pos", "o_totalprice >= 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            txlog.rename_column(table, "o_totalprice", "price")


class TestReadsAndWrites:
    def test_pruned_read_after_rename(self, spark, table):
        """The verdict's acceptance case: stats skipping must survive
        the rename — pruning consults PHYSICAL stat keys."""
        txlog.compact(spark, table, target_partitions=4, sort_by="o_totalprice")
        txlog.rename_column(table, "o_totalprice", "price")
        n_live = len(txlog.live_files(table))
        pruned = txlog.snapshot_pruned(spark, table, "price", 1000.0, 20000.0)
        assert pruned.columns == ["o_orderkey", "price"]
        assert len(pruned.inputFiles()) < n_live  # files actually skipped
        expect = _orders(spark).filter(
            (F.col("o_totalprice") >= 1000.0) & (F.col("o_totalprice") <= 20000.0)
        )
        assert pruned.count() == expect.count()

    def test_append_and_delete_with_logical_names(self, spark, table):
        txlog.rename_column(table, "o_totalprice", "price")
        o = _orders(spark)
        extra = o.limit(10).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.col("o_totalprice").alias("price"),
        )
        txlog.append(extra, table)
        snap = txlog.snapshot(spark, table)
        assert snap.count() == o.count() + 10
        # files written by the post-rename append carry PHYSICAL names
        import pyarrow.parquet as pq

        names = set()
        for f in txlog.live_files(table):
            names.update(pq.read_schema(f).names)
        assert names == {"o_orderkey", "o_totalprice"}
        # logical predicate drives the COW delete
        txlog.delete_where(spark, table, F.col("o_orderkey") >= 10_000_000)
        assert txlog.snapshot(spark, table).count() == o.count()

    def test_mor_delete_and_cdf_logical(self, spark, table):
        txlog.rename_column(table, "o_totalprice", "price")
        v = txlog.delete_where_dv(spark, table, F.col("price") < 30000.0)
        n_low = _orders(spark).filter(F.col("o_totalprice") < 30000.0).count()
        feed = txlog.changes(spark, table, v)
        assert feed.count() == n_low
        assert set(feed.columns) == {"o_orderkey", "price", "_change_type"}
        assert txlog.snapshot(spark, table).count() == _orders(
            spark
        ).count() - n_low

    def test_merge_upsert_logical(self, spark, table):
        txlog.rename_column(table, "o_totalprice", "price")
        o = _orders(spark)
        src = o.limit(20).select("o_orderkey", F.lit(123.45).alias("price"))
        txlog.merge_upsert(spark, table, src, ["o_orderkey"])
        snap = txlog.snapshot(spark, table)
        assert snap.count() == o.count()
        assert snap.filter(F.col("price") == 123.45).count() == 20

    def test_table_stats_and_bloom_logical(self, spark, table):
        txlog.rename_column(table, "o_totalprice", "price")
        st = txlog.table_stats(table)
        assert "price" in st["min"] and "o_totalprice" not in st["min"]
        txlog.attach_bloom(spark, table, "price")
        key = _orders(spark).agg(F.min("o_totalprice")).first()[0]
        got = txlog.snapshot_point(spark, table, "price", key)
        assert got.columns == ["o_orderkey", "price"]
        assert got.count() >= 1

    def test_checkpoint_and_clone_carry_renames(self, spark, table, tmp_path):
        txlog.rename_column(table, "o_totalprice", "price")
        txlog.checkpoint_log(table)
        txlog.append(_orders(spark).limit(1).withColumnRenamed("o_totalprice", "price"), table)
        # replay from the checkpoint still translates
        assert txlog.snapshot(spark, table).columns == ["o_orderkey", "price"]
        dst = str(tmp_path / "clone")
        txlog.clone(table, dst)
        assert txlog.snapshot(spark, dst).columns == ["o_orderkey", "price"]


class TestDropColumn:
    @pytest.fixture()
    def table3(self, spark, tmp_path):
        path = str(tmp_path / "t3")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        txlog.create(o.repartition(2), path)
        return path

    def test_drop_is_metadata_only_and_reads_exclude(self, spark, table3):
        files_before = sorted(txlog.live_files(table3))
        v = txlog.drop_column(table3, "o_custkey")
        assert v == 1
        assert sorted(txlog.live_files(table3)) == files_before
        assert txlog.snapshot(spark, table3).columns == [
            "o_orderkey",
            "o_totalprice",
        ]
        # time travel below the drop still sees it
        assert "o_custkey" in txlog.snapshot(spark, table3, 0).columns
        st = txlog.table_stats(table3)
        assert "o_custkey" not in st["min"]

    def test_append_without_dropped_and_readd_rejected(self, spark, table3):
        txlog.drop_column(table3, "o_custkey")
        o = _orders(spark)
        n0 = txlog.snapshot(spark, table3).count()
        txlog.append(
            o.limit(5).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.col("o_totalprice"),
            ),
            table3,
        )
        assert txlog.snapshot(spark, table3).count() == n0 + 5
        with pytest.raises(ValueError, match="tombstoned"):
            txlog.append(
                o.limit(1).select(
                    "o_orderkey", F.lit(7).alias("o_custkey"), "o_totalprice"
                ),
                table3,
            )

    def test_drop_then_rename_other_column(self, spark, table3):
        txlog.drop_column(table3, "o_custkey")
        txlog.rename_column(table3, "o_totalprice", "price")
        snap = txlog.snapshot(spark, table3)
        assert snap.columns == ["o_orderkey", "price"]
        pruned = txlog.snapshot_pruned(spark, table3, "price", 1000.0, 50000.0)
        assert pruned.columns == ["o_orderkey", "price"]
        with pytest.raises(ValueError, match="dropped"):
            txlog.snapshot_pruned(spark, table3, "o_custkey", 0, 10)

    def test_drop_rejections(self, spark, table3):
        with pytest.raises(ValueError, match="does not exist"):
            txlog.drop_column(table3, "nope")
        txlog.set_constraint(table3, "pos", "o_totalprice >= 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            txlog.drop_column(table3, "o_totalprice")
        txlog.drop_column(table3, "o_custkey")
        txlog.drop_column(table3, "o_orderkey")
        with pytest.raises(ValueError, match="last column"):
            txlog.drop_column(table3, "o_totalprice")

    def test_checkpoint_and_clone_carry_drop(self, spark, table3, tmp_path):
        txlog.drop_column(table3, "o_custkey")
        txlog.checkpoint_log(table3)
        txlog.append(
            txlog.snapshot(spark, table3).limit(1), table3
        )  # replay now starts at the checkpoint
        assert "o_custkey" not in txlog.snapshot(spark, table3).columns
        dst = str(tmp_path / "clone3")
        txlog.clone(table3, dst)
        assert "o_custkey" not in txlog.snapshot(spark, dst).columns
        with pytest.raises(ValueError, match="tombstoned"):
            txlog.append(
                txlog.snapshot(spark, dst).limit(1).withColumn("o_custkey", F.lit(1)),
                dst,
            )

    def test_cdf_excludes_dropped(self, spark, table3):
        txlog.drop_column(table3, "o_custkey")
        v = txlog.delete_where_dv(spark, table3, F.col("o_totalprice") < 30000.0)
        feed = txlog.changes(spark, table3, v)
        assert set(feed.columns) == {"o_orderkey", "o_totalprice", "_change_type"}


class TestFoldSchemaProperty:
    def test_fold_matches_reference_simulation(self, tmp_path):
        """Property: for random valid rename/drop sequences, the log
        fold (_replay(path).fold_schema()) equals a direct simulation over the
        live logical schema. Pure-python (the fold never opens data),
        seeded exhaustively over many sequences."""
        import json
        import random

        from stockify_spark.sources.txlog import _log_dir, _replay

        rng = random.Random(42)
        for trial in range(200):
            cols = {f"c{i}": f"c{i}" for i in range(5)}  # logical -> physical
            dropped_ref: set = set()
            actions = []
            for _ in range(rng.randint(0, 12)):
                live = sorted(cols)
                if not live:
                    break
                if rng.random() < 0.6:
                    frm = rng.choice(live)
                    to = f"n{trial}_{len(actions)}"
                    actions.append({"rename": {"from": frm, "to": to}})
                    cols[to] = cols.pop(frm)
                else:
                    name = rng.choice(live)
                    actions.append(
                        {"drop_column": {"logical": name, "physical": cols[name]}}
                    )
                    dropped_ref.add(cols.pop(name))
            path = str(tmp_path / f"t{trial}")
            import os

            os.makedirs(_log_dir(path))
            with open(os.path.join(_log_dir(path), f"{0:016d}.json"), "w") as f:
                json.dump({"version": 0, "actions": actions}, f)
            m, dropped = _replay(path).fold_schema()
            expect_m = {lg: p for lg, p in cols.items() if lg != p}
            assert m == expect_m, (trial, actions, m, expect_m)
            assert dropped == dropped_ref, (trial, actions)


def test_merge_upsert_after_drop(spark, tmp_path):
    """MERGE on a table with a dropped column: the source batch
    carries only the live logical schema; rewritten files exclude the
    tombstone (delete_where's documented rewrite caveat); results
    match the no-drop merge semantics."""
    path = str(tmp_path / "t")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    txlog.create(o.repartition(2), path)
    txlog.drop_column(path, "o_custkey")
    src = o.limit(15).select("o_orderkey", F.lit(777.0).alias("o_totalprice"))
    txlog.merge_upsert(spark, path, src, ["o_orderkey"])
    snap = txlog.snapshot(spark, path)
    assert snap.columns == ["o_orderkey", "o_totalprice"]
    assert snap.count() == o.count()
    assert snap.filter(F.col("o_totalprice") == 777.0).count() == 15


class TestPhysicalNameWriteGuard:
    """ADVICE r10 (medium): after rename a->b, the physical storage
    name 'a' is IN USE by logical 'b' — a new batch column literally
    named 'a' would be written as physical 'a' and silently read back
    as logical 'b' (data mis-attribution). Write paths must reject
    it, mirroring the field-id protection the tombstone check already
    gives drops."""

    def test_append_new_column_named_like_inuse_physical_rejected(
        self, spark, table
    ):
        txlog.rename_column(table, "o_totalprice", "price")
        bad = spark.createDataFrame(
            [(900000001, 1.0, 2.0)],
            "o_orderkey long, price double, o_totalprice double",
        )
        with pytest.raises(ValueError, match="physical storage name"):
            txlog.append(bad, table)
        # idempotent append and merge share the guard
        with pytest.raises(ValueError, match="physical storage name"):
            txlog.append_idempotent(bad, table, "app", 1)
        with pytest.raises(ValueError, match="physical storage name"):
            txlog.merge_upsert(spark, table, bad, ["o_orderkey"])

    def test_logical_name_reuse_via_rename_chain_still_writes(self, spark, table):
        """rename a->b then c->a: batch column 'a' IS a logical name
        (maps to physical 'c') — must NOT be rejected."""
        txlog.rename_column(table, "o_totalprice", "price")
        txlog.rename_column(table, "o_orderkey", "o_totalprice")
        batch = spark.createDataFrame(
            [(900000002.0, 3.0)], "o_totalprice double, price double"
        ).select(
            F.col("o_totalprice").cast("long").alias("o_totalprice"),
            F.col("price"),
        )
        txlog.append(batch, table)
        snap = txlog.snapshot(spark, table)
        assert set(snap.columns) == {"o_totalprice", "price"}
        assert (
            snap.filter(F.col("o_totalprice") == 900000002).select("price")
            .collect()[0][0]
            == 3.0
        )


class TestRenameFoldsDrops:
    """ADVICE r10 (low): rename_column must fold drops like
    drop_column does — a dropped column is not renameable, and a
    rename TO a dropped PHYSICAL name is legal (the tombstone
    protects the file layer, not the logical namespace)."""

    @pytest.fixture()
    def table3(self, spark, tmp_path):
        path = str(tmp_path / "t3")
        txlog.create(
            _orders(spark)
            .withColumn("flag", F.col("o_orderkey") % 2)
            .repartitionByRange(2, "o_orderkey"),
            path,
        )
        return path

    def test_rename_dropped_column_rejected(self, spark, table3):
        txlog.drop_column(table3, "flag")
        with pytest.raises(ValueError, match="does not exist"):
            txlog.rename_column(table3, "flag", "flag2")

    def test_rename_to_dropped_physical_name_allowed(self, spark, table3):
        txlog.drop_column(table3, "flag")
        v = txlog.rename_column(table3, "o_totalprice", "flag")
        assert v == 2
        snap = txlog.snapshot(spark, table3)
        assert set(snap.columns) == {"o_orderkey", "flag"}
        # logical 'flag' reads the o_totalprice bytes, NOT the
        # tombstoned physical 'flag' bytes
        got = snap.agg(F.round(F.sum("flag"), 2).alias("s")).collect()[0]["s"]
        want = (
            _orders(spark).agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
            .collect()[0]["s"]
        )
        assert got == want
        # and writes of logical 'flag' translate to the physical
        # o_totalprice column, never the tombstone
        txlog.append(
            spark.createDataFrame([(900000003, 7.5)], "o_orderkey long, flag double"),
            table3,
        )
        assert (
            txlog.snapshot(spark, table3)
            .filter(F.col("o_orderkey") == 900000003)
            .collect()[0]["flag"]
            == 7.5
        )
