"""Merge/upsert and compaction operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.operators.merge import merge_upsert, upsert_partitioned
from stockify_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_merge_upsert_replaces_appends_and_deletes(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, v string, x double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0)], "id long, v string, x double"
    )
    out = {r["id"]: (r["v"], r["x"]) for r in merge_upsert(base, updates, ["id"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 200.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    deleted = merge_upsert(base, updates, ["id"], delete_condition=F.col("id") == 1)
    assert sorted(r["id"] for r in deleted.collect()) == [2, 3, 4]


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    import pathlib

    path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    orders.write.partitionBy("o_orderstatus").parquet(path)

    before = {
        p.name: max(f.stat().st_mtime for f in p.glob("*.parquet"))
        for p in pathlib.Path(path).glob("o_orderstatus=*")
    }
    assert len(before) >= 2

    # update one order in one partition
    victim = orders.filter("o_orderstatus = 'F'").first()
    updates = spark.createDataFrame(
        [(victim["o_orderkey"], 999.99, "F")],
        "o_orderkey long, o_totalprice double, o_orderstatus string",
    )
    touched = upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderstatus")
    assert touched == ["F"]

    after_df = spark.read.parquet(path)
    assert after_df.count() == orders.count()
    got = after_df.filter(F.col("o_orderkey") == victim["o_orderkey"]).collect()[0]
    assert got["o_totalprice"] == 999.99

    after = {
        p.name: max(f.stat().st_mtime for f in p.glob("*.parquet"))
        for p in pathlib.Path(path).glob("o_orderstatus=*")
    }
    untouched = [k for k in before if k != "o_orderstatus=F"]
    assert untouched and all(after[k] == before[k] for k in untouched), (
        "untouched partitions were rewritten"
    )
