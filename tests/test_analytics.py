"""Semantics tests for the classic-analytics queries (queries: aggregates,
events, filters, graph, orders, pipeline, text, txlog, windows):
sessionization boundaries, EWMA
renormalization at series starts, drawdown monotonicity, skyline
dominance, and the HLL sketch-union tolerance contract. The
cross-engine value check lives in tools/check_oracle.py; these pin
the operator semantics on hand-built micro-inputs where the right
answer is computable by eye."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _events(spark, rows):
    """rows: (event_id, user_id, seconds_offset, value)."""
    base = datetime.datetime(2024, 1, 1)
    data = [
        (eid, base + datetime.timedelta(seconds=s), uid, "click", v, "{}")
        for eid, uid, s, v in rows
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _run(spark, tmp_path, df, qname):
    """Write a one-table sf_dir and run the registered query on it."""
    from stockify_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    return QUERIES[qname](spark, d)


def test_sessionize_splits_exactly_at_gap_threshold(spark, tmp_path):
    rows = [
        # user 1: events at 0s, 1700s (same session), 1700+1801s (new)
        (1, 1, 0, 10.0),
        (2, 1, 1700, 20.0),
        (3, 1, 3501, 30.0),
        # user 2: single event
        (4, 2, 50, 5.0),
    ]
    out = _run(spark, tmp_path, _events(spark, rows), "events_sessionize")
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    assert got == {
        (1, 1): (2, 30.0),
        (1, 2): (1, 30.0),
        (2, 1): (1, 5.0),
    }


def test_sessionize_gap_of_exactly_30min_does_not_split(spark, tmp_path):
    rows = [(1, 1, 0, 1.0), (2, 1, 1800, 1.0)]  # gap == threshold
    out = _run(spark, tmp_path, _events(spark, rows), "events_sessionize")
    assert out.count() == 1


def test_ewma_renormalizes_over_available_lags(spark, tmp_path):
    """First row of a series has only lag-0: ewma == value exactly.
    Second row: (x1/2 + x0/4) / (3/4)."""
    rows = [(1, 1, 0, 8.0), (2, 1, 10, 4.0)]
    out = _run(spark, tmp_path, _events(spark, rows), "window_ewma")
    got = {r["event_id"]: r["ewma"] for r in out.collect()}
    assert got[1] == pytest.approx(8.0, abs=1e-9)
    assert got[2] == pytest.approx((4.0 / 2 + 8.0 / 4) / 0.75, abs=1e-6)


def test_drawdown_is_zero_at_running_peak_and_positive_after(spark, tmp_path):
    rows = [(1, 1, 0, 10.0), (2, 1, 10, 15.0), (3, 1, 20, 12.0)]
    out = _run(spark, tmp_path, _events(spark, rows), "window_drawdown")
    got = {r["event_id"]: (r["peak"], r["drawdown"], r["drawdown_pct"]) for r in out.collect()}
    assert got[1] == (10.0, 0.0, 0.0)
    assert got[2] == (15.0, 0.0, 0.0)
    assert got[3][0] == 15.0
    assert got[3][1] == pytest.approx(3.0)
    assert got[3][2] == pytest.approx(0.2)


def test_skyline_keeps_only_undominated_points(spark, tmp_path):
    """Skyline of {(p,q)}: maximize price, minimize qty. Hand-built
    frontier: (100,1) and (300,5); (200,5) is dominated by (300,5),
    (100,2) by (100,1) via the per-price min collapse."""
    li = spark.createDataFrame(
        [(1, 100.0, 1.0), (2, 100.0, 2.0), (3, 200.0, 5.0), (4, 300.0, 5.0)],
        "l_orderkey long, l_extendedprice double, l_quantity double",
    )
    from stockify_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = sorted(
        (r["price"], r["qty"])
        for r in QUERIES["analytics_skyline"](spark, d).collect()
    )
    assert got == [(100.0, 1.0), (300.0, 5.0)]


def test_sketch_union_estimate_within_tolerance_at_sf001(spark):
    from stockify_spark.registry import QUERIES

    row = QUERIES["agg_sketch_union"](spark, "/root/testdata/sf0.001").collect()[0]
    assert row["union_estimate_ok"] is True
    assert row["n_exact"] > 0 and row["n_groups"] > 0


def test_histogram_buckets_partition_the_rows(spark):
    from stockify_spark.registry import QUERIES

    rows = QUERIES["agg_histogram"](spark, "/root/testdata/sf0.001").collect()
    import pyarrow.parquet as pq

    n_orders = pq.read_metadata(
        "/root/testdata/sf0.001/orders.parquet"
    ).num_rows
    assert sum(r["n"] for r in rows) == n_orders
    for r in rows:
        assert 25000.0 * r["bucket"] <= r["lo"] <= r["hi"] < 25000.0 * (r["bucket"] + 1)


def test_scd2_merge_closes_and_versions(spark):
    from stockify_spark.operators.merge import merge_scd2

    dim = spark.createDataFrame(
        [(1, "A", "2020-01-01", None), (2, "B", "2020-01-01", None),
         (3, "C", "2019-01-01", "2020-01-01")],  # history row: untouched
        "k long, attr string, valid_from string, valid_to string",
    )
    upd = spark.createDataFrame(
        [(1, "A2", "2021-06-01")], "k long, attr string, effective_from string"
    )
    rows = {
        (r["k"], r["attr"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in merge_scd2(dim, upd, ["k"]).collect()
    }
    assert rows[(1, "A")] == ("2020-01-01", "2021-06-01", False)   # closed
    assert rows[(1, "A2")] == ("2021-06-01", None, True)           # new open
    assert rows[(2, "B")] == ("2020-01-01", None, True)            # untouched open
    assert rows[(3, "C")] == ("2019-01-01", "2020-01-01", False)   # history
    assert len(rows) == 4


def test_concurrency_touching_intervals_do_not_stack(spark, tmp_path):
    """[0,60] and [60,120]: the end at t=60 sorts before the start
    at t=60, so peak stays 1; [30,90] overlapping both lifts it to 2
    for the middle stretch."""
    rows = [(1, 1, 0, 60.0), (2, 1, 60, 60.0), (3, 2, 0, 60.0), (4, 2, 30, 60.0)]
    evs = _events(spark, rows).withColumn(
        "event_type", F.concat(F.lit("t"), F.col("user_id"))
    ).drop("user_id").withColumn("user_id", F.lit(0)).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = _run(spark, tmp_path, evs, "events_concurrency")
    got = {r["event_type"]: r["peak_concurrent"] for r in out.collect()}
    assert got == {"t1": 1, "t2": 2}


def test_basket_pairs_counts_known_baskets(spark, tmp_path):
    """Orders {1: (10,20,30), 2: (10,20), 3: (10,20)} → (10,20)
    support 3, (10,30) and (20,30) support 1 (filtered at >= 2).
    Duplicate lines of one part in an order must not inflate support."""
    li = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 20), (1, 30), (2, 10), (2, 20), (3, 10), (3, 20)],
        "l_orderkey long, l_partkey long",
    )
    from stockify_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = {
        (r["part_a"], r["part_b"]): r["support"]
        for r in QUERIES["basket_pairs"](spark, d).collect()
    }
    assert got == {(10, 20): 3}


def test_incremental_agg_equals_full_recompute(spark):
    from stockify_spark.registry import QUERIES
    from stockify_spark.sources.io import load_table
    from pyspark.sql import functions as F2

    inc = QUERIES["merge_incremental_agg"](spark, "/root/testdata/sf0.001")
    full = (
        load_table(spark, "/root/testdata/sf0.001", "orders")
        .groupBy("o_custkey")
        .agg(
            F2.count(F2.lit(1)).alias("n_orders"),
            F2.round(F2.sum("o_totalprice"), 2).alias("total"),
            F2.max(F2.unix_millis("o_orderdate")).alias("last_ms"),
        )
    )
    assert inc.exceptAll(full).count() == 0 and full.exceptAll(inc).count() == 0


def test_skyline_bucketed_equals_global(spark):
    """The range-partitioned skyline must equal the global-order
    form row-for-row (the multi-partition parity proof)."""
    from stockify_spark.registry import QUERIES

    d = "/root/testdata/sf0.001"
    a = QUERIES["analytics_skyline"](spark, d)
    b = QUERIES["skyline_partitioned_parity"](spark, d)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0
