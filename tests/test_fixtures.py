"""Fixture-generator checks (FIXTURES.md §A)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.sources.fixtures import RAMP_CYCLES, RAMP_PERIOD, RAMP_SQL, stocks_ramp, stocks_rand


def test_ramp_reproduces_reference_table(spark):
    df = stocks_ramp(spark, cycles=2)
    rows = df.orderBy("row_id").collect()
    assert len(rows) == 2 * RAMP_PERIOD
    r0, r17, r18 = rows[0], rows[17], rows[18]
    assert (r0["date"], r0["close"], r0["volume"], r0["open"], r0["high"], r0["low"]) == (
        "2024-01-01", 500.0, 1_200_000.0, 450.0, 510.0, 440.0
    )
    assert (r17["close"], r17["volume"]) == (670.0, 2_900_000.0)
    # period 18: row 18 repeats row 0
    assert r18["close"] == r0["close"] and r18["date"] == r0["date"]


def test_ramp_sql_equals_spark_ramp(spark):
    """The ramp's two faces, the Spark generator and the DuckDB SQL the
    oracles read, hold the same rows column for column."""
    import duckdb

    cur = duckdb.connect().execute(RAMP_SQL)
    cols = [d[0] for d in cur.description]
    want = stocks_ramp(spark, cycles=RAMP_CYCLES)
    assert cols == want.columns
    assert sorted(cur.fetchall()) == sorted(tuple(r) for r in want.collect())


def test_ramp_selectivities_match_reference_probes(spark):
    """FIXTURES.md: volume >= 1e6 selects everything (reference
    behavior); volume >= 1.8e6 selects exactly 12/18."""
    df = stocks_ramp(spark, cycles=100)
    n = df.count()
    assert df.filter(F.col("volume") >= 1e6).count() == n
    assert df.filter(F.col("volume") >= 1.8e6).count() == n * 12 // 18


def test_rand_deterministic_and_in_range(spark):
    a = stocks_rand(spark, n=1000).collect()
    b = stocks_rand(spark, n=1000).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert 100 <= r["close"] < 200
        assert 1_000_000 <= r["volume"] < 2_000_000


def test_observed_write_counts_without_second_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from stockify_spark.sources.io import load_table, write_parquet_observed

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    got = write_parquet_observed(
        li,
        str(tmp_path / "observed"),
        metrics={
            "rows_written": F.count(F.lit(1)),
            "sum_qty": F.round(F.sum("l_quantity"), 2),
        },
    )
    assert got["rows_written"] == li.count()
    expected_sum = li.agg(F.round(F.sum("l_quantity"), 2)).collect()[0][0]
    assert got["sum_qty"] == expected_sum


def test_read_jsonl_malformed_record_policies(spark, tmp_path):
    """r9: the three malformed-line policies of the JSONL ingest
    surface — quarantine (PERMISSIVE), drop, and abort."""
    import pytest
    from pyspark.sql import types as T

    from stockify_spark.sources.io import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "{broken json\n"
        '{"doc_id": 3, "text": "gamma"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    ok = read_jsonl(spark, str(p), schema)  # PERMISSIVE
    rows = ok.select("doc_id", "text", "_corrupt_record").collect()
    assert len(rows) == 3
    good = {r.doc_id for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {1, 3} and len(bad) == 1
    assert bad[0]._corrupt_record.startswith("{broken")
    assert bad[0].doc_id is None  # data columns quarantine to NULL

    dropped = read_jsonl(spark, str(p), schema, mode="DROPMALFORMED")
    assert {r.doc_id for r in dropped.collect()} == {1, 3}

    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_jsonl(spark, str(p), schema, mode="FAILFAST").collect()
