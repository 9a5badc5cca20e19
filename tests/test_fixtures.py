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


def test_scratch_table_is_rebuilt_when_the_writer_changes(tmp_path, monkeypatch):
    """A scratch table is reused while the txlog writer's digest holds,
    and rebuilt, with the old build swept, once the digest changes."""
    import os
    import tempfile

    from stockify_spark.sources import fixtures

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"rows")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    builds = []

    def build(path):
        os.makedirs(path)
        builds.append(path)

    monkeypatch.setattr(fixtures, "_writer_digest", lambda: "old")
    first = fixtures._scratch_table(str(sf), "t", build)
    assert fixtures._scratch_table(str(sf), "t", build) == first
    assert len(builds) == 1
    monkeypatch.setattr(fixtures, "_writer_digest", lambda: "new")
    second = fixtures._scratch_table(str(sf), "t", build)
    assert second != first and len(builds) == 2
    assert os.path.exists(os.path.join(second, "_COMPLETE")) and not os.path.exists(first)
