"""The schema catalog behind ``sources.io.load_table``: each table
file's schema is inferred once per file version and inference confs,
later reads fire no Spark job, and a rewritten file or a flipped
inference conf is inferred afresh."""

from __future__ import annotations

import calendar
import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stockify_spark.sources import io
from stockify_spark.sources.io import NANOS_TS_COLS, TABLES, load_table
from tests.conftest import jobs_of

_NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.mark.parametrize("name", TABLES)
def test_pinned_schema_equals_fresh_inference(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    fresh = spark.read.parquet(path)
    assert io._pinned_schema(spark, path) == fresh.schema
    nanos = NANOS_TS_COLS.get(name, ())
    expected = [
        (c, "timestamp" if t == "timestamp_ntz" or c in nanos else t)
        for c, t in fresh.dtypes
    ]
    assert df.dtypes == expected


def _write(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def test_second_load_of_seen_file_fires_no_job(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), {"a": [1, 2, 3]})
    first = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again = jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert len(first) >= 1  # the inference job, so the count can see jobs
    assert again == []


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, {"a": [1, 2, 3]})
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, {"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_flipped_inference_conf_is_inferred_afresh(spark, tmp_path):
    when = datetime.datetime(2024, 1, 2, 3, 4, 5)
    naive = pa.array([when], pa.timestamp("us"))
    _write(str(tmp_path / "t.parquet"), {"ts": naive})
    prev = spark.conf.get(_NTZ_CONF)
    try:
        loads = []
        for flag in ("false", "true"):
            spark.conf.set(_NTZ_CONF, flag)
            jobs = jobs_of(
                spark, lambda: loads.append(load_table(spark, str(tmp_path), "t"))
            )
            assert len(jobs) >= 1, f"no fresh inference with {_NTZ_CONF}={flag}"
        for df in loads:
            assert dict(df.dtypes)["ts"] == "timestamp"
            # read as naive UTC, like every other table
            got = df.selectExpr("unix_seconds(ts) AS s").first().s
            assert got == calendar.timegm(when.timetuple())
    finally:
        spark.conf.set(_NTZ_CONF, prev)
