"""Pins for CHECK-constraint enforcement (queries/txlog.py /
sources/txlog.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_constraint_rejects_and_leaves_no_trace(spark, tmp_path):
    from stockify_spark.sources import txlog

    path = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id"), (F.col("id") + 1.0).alias("v"))
    txlog.create(df, path)
    txlog.set_constraint(path, "v_positive", "v > 0")
    v_before = txlog.current_version(path)
    bad = spark.range(5).select(F.col("id"), F.lit(-1.0).alias("v"))
    with pytest.raises(txlog.ConstraintViolation, match="v_positive"):
        txlog.append(bad, path)
    # rejected write must not advance the log or the data
    assert txlog.current_version(path) == v_before
    assert txlog.snapshot(spark, path).count() == 50
    # valid write still lands
    txlog.append(
        spark.range(50, 60).select(F.col("id"), (F.col("id") + 1.0).alias("v")),
        path,
    )
    assert txlog.snapshot(spark, path).count() == 60


def test_constraint_survives_checkpoint(spark, tmp_path):
    from stockify_spark.sources import txlog

    path = str(tmp_path / "t")
    df = spark.range(20).select(F.col("id"), (F.col("id") + 1.0).alias("v"))
    txlog.create(df, path)
    txlog.set_constraint(path, "v_positive", "v > 0")
    txlog.checkpoint_log(path)
    bad = spark.range(3).select(F.col("id"), F.lit(-5.0).alias("v"))
    with pytest.raises(txlog.ConstraintViolation):
        txlog.append(bad, path)


def test_multiple_constraints_all_enforced(spark, tmp_path):
    from stockify_spark.sources import txlog

    path = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id"), (F.col("id") + 1.0).alias("v"))
    txlog.create(df, path)
    txlog.set_constraint(path, "v_positive", "v > 0")
    txlog.set_constraint(path, "id_bounded", "id < 1000")
    with pytest.raises(txlog.ConstraintViolation, match="id_bounded"):
        txlog.append(
            spark.range(2000, 2003).select(
                F.col("id"), (F.col("id") + 1.0).alias("v")
            ),
            path,
        )


def test_registered_query_green_shape(spark):
    from stockify_spark.queries.txlog import txlog_check_constraint

    rows = txlog_check_constraint(spark, SF_SMALL).collect()
    assert len(rows) == 7
    assert all(r.total > 0 for r in rows)
