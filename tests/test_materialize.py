"""The one materialization primitive, ``functions.scale.materialize``:
its local form, the lineage cut it gives an iterative site, and a
source guard that keeps every materialization in
``functions/scale.py``."""

from __future__ import annotations

import os
import pathlib

from pyspark import StorageLevel
from pyspark.sql import functions as F

from stockify_spark.functions.scale import materialize
from tests.conftest import jobs_of

_PKG = pathlib.Path(__file__).resolve().parent.parent / "stockify_spark"


def _frame(spark):
    return spark.range(100).select((F.col("id") * 2).alias("x"))


def test_local_form_truncates_lineage_and_is_not_persisted(spark):
    m = materialize(_frame(spark))
    assert m.storageLevel == StorageLevel.NONE
    # the plan starts from the checkpointed RDD, not from the range
    assert m._jdf.queryExecution().logical().getClass().getSimpleName() == "LogicalRDD"
    assert sorted(r.x for r in m.collect()) == list(range(0, 200, 2))


def test_lazy_local_form_starts_no_job(spark):
    """``eager=False`` starts no job on a frame without an exchange.
    On a frame with one, AQE runs the exchange's map stage while the
    checkpoint is built, so the lazy form is not free there."""
    eager = jobs_of(spark, lambda: materialize(_frame(spark)))
    lazy = jobs_of(spark, lambda: materialize(_frame(spark), eager=False))
    assert len(eager) >= 1  # the count can see the eager form's job
    assert lazy == []
    exchange = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    lazy_exchange = jobs_of(spark, lambda: materialize(exchange, eager=False))
    assert len(lazy_exchange) == 1


def test_iterative_site_plan_does_not_grow_with_rounds(spark):
    """``operators/graph.bfs_hops`` materializes each frontier: after
    six rounds on a chain the result's plan is a union of checkpointed
    frontiers, with no round's join left in it. (Uncut, each round's
    plan holds every earlier round twice, so the chain is kept short
    enough that a broken cut fails here instead of exhausting memory.)"""
    from stockify_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "a long, b long")
    sources = spark.createDataFrame([(0,)], "node long")
    out = bfs_hops(edges, sources, max_hops=6)
    plan = out._jdf.queryExecution().logical().toString()
    assert "Join" not in plan
    assert plan.count("LogicalRDD") == 7
    assert sorted(tuple(r) for r in out.collect()) == [(i, i) for i in range(7)]


def test_no_materialization_outside_scale_module():
    """Every checkpoint in the package goes through
    ``functions/scale.materialize``."""
    owner = _PKG / "functions" / "scale.py"
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == owner:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "localCheckpoint(" in line or "DISK_ONLY_2" in line:
                offenders.append(f"{os.path.relpath(path, _PKG)}:{n}: {line.strip()}")
    assert offenders == []
