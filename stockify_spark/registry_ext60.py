"""Round-8 extension wave 49: deletion vectors (merge-on-read).

The second deletion strategy every modern lakehouse format carries
(Delta deletion vectors, Iceberg positional delete files): instead
of the copy-on-write rewrite txlog.delete_where does, record the
deleted rows' (file, position) pairs in a sidecar and let READERS
subtract them. Write cost tracks the deleted rows, not the touched
gigabytes; the trade is read-side work until maintenance folds the
vectors in (txlog.materialize_dvs). File-rewriting ops refuse while
DVs are active (_require_no_dvs) — the resurrection hazard is the
classic MOR design mistake, and the guard + materialize pair is the
documented contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.registry import register, _t

_DV_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE NOT (o_orderkey % 10 = 0) AND NOT (o_totalprice < 50000)
"""


@register("txlog_deletion_vectors", _DV_SQL)
def txlog_deletion_vectors(spark, sf_dir):
    """MOR-delete lifecycle: create (2 range-partitioned files), DV-
    delete every 10th orderkey, CHECKPOINT the log (the collapse must
    carry add_dv actions — dropping them would undelete), DV-delete
    the sub-50k tail, then read. The build asserts the format's core
    MOR claims structurally: the data file set never changes across
    both deletes (zero rewrite — the entire point), both deletes are
    pure add_dv commits, and positions accumulate across sidecars.
    The oracle asserts the semantic claim: the snapshot equals the
    orders table minus both predicates. Time travel composes: each
    version sees exactly the DVs committed at or before it
    (pinned in tests/test_txlog.py, with the materialize/guard
    contract).

    At 100 TB: a DV delete is one predicate scan emitting positions
    (proportional to matches) + one sidecar write; the read-side
    anti-join broadcasts only ACTIVE vectors, and maintenance
    (materialize_dvs) bounds how many accumulate — the Delta
    DV/OPTIMIZE interplay."""
    from stockify_spark.registry_ext7 import _scratch_table
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.repartitionByRange(2, "o_orderkey"), path)
        files0 = set(txlog.live_files(path))
        v1 = txlog.delete_where_dv(
            spark, path, F.col("o_orderkey") % 10 == 0
        )
        assert v1 == 1, v1
        txlog.checkpoint_log(path)
        v2 = txlog.delete_where_dv(spark, path, F.col("o_totalprice") < 50000)
        assert v2 == 2, v2
        # zero-rewrite contract: the data file set is untouched
        assert set(txlog.live_files(path)) == files0
        assert len(txlog._replay(path).dvs) == 2
        # time travel: v1 applies only the first DV
        n0 = txlog.snapshot(spark, path, 0).count()
        n1 = txlog.snapshot(spark, path, 1).count()
        n2 = txlog.snapshot(spark, path, 2).count()
        assert n0 > n1 > n2, (n0, n1, n2)

    path = _scratch_table(sf_dir, "dv", build)
    return txlog.snapshot(spark, path).select("o_orderkey", "o_totalprice")
