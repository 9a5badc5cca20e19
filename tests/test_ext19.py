"""Pins for the lakehouse-metadata + execution-shape wave
(queries: events, txlog, windows): schema evolution, shallow clone (and its vacuum
safety), quadkey rollup, biquad recursion."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_clone_is_zero_copy_and_divergent(spark, tmp_path):
    """The clone's commit 0 copies NO data files; after divergence
    the source snapshot is unchanged and the clone reflects its own
    history only."""
    from stockify_spark.sources import txlog

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txlog.create(df.filter(F.col("id") < 50), src)
    txlog.append(df.filter(F.col("id") >= 50), src)
    txlog.clone(src, dst)
    # zero copy: dst's own data dir holds no parquet yet
    ddir = os.path.join(dst, "data")
    assert not [f for f in os.listdir(ddir) if f.endswith(".parquet")]
    assert txlog.snapshot(spark, dst).count() == 100
    # diverge the clone
    txlog.append(df.filter(F.col("id") % 10 == 0), dst)
    txlog.delete_where(spark, dst, F.col("id") % 7 == 0)
    src_rows = {r.id for r in txlog.snapshot(spark, src).collect()}
    assert src_rows == set(range(100))  # source untouched
    clone_ids = [r.id for r in txlog.snapshot(spark, dst).collect()]
    expect = [i for i in list(range(100)) + [i for i in range(100) if i % 10 == 0] if i % 7 != 0]
    assert sorted(clone_ids) == sorted(expect)


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    """After the clone COW-deletes rows (removing foreign refs from
    its live set), vacuum on the CLONE must not unlink the source's
    files — the shallow-clone vacuum rule."""
    from stockify_spark.sources import txlog

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(60).select(F.col("id"), (F.col("id") * 3).alias("v"))
    txlog.create(df, src)
    txlog.clone(src, dst)
    txlog.delete_where(spark, dst, F.col("id") % 2 == 0)  # rewrites, removes foreign refs
    deleted = txlog.vacuum(dst, keep_last=1)
    assert deleted == []  # foreign references skipped
    # source still fully readable
    assert txlog.snapshot(spark, src).count() == 60


def test_schema_evolution_old_files_read_null(spark, tmp_path):
    """Create without a column, append with it: merged snapshot has
    NULLs exactly on the pre-evolution rows; time travel to v0
    serves the original two-column schema."""
    from stockify_spark.sources import txlog

    path = str(tmp_path / "evo")
    base = spark.range(40).select(F.col("id"), (F.col("id") * 2).alias("v"))
    txlog.create(base.filter(F.col("id") < 20), path)
    txlog.append(
        base.filter(F.col("id") >= 20).withColumn("tag", F.lit("new")), path
    )
    snap = txlog.snapshot(spark, path)
    assert set(snap.columns) == {"id", "v", "tag"}
    rows = {r.id: r.tag for r in snap.collect()}
    assert all(rows[i] is None for i in range(20))
    assert all(rows[i] == "new" for i in range(20, 40))
    v0 = txlog.snapshot(spark, path, version=0)
    assert set(v0.columns) == {"id", "v"}
    assert v0.count() == 20


def test_quadkey_interleave_spot(spark):
    """Recompute the quadkey for a known user_id and confirm its
    zoom-4 prefix bucket exists with consistent totals."""
    from stockify_spark.queries.events import events_quadkey_rollup

    rows = events_quadkey_rollup(spark, SF_SMALL).collect()
    assert rows
    total = sum(r.n_points for r in rows)
    from stockify_spark.registry import _t

    n_events = _t(spark, SF_SMALL, "events").count()
    assert total == n_events
    # every key is 4 digits over the quadkey alphabet
    for r in rows:
        assert len(r.tile_z4) == 4 and set(r.tile_z4) <= set("0123")

    def quadkey(uid: int) -> str:
        x, y = uid % 256, (uid * 7) % 256
        return "".join(
            str(2 * ((y >> (7 - i)) & 1) + ((x >> (7 - i)) & 1)) for i in range(8)
        )

    uid = 4242
    prefix = quadkey(uid)[:4]
    assert any(r.tile_z4 == prefix for r in rows)


def test_biquad_matches_reference_loop_and_unity_dc_gain(spark):
    from stockify_spark.queries.windows import window_biquad_filter
    from tests.test_ext15 import _r6

    rows = window_biquad_filter(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    assert len(rows) == 1800
    series = [r for r in rows if r.symbol == 3]
    x = [500.0 + ((3 * 180 + i) % 18) * 10.0 for i in range(180)]
    y = [0.0] * 180
    y[0], y[1] = x[0], x[1]
    for t in range(2, 180):
        y[t] = (
            0.2 * x[t] + 0.4 * x[t - 1] + 0.2 * x[t - 2]
            - (-0.3) * y[t - 1] - 0.1 * y[t - 2]
        )
    for t in range(180):
        assert series[t].filtered == _r6(y[t]), t
    # unity DC gain: sum(b) / (1 + sum(a)) = 0.8 / 0.8 = 1, so the
    # filtered series must track the input's mean over full periods
    avg_in = sum(x[18:180]) / 162
    avg_out = sum(r.filtered for r in series[18:]) / 162
    assert abs(avg_in - avg_out) < 2.0
