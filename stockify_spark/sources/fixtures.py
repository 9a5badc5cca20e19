"""Distributed synthetic fixture generators (FIXTURES.md §A).

Both generators are pure ``spark.range`` + column expressions — no
driver-side loops, no collect — so they scale to any row count the
cluster can hold. That replaces (a) the reference's 247 MB CSV, which
is an 18-row arithmetic ramp repeated ~311,850 times (SURVEY §1.2),
and (b) Experiment 3's in-process ``rand()`` generator
(stockify.cu:647-657).
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The 18-row ramp the reference CSV repeats (SURVEY §1.2): dates
# 2024-01-01..2024-01-18, close 500→670 step 10, volume 1.2M→2.9M
# step 100k, open 450→620, high 510→680, low 440→610.
RAMP_PERIOD = 18


def stocks_ramp(spark: SparkSession, cycles: int = 100, num_partitions: int | None = None) -> DataFrame:
    """The reference's input table, regenerated exactly, any size.

    ``cycles`` full 18-row periods → ``cycles * 18`` rows. row_id is
    the file order (load-bearing for window ops, SURVEY §1.1).
    """
    n = cycles * RAMP_PERIOD
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id") % RAMP_PERIOD  # position within the ramp, 0..17
    return df.select(
        F.col("id").alias("row_id"),
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), i.cast("int")), "yyyy-MM-dd"
        ).alias("date"),
        (500.0 + i * 10.0).alias("close"),
        (1_200_000.0 + i * 100_000.0).alias("volume"),
        (450.0 + i * 10.0).alias("open"),
        (510.0 + i * 10.0).alias("high"),
        (440.0 + i * 10.0).alias("low"),
    )


# The ramp's oracle face: ``stocks_ramp(spark, cycles=RAMP_CYCLES)``
# as DuckDB SQL, column for column (tests/test_fixtures.py pins the
# two together). Oracles read it as the CTE ``stocks``; queries that
# need several series split it into symbols of RAMP_SERIES_LEN rows
# (``row_id // RAMP_SERIES_LEN``). Literals like 10.0 are DECIMAL in
# DuckDB, so the prices CAST to DOUBLE to match the double columns.
RAMP_CYCLES = 100
RAMP_ROWS = RAMP_CYCLES * RAMP_PERIOD
RAMP_SERIES_LEN = 180
RAMP_SQL = (
    "SELECT i AS row_id,"
    f" strftime(DATE '2024-01-01' + CAST(i % {RAMP_PERIOD} AS INTEGER), '%Y-%m-%d') AS date,"
    f" CAST(500 + (i % {RAMP_PERIOD}) * 10 AS DOUBLE) AS close,"
    f" CAST(1200000 + (i % {RAMP_PERIOD}) * 100000 AS DOUBLE) AS volume,"
    f" CAST(450 + (i % {RAMP_PERIOD}) * 10 AS DOUBLE) AS open,"
    f" CAST(510 + (i % {RAMP_PERIOD}) * 10 AS DOUBLE) AS high,"
    f" CAST(440 + (i % {RAMP_PERIOD}) * 10 AS DOUBLE) AS low"
    f" FROM range({RAMP_ROWS}) t(i)"
)


def stocks_rand(spark: SparkSession, n: int = 100_000, seed: int = 42, num_partitions: int | None = None) -> DataFrame:
    """Experiment 3's random table (stockify.cu:647-657), seeded.

    Same distributions as the reference: prices ``100 + U{0..99}``,
    volume ``1,000,000 + U{0..999,999}``, constant date. Duplicate
    volumes occur for n > 1e6 (the reference's map index silently
    dedups those, stockify.cu:713 — we keep all rows and test that).
    """
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    def u(lo: int, hi: int, salt: int):
        # deterministic uniform int in [lo, hi) derived from the row id
        h = F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))
        return (lo + (h % (hi - lo))).cast("double")

    return df.select(
        F.col("id").alias("row_id"),
        F.lit("2021-01-01").alias("date"),
        u(100, 200, 1).alias("close"),
        u(1_000_000, 2_000_000, 2).alias("volume"),
        u(100, 200, 3).alias("open"),
        u(100, 200, 4).alias("high"),
        u(100, 200, 5).alias("low"),
    )


# Derived-partsupp hash constants — the SINGLE definition. The DuckDB
# oracle CTE (queries/tpch.py _PS_CTE) interpolates these same values,
# so the Spark expressions and the oracle SQL cannot drift apart
# silently (an edit here changes both sides together).
PS_QTY_MUL_PART, PS_QTY_MUL_SUPP, PS_QTY_MOD = 7, 13, 9999
PS_COST_MUL_PART, PS_COST_MUL_SUPP, PS_COST_MOD = 31, 17, 100000


def ps_availqty_expr(partkey, suppkey):
    """availqty = ((pk*7 + sk*13) % 9999 + 1) as a Column."""
    return (
        (F.col(partkey) * PS_QTY_MUL_PART + F.col(suppkey) * PS_QTY_MUL_SUPP)
        % PS_QTY_MOD
        + 1
    ).cast("long")


def ps_supplycost_expr(partkey, suppkey):
    """supplycost = ((pk*31 + sk*17) % 100000)/100 + 1 as a Column
    (exact: the division by 100 of an integer < 100000 is the same
    double in any engine)."""
    return (
        ((F.col(partkey) * PS_COST_MUL_PART + F.col(suppkey) * PS_COST_MUL_SUPP) % PS_COST_MOD).cast(
            "double"
        )
        / 100.0
        + 1.0
    )


def derive_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PARTSUPP reconstruction — unblocks TPC-H
    Q2/Q9/Q11/Q16/Q20, which the driver's testdata omits.

    The catalog is rebuilt from the OBSERVED supply relationships:
    the distinct (l_partkey, l_suppkey) pairs of lineitem (the
    driver's synthetic suppkeys are uniform, so the official TPC-H
    suppkey formula would intersect them only by chance — measured
    ~4%), with availqty/supplycost as pure integer-hash functions of
    the key pair. Every value is exact integer arithmetic (the cost
    division by 100 is the same double in any engine), so the DuckDB
    oracle rebuilds the identical table from the same parquet.

    Scale shape: one distinct over the (l_partkey, l_suppkey)
    projection — a two-column shuffle, the same width as any
    fact-table dedup — then pure map-side column derivations.
    """
    from stockify_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ps_availqty_expr("ps_partkey", "ps_suppkey").alias("ps_availqty"),
        ps_supplycost_expr("ps_partkey", "ps_suppkey").alias("ps_supplycost"),
    )


@functools.cache
def _writer_digest() -> str:
    """A digest of the txlog writer's source, ``sources/txlog.py``."""
    from stockify_spark.sources import txlog

    with open(txlog.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _scratch_table(sf_dir: str, tag: str, build, src_file: str = "orders.parquet") -> str:
    """Deterministic scratch txlog table keyed on (tag, sf_dir,
    source fingerprint), built once and REUSED by later invocations —
    repeated driver verification and bench iterations previously
    mkdtemp'd a fresh parquet copy of orders per call and never
    cleaned up (unbounded /tmp growth; the dirs can't be deleted
    eagerly because the returned plan reads them lazily).

    The key includes a FINGERPRINT of the source parquet (size +
    mtime of orders.parquet): the test data has been regenerated in
    place across rounds, and a cache keyed on the
    path alone would keep serving tables built from data that no
    longer exists while the oracle reads the new parquet — every
    txlog query would hash-mismatch with no local signal. It also
    includes :func:`_writer_digest`, so a table an earlier txlog
    writer built, in a layout the current reader may not share, is
    rebuilt rather than served. A new vintage gets a new directory;
    stale vintages and orphaned staging dirs of the same (tag, sf)
    are swept on the way.

    The build lands in a unique staging dir and is os.rename'd into
    place, so a concurrent build of the same table can't observe a
    half-built lifecycle: one rename wins, the loser's staging copy
    is discarded."""
    import glob as _glob
    import shutil
    import tempfile
    import uuid as _uuid

    key = sf_dir.rstrip("/").replace("/", "_").lstrip("_")
    # fingerprint the parquet the BUILD actually reads (callers whose
    # scripted history reads a different table pass it via src_file —
    # a stale cache keyed on the wrong source would keep serving a
    # table built from data the oracle no longer sees)
    src = os.path.join(sf_dir, src_file)
    st = os.stat(src)
    fp = f"{st.st_size:x}.{st.st_mtime_ns:x}"
    base = os.path.join(tempfile.gettempdir(), f"stockify_txlog_{tag}_{key}")
    path = f"{base}_{fp}.{_writer_digest()}"
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path
    # sweep stale vintages (and their crashed builds' staging
    # dirs); never touch the CURRENT fingerprint's namespace — a
    # concurrent build of the same vintage may be mid-write there
    for old in _glob.glob(base + "_*"):
        if not old.startswith(path):
            shutil.rmtree(old, ignore_errors=True)
    staging = path + ".staging." + _uuid.uuid4().hex
    try:
        build(staging)
        with open(os.path.join(staging, "_COMPLETE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, path)
        except OSError:  # lost the race — another process built it
            pass
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path
