"""SparkSession factory with scale-aware defaults.

The reference engine has no session concept — ``main()`` owns one GPU
(stockify.cu:196-743). Here the session is the unit of configuration:
AQE on (runtime re-plan, skew-join handling), Arrow on (fast Pandas
UDF boundary), UTC timezone (oracle comparison against DuckDB), and a
shuffle-partition count sized to the local core count rather than the
200 default (wrong at both tiny and huge scale).

On a real cluster the same factory applies: only ``master`` and the
memory knobs change; the SQL confs are scale-portable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "stockify-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the core count: with AQE's
    partition coalescing enabled the exact number matters less, but
    starting near the core count avoids thousands of empty tasks on
    small inputs and lets AQE split skewed ones on large inputs.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floors post-shuffle partitions at
        # minPartitionSize — left at the 1m DEFAULT. r14 lowered it
        # session-wide to 64k because slim id-only shuffles whose
        # downstream map work is CPU-dense (the dedup verify joins:
        # 2MB of candidate ids coalesced to ONE partition serialized
        # 125k array_intersects onto one core) defeat AQE's byte
        # proxy; that fixed the dedup family but taxed every
        # sub-second query 5-10% (more, smaller post-shuffle tasks
        # everywhere). r15 scopes the fix to the verify boundaries
        # themselves (functions/scale.spread_cpu_dense — an explicit
        # repartition where bytes misrepresent CPU) and restores the
        # default here.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        # Explicit LTZ default: under TIMESTAMP_NTZ, cast-to-"timestamp"
        # and timestamp literals silently resolve NTZ, which epoch
        # functions reject (the BENCH_r05 failure mode).
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as raw
        # longs; sources.io converts with integer division. Set at
        # session creation so no per-query code mutates session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-datasource filter pushdown (log-level skipping in
        # txlog_stream's batch face); readers degrade gracefully to
        # the no-pushdown class when a session lacks this conf
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
