"""Structured Streaming operators over the events stream (north-star
extension, SURVEY §7.6.5 — the reference is strictly one-shot batch,
§2.6).

Each transformation is written against a plain DataFrame so the SAME
function serves batch (driver-contract oracle queries) and streaming
(``readStream`` in tests): Structured Streaming's core promise is
that a streaming query is the incrementalized version of the batch
plan. Watermarks bound state: without one, a windowed aggregate's
state grows forever at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockify_spark.sources.io import (
    NANOS_TS_COLS,
    _pin_read_confs,
    _pinned_schema,
)


def stream_events(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events parquet (the local stand-in
    for Kafka; same downstream plan either way)."""
    _pin_read_confs(spark, nanos=True)
    # FileStreamSource wants a directory/glob, not a single file
    stream = (
        spark.readStream.schema(_pinned_schema(spark, f"{sf_dir}/events.parquet"))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{sf_dir}/events*.parquet")
    )
    for c in NANOS_TS_COLS.get("events", ()):
        if dict(stream.dtypes).get(c) == "bigint":
            stream = stream.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    for c, t in stream.dtypes:
        if t == "timestamp_ntz":  # newer data vintages; see sources.io
            from pyspark.sql import types as T

            stream = stream.withColumn(c, F.col(c).cast(T.TimestampType()))
    return stream


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Per-(window, event_type) count + sum over tumbling event-time
    windows. ``streaming=True`` adds the watermark (late rows beyond
    it are dropped and state is reclaimed); the batch path runs the
    identical aggregation for the oracle."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def windowed_topk(
    events: DataFrame,
    window: str = "1 hour",
    k: int = 3,
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Top-``k`` event types per tumbling window (the trending-items
    readout). Batch: windowed count + per-window rank. Streaming:
    returns the windowed AGGREGATE under a watermark — append-mode
    streaming cannot emit a retractable rank, so the rank is applied
    per trigger in ``foreachBatch`` via :func:`rank_topk` (the
    aggregate is the streaming state, the rank is the readout);
    tests/test_streaming.py drives that face."""
    src = events.withWatermark("ts", watermark) if streaming else events
    agg = (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return agg if streaming else rank_topk(agg, k)


def rank_topk(agg: DataFrame, k: int = 3) -> DataFrame:
    """Per-window top-k readout of a (window_start, event_type, n)
    aggregate; deterministic tie-break on event_type."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        agg.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Sliding event-time windows (each row lands in window/slide
    overlapping windows)."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_agg(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
    streaming: bool = False,
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (F.session_window handles the merge-on-overlap state
    machine in both batch and streaming)."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup with bounded state: duplicates of a key
    arriving within the watermark horizon are dropped; state for
    older keys is reclaimed. (Batch calls dropDuplicates.)"""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def purchases_with_recent_clicks(
    events: DataFrame,
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
    streaming: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks from the preceding ``max_lag``.

    Streaming: both sides carry watermarks and the join condition
    bounds click_ts within [purchase_ts - max_lag, purchase_ts], so
    state for either side is reclaimable past the watermark — the
    canonical bounded-state stream-stream join. Batch: the identical
    join for the oracle.

    ``how='left_outer'`` keeps click-less purchases (click_id NULL).
    Streaming semantics differ from inner ONLY in emission timing:
    matched pairs still emit as soon as both sides arrive, but a
    NULL row can only emit once the watermark has passed the
    purchase's join window — before that, a matching click could
    still arrive. Purchases newer than the final watermark therefore
    never surface their NULL row in a drained stream; the batch face
    is the limit the stream converges to as the watermark advances
    past everything (pinned in tests/test_streaming.py).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type {how!r}")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    if streaming:
        purchases = purchases.withWatermark("p_ts", watermark)
        clicks = clicks.withWatermark("c_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag}"))
    )
    return purchases.join(clicks, cond, how).select(
        "purchase_id", F.col("p_user").alias("user_id"), "click_id"
    )


def static_enrich(
    events: DataFrame,
    customer: DataFrame,
    n_customers: int,
    window: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Stream-static broadcast enrichment: each event maps to a
    customer (user_id mod |dim| + 1 — the synthetic foreign key) and
    takes its market segment from the STATIC dimension, then a
    windowed count/sum per (window, segment). The static side is a
    broadcast hash join against every micro-batch — the canonical
    streaming-enrichment shape: dimension state never enters the
    streaming state store, only the windowed aggregation does.
    ``n_customers`` is passed in (bounded model state) so the stream
    face never runs a blocking count on the dimension."""
    src = events.withWatermark("ts", watermark) if streaming else events
    key = (F.col("user_id") % F.lit(n_customers) + 1).alias("ck")
    dim = customer.select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    )
    enriched = src.select("ts", "value", key).join(F.broadcast(dim), "ck")
    return (
        enriched.groupBy(F.window("ts", window).alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n", "sum_value")
    )


def session_agg_dynamic(
    events: DataFrame,
    watermark: str = "30 minutes",
    streaming: bool = False,
) -> DataFrame:
    """Session windows with a DYNAMIC inactivity gap: purchases hold
    a session open 30 minutes, everything else 10 — the gap is a
    per-row expression, so the session is the union of per-event
    intervals [ts, ts + gap(event)) merged on overlap (Spark's
    dynamic session_window state machine; the batch oracle models it
    as a running-max-end gaps-and-islands walk)."""
    # session_window's dynamic gap wants CalendarIntervalType — the
    # string-literal form casts there; ANSI INTERVAL literals do not
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
