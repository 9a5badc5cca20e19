"""Streaming queries: micro-batch sources, stateful operators, watermarks
and streaming joins, each replayed to a final state the oracle can
compute in batch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import _scratch_table
from stockify_spark.streaming.windows import session_agg, sliding_counts, tumbling_counts


# ---------------------------------------------------------------------------
# Streaming-equivalent windows (SURVEY §7.6.5) — the identical
# transformation runs under readStream in tests/test_streaming.py.
# ---------------------------------------------------------------------------
@register(
    "stream_tumbling_counts",
    "SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,"
    " ROUND(SUM(value), 6) AS sum_value FROM events GROUP BY 1, 2",
)
def stream_tumbling_counts(spark, sf_dir):
    return tumbling_counts(_t(spark, sf_dir, "events"), window="1 hour")


# ---------------------------------------------------------------------------
# Event-time windows, sliding + session (§7.6.5 continued). The same
# functions run under readStream in tests/test_streaming.py; batch
# oracles below are the exact SQL semantics.
# ---------------------------------------------------------------------------
@register(
    "stream_sliding_counts",
    # A 1h window sliding every 30min: each event belongs to exactly
    # two windows, whose starts are its 30-min bucket and the one
    # before (both engines align buckets to the epoch-origin grid).
    "SELECT window_start, event_type, COUNT(*) AS n FROM ("
    " SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),"
    " time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS window_start,"
    " event_type FROM events) GROUP BY window_start, event_type",
)
def stream_sliding_counts(spark, sf_dir):
    out = sliding_counts(_t(spark, sf_dir, "events"), window="1 hour", slide="30 minutes")
    return out.select("window_start", "event_type", "n")


@register(
    "stream_session_agg",
    # Gaps-and-islands: a new session starts when the previous event
    # of the user is >= 5 minutes older (merge iff gap < 5min, which
    # is F.session_window's semantics); session end = last ts + gap.
    "WITH marked AS (SELECT user_id, ts, value, CASE WHEN"
    " ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '5 minutes'"
    " OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS is_new"
    " FROM events), numbered AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id"
    " ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM marked)"
    " SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL '5 minutes' AS session_end,"
    " user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value"
    " FROM numbered GROUP BY user_id, sess",
)
def stream_session_agg(spark, sf_dir):
    return session_agg(_t(spark, sf_dir, "events"), gap="5 minutes")


@register(
    "stream_dedup_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark, sf_dir):
    """Key-level exact dedup — the batch face of
    dropDuplicatesWithinWatermark (streaming path exercised in
    tests/test_streaming.py; whole-row dedup is nondeterministic in
    which row survives, so the oracle compares the key set)."""
    from stockify_spark.streaming.windows import dedup_within_watermark

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return dedup_within_watermark(ev, ["user_id", "event_type"])


@register(
    "stream_stateful_totals",
    "SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value"
    " FROM events GROUP BY user_id",
)
def stream_stateful_totals(spark, sf_dir):
    """Batch face of the applyInPandasWithState running-totals
    operator (streaming/stateful.py); the streaming path converges to
    exactly this result (tests/test_streaming.py)."""
    from stockify_spark.streaming.stateful import running_user_totals

    return running_user_totals(_t(spark, sf_dir, "events"))


@register(
    "stream_interval_join",
    "SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id"
    " FROM (SELECT * FROM events WHERE event_type = 'purchase') p"
    " JOIN (SELECT * FROM events WHERE event_type = 'click') c"
    " ON p.user_id = c.user_id AND c.ts <= p.ts"
    " AND c.ts >= p.ts - INTERVAL '30 minutes'",
)
def stream_interval_join(spark, sf_dir):
    """Batch face of the stream-stream interval join
    (streaming/windows.purchases_with_recent_clicks); the streaming
    path with watermark-bounded state converges to this exact result
    (tests/test_streaming.py)."""
    from stockify_spark.streaming.windows import purchases_with_recent_clicks

    return purchases_with_recent_clicks(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# stream_tws_profile — transformWithState per-user profile (batch face)
# ---------------------------------------------------------------------------
_TWS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       COUNT(DISTINCT event_type)::BIGINT AS n_types,
       ROUND(SUM(value), 6) AS sum_value, MAX(value) AS max_value
FROM events GROUP BY user_id
"""


@register("stream_tws_profile", _TWS_SQL)
def stream_tws_profile(spark, sf_dir):
    """Batch face of the transformWithStateInPandas per-user profile
    (streaming/tws.py — ValueState + MapState column families); the
    streaming face converges to exactly this result where the TWS
    protobuf protocol is available (tests/test_streaming.py)."""
    from stockify_spark.streaming.tws import user_profile

    return user_profile(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# stream_txlog_upsert — CDC maintenance of the ACID table (batch face)
# ---------------------------------------------------------------------------
_CDC_SQL = """
SELECT o_orderkey,
       ROUND(CASE WHEN o_orderkey % 35 = 0 THEN 3333.0
                  WHEN o_orderkey % 7 = 0 THEN 2222.0
                  WHEN o_orderkey % 5 = 0 THEN 1111.0
                  ELSE o_totalprice END, 2) AS o_totalprice
FROM orders
"""


@register("stream_txlog_upsert", _CDC_SQL)
def stream_txlog_upsert(spark, sf_dir):
    """Incremental CDC maintenance of the ACID table: three change
    batches merge-upsert sequentially into a txlog table (keys %5 →
    1111, then %7 → 2222, then %35 → 3333), one atomic commit per
    batch — the foreachBatch sink pattern a streaming pipeline uses
    to keep a lakehouse table current (the STREAMING face runs the
    same merge_upsert under writeStream.foreachBatch in
    tests/test_streaming.py). The oracle is the last-writer-wins end
    state; hash-matching it proves the whole multi-commit replay.
    Per-batch cost is touched-files only, never table size."""
    from stockify_spark.sources import txlog

    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.create(o.repartitionByRange(4, "o_orderkey"), path)
        for mod, price in ((5, 1111.0), (7, 2222.0), (35, 3333.0)):
            batch = o.filter(F.col("o_orderkey") % mod == 0).select(
                "o_orderkey", F.lit(price).alias("o_totalprice")
            )
            txlog.merge_upsert(spark, path, batch, ["o_orderkey"])

    path = _scratch_table(sf_dir, "cdc", build)
    snap = txlog.snapshot(spark, path)
    return snap.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# ---------------------------------------------------------------------------
# stream_topk_windowed — top-k event types per tumbling window
# ---------------------------------------------------------------------------
_TOPK_WIN_SQL = """
SELECT window_start, event_type, n FROM (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events GROUP BY 1, 2)
WHERE rn <= 3
"""


@register("stream_topk_windowed", _TOPK_WIN_SQL)
def stream_topk_windowed(spark, sf_dir):
    """Top-3 event types per tumbling hour (streaming/windows
    .windowed_topk). Batch face of the trending-items dashboard
    query; the streaming face runs the same windowed aggregate under
    a watermark and applies the rank in foreachBatch (append-mode
    streaming cannot emit a retractable rank — the aggregate is the
    streaming state, the rank is the per-trigger readout;
    tests/test_streaming.py drives it)."""
    from stockify_spark.streaming.windows import windowed_topk

    return windowed_topk(_t(spark, sf_dir, "events"), window="1 hour", k=3)


# ---------------------------------------------------------------------------
# stream_outer_join — left-outer stream-stream interval join (batch face)
# ---------------------------------------------------------------------------
_SOJ_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL '30 minutes'
"""


@register("stream_outer_join", _SOJ_SQL)
def stream_outer_join(spark, sf_dir):
    """Batch face of the LEFT OUTER stream-stream interval join
    (streaming/windows.purchases_with_recent_clicks(how='left_outer')):
    purchases keep their row with a NULL click_id when no click
    preceded them within 30 minutes. The streaming face has the
    same bounded state as the inner join — the outer semantics only
    change WHEN a null row may emit (after the watermark passes the
    purchase's join window, since until then a match could still
    arrive); tests/test_streaming.py pins that emission contract.
    The unmatched-row timing problem is exactly why outer stream
    joins REQUIRE watermarks while inner ones merely benefit."""
    from stockify_spark.streaming.windows import purchases_with_recent_clicks

    return purchases_with_recent_clicks(
        _t(spark, sf_dir, "events"), how="left_outer"
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment, forecast
# backtesting, backlog aging, and sketch mergeability.
#
# The stream-static broadcast join is the one streaming shape the
# suite didn't yet pin (dimension enrichment: static side broadcast
# per micro-batch, only the windowed agg holds state — streaming face
# verified in tests/test_streaming.py). The forecast backtest COMPOSES
# orders_holt_forecast with the next observed actual (operator
# composition, the ml_confusion_metrics pattern applied to
# time-series). HLL mergeability is VERIFIED, not asserted: three
# partition-built register sets max-merge to exactly the directly
# built registers, the property that makes the sketch distributable.
# ---------------------------------------------------------------------------
_ENRICH_SQL = """
WITH n AS (SELECT COUNT(*) AS nc FROM customer),
e AS (
  SELECT date_trunc('hour', ev.ts) AS window_start, c.c_mktsegment AS segment,
         ev.value
  FROM events ev
  CROSS JOIN n
  JOIN customer c ON c.c_custkey = ev.user_id % n.nc + 1
)
SELECT window_start, segment, COUNT(*) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM e GROUP BY 1, 2
"""


@register("stream_static_enrich", _ENRICH_SQL)
def stream_static_enrich(spark, sf_dir):
    """Batch face of the stream-static enrichment join (streaming
    face: streaming/windows.static_enrich with streaming=True,
    stream==batch equality pinned in tests/test_streaming.py):
    events take their segment from the static customer dimension via
    a broadcast join, then hourly tumbling count/sum per segment.
    The dimension stays out of streaming state — the standard
    enrichment topology at any scale."""
    from stockify_spark.streaming.windows import static_enrich

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    n_cust = cust.count()
    return static_enrich(ev, cust, n_cust, window="1 hour")


# ---------------------------------------------------------------------------
# Dynamic-gap session windows.
#
# Spark's session_window accepts a PER-ROW gap expression — the
# sessionization rule itself becomes data-dependent (a purchase holds
# the session open 30 minutes, other events 10). The session is then
# the union of per-event intervals [ts, ts + gap(event)) merged on
# overlap, which the fixed-gap gaps-and-islands oracle cannot model:
# a long-gap event can bridge a hole PAST a short-gap successor, so
# the break test must compare against the RUNNING MAX of prior
# interval ends, not the previous event's end. The oracle walks
# exactly that recurrence.
# ---------------------------------------------------------------------------
_DYN_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
         ts + CASE WHEN event_type = 'purchase' THEN INTERVAL '30 minutes'
                   ELSE INTERVAL '10 minutes' END AS iv_end
  FROM events
),
marked AS (
  SELECT user_id, ts, value, iv_end,
         CASE WHEN MAX(iv_end) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                   OR ts >= MAX(iv_end) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM g
),
numbered AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sess
  FROM marked
)
SELECT MIN(ts) AS session_start, MAX(iv_end) AS session_end,
       user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM numbered GROUP BY user_id, sess
"""


@register("stream_session_dynamic", _DYN_SQL)
def stream_session_dynamic(spark, sf_dir):
    """Batch face of dynamic-gap sessionization
    (streaming/windows.session_agg_dynamic; stream==batch pinned in
    tests/test_streaming.py): the oracle's running-max-end walk is
    the interval-union semantics of Spark's dynamic session_window —
    session end is the max of member interval ends, and a new
    session starts only when an event's timestamp reaches PAST every
    prior member's reach. State stays bounded by the watermark in
    the streaming face exactly as with fixed gaps."""
    from stockify_spark.streaming.windows import session_agg_dynamic

    return session_agg_dynamic(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# stream_cusum_alarm — batch face of the stateful CUSUM detector
# ---------------------------------------------------------------------------
_CUSUM_SQL = """
WITH c AS (SELECT ROUND(AVG(value), 6) AS k,
                  ROUND(2 * STDDEV_POP(value), 6) AS h
           FROM events),
d AS (SELECT user_id, value, k, h, epoch_ms(ts) AS ms, event_id,
             SUM(value - k) OVER w AS dd
      FROM events CROSS JOIN c
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
s AS (SELECT user_id, value, k, h, dd,
             dd - least(0, MIN(dd) OVER w) AS ss
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
SELECT user_id,
       ROUND(SUM(value) - COUNT(*) * MAX(k) - least(0, MIN(dd)), 6) + 0 AS s_final,
       ROUND(MAX(ss), 6) AS s_max,
       MAX(ss) > MAX(h) AS alarm
FROM s GROUP BY user_id
"""


@register("stream_cusum_alarm", _CUSUM_SQL)
def stream_cusum_alarm(spark, sf_dir):
    """Batch face of the per-user CUSUM change detector
    (streaming/stateful.cusum_alarms): S_t = max(0, S_{t-1} +
    (value − k)) with k the corpus mean and alarm threshold
    h = 2σ, both 6dp-quantized before use (the quantize-then-derive
    rule) so every downstream value is computed from identical
    constants on both engines. The sequential recurrence is restated
    as the prefix identity S_t = D_t − min(0, min_{j≤t} D_j) — one
    window pass (running sum + running min), no per-row loop. The
    streaming face keeps exactly (S, max S) per user and converges
    to this result (tests/test_streaming.py).

    Shape: one scalar aggregate broadcast, one shuffle on the series
    key for the two stacked windows, one per-user fold."""
    from stockify_spark.streaming.stateful import cusum_alarms

    ev = _t(spark, sf_dir, "events")
    k, h = (
        ev.agg(
            F.round(F.avg("value"), 6),
            F.round(2 * F.stddev_pop("value"), 6),
        )
        .collect()[0]
    )
    return cusum_alarms(ev, float(k), float(h))
