"""Window queries: moving and rolling aggregates over an ordered key,
ranking, lag/lead, and the time-series recursions and tests that read
a window frame (EWMA, Kalman, changepoints, spectra, autocorrelation).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F, Window

from stockify_spark.operators import moving_average, rolling_max, rolling_min, sliding_agg
from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import RAMP_CYCLES, RAMP_SERIES_LEN, RAMP_SQL, stocks_ramp


# ---------------------------------------------------------------------------
# W1-W3 — sliding windows (SURVEY §2.4): frame [CURRENT ROW, +9], row
# order materialized as event_id (the reference's implicit file order,
# made explicit per §7.4.1). Global-order variant at test scale;
# partitioned variants below are the production shape.
# ---------------------------------------------------------------------------
_W_FRAME_SQL = "OVER (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)"


@register(
    "window_moving_avg",
    f"SELECT event_id, ROUND(AVG(value) {_W_FRAME_SQL}, 6) AS moving_avg FROM events",
)
def window_moving_avg(spark, sf_dir):
    """W1 (getMovingAverage intent, stockify.cu:513-521). Tail frames
    shrink (SQL standard) — the reference's OOB tail reads
    (stockify.cu:146) are a documented bug, not reproduced."""
    df = _t(spark, sf_dir, "events").select("event_id", "value")
    out = moving_average(df, "value", order_by=["event_id"], window_size=10)
    return out.select("event_id", F.round("moving_avg", 6).alias("moving_avg"))


@register(
    "window_rolling_min",
    f"SELECT event_id, MIN(value) {_W_FRAME_SQL} AS rolling_min FROM events",
)
def window_rolling_min(spark, sf_dir):
    """W2 (getMinLowPrice, stockify.cu:153-162); oracle compares the
    full per-row column, not the vacuous min-of-mins (§5.1)."""
    df = _t(spark, sf_dir, "events").select("event_id", "value")
    return rolling_min(df, "value", order_by=["event_id"], window_size=10).select(
        "event_id", "rolling_min"
    )


@register(
    "window_rolling_max",
    f"SELECT event_id, MAX(value) {_W_FRAME_SQL} AS rolling_max FROM events",
)
def window_rolling_max(spark, sf_dir):
    """W3 (getMaxHighPrice, stockify.cu:170-193)."""
    df = _t(spark, sf_dir, "events").select("event_id", "value")
    return rolling_max(df, "value", order_by=["event_id"], window_size=10).select(
        "event_id", "rolling_max"
    )


@register(
    "window_partitioned_sum",
    "SELECT event_id, user_id, ROUND(SUM(value) OVER (PARTITION BY user_id"
    " ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)"
    " AS trailing_sum FROM events",
)
def window_partitioned_sum(spark, sf_dir):
    """Production window shape: PARTITION BY bounds per-task state and
    parallelizes WindowExec across users (SURVEY §7.4.1)."""
    df = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = sliding_agg(
        df,
        F.sum("value"),
        "trailing_sum",
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
        window_size=10,
        forward=False,
    )
    return out.select("event_id", "user_id", F.round("trailing_sum", 6).alias("trailing_sum"))


@register(
    "window_running_total",
    "SELECT event_id, user_id, ROUND(SUM(value) OVER (PARTITION BY user_id"
    " ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)"
    " AS running_total FROM events",
)
def window_running_total(spark, sf_dir):
    df = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("running_total"),
    )


@register(
    "window_rank",
    "SELECT o_orderkey, o_orderpriority,"
    " RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,"
    " DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk,"
    " ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn"
    " FROM orders",
)
def window_rank(spark, sf_dir):
    """Ranking functions (absent from reference, §2.4 note; free in
    Spark). row_number carries a unique tiebreaker for determinism."""
    df = _t(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    stable = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return df.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(by_price).cast("long").alias("rnk"),
        F.dense_rank().over(by_price).cast("long").alias("drnk"),
        F.row_number().over(stable).cast("long").alias("rn"),
    )


@register(
    "window_lag_lead",
    "SELECT event_id, user_id, value,"
    " LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,"
    " LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value"
    " FROM events",
)
def window_lag_lead(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return df.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


# ---------------------------------------------------------------------------
# Window frames beyond ROWS (SURVEY §2.4 note: absent in reference,
# free in Spark).
# ---------------------------------------------------------------------------
@register(
    "window_range_frame",
    "SELECT event_id, user_id, ROUND(SUM(value) OVER (PARTITION BY user_id"
    " ORDER BY epoch_ms(ts) RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW), 6)"
    " AS hour_sum FROM events",
)
def window_range_frame(spark, sf_dir):
    """RANGE frame over event-time: all events of the trailing hour,
    however many rows that is (vs the ROWS frames of W1-W3). Ordering
    key is integer epoch-millis so both engines compare exactly."""
    df = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("_ms")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_ms")
        .rangeBetween(-3_600_000, Window.currentRow)
    )
    return df.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 6).alias("hour_sum")
    )


@register(
    "window_partitioned_parity",
    # The ORACLE is the plain global-order window — proving the
    # bucketed Spark plan reproduces single-partition results exactly.
    "SELECT event_id, ROUND(AVG(value) OVER w, 6) AS moving_avg,"
    " MIN(value) OVER w AS rolling_min, MAX(value) OVER w AS rolling_max"
    " FROM events"
    " WINDOW w AS (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)",
)
def window_partitioned_parity(spark, sf_dir):
    """W1–W3 computed scale-safely: range-buckets of the dense order
    key with boundary-row exchange (operators.windows.
    bucketed_forward_window) instead of one global partition. The
    oracle runs the global-order SQL — identical output is the parity
    proof; the plan shows WindowExec partitioned by bucket
    (tests/test_plans.py pins >1-partition execution)."""
    from stockify_spark.operators.windows import bucketed_forward_window

    df = _t(spark, sf_dir, "events").select("event_id", "value")
    out = bucketed_forward_window(
        df,
        "event_id",
        {
            "moving_avg": F.avg("value"),
            "rolling_min": F.min("value"),
            "rolling_max": F.max("value"),
        },
        window_size=10,
        bucket_size=1024,
    )
    return out.select(
        "event_id",
        F.round("moving_avg", 6).alias("moving_avg"),
        "rolling_min",
        "rolling_max",
    )


@register(
    "window_ntile",
    "SELECT o_orderkey, CAST(NTILE(4) OVER w AS BIGINT) AS quartile,"
    " ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,"
    " ROUND(CUME_DIST() OVER w, 6) AS cume FROM orders"
    " WINDOW w AS (ORDER BY o_totalprice, o_orderkey)",
)
def window_ntile(spark, sf_dir):
    """Distribution functions. Global ORDER BY window — single
    partition by construction; at scale use the partitioned variants
    (window_rank) or approx percentiles (agg_percentile)."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "window_first_last",
    "SELECT event_id, user_id,"
    " first_value(value) OVER w AS first_val,"
    " last_value(value) OVER w AS last_val,"
    " nth_value(value, 2) OVER w AS second_val FROM events"
    " WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
)
def window_first_last(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return df.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


# ---------------------------------------------------------------------------
# EWMA — exponentially weighted moving average, the stock-chart
# smoother. alpha = 0.5 makes every weight 2^-(k+1): weight·x is an
# exact exponent shift, so the explicit 8-term left-associated sum is
# bit-identical across engines (no ROUND-policy dependence); the
# denominator renormalizes over the lags that actually exist at the
# start of each series.
# ---------------------------------------------------------------------------
_EWMA_K = 8


def _ewma_sql() -> str:
    num = " + ".join(
        f"COALESCE(lag(value, {k}) OVER w, 0) * {2.0 ** -(k + 1)!r}"
        for k in range(_EWMA_K)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0 ELSE {2.0 ** -(k + 1)!r} END"
        for k in range(_EWMA_K)
    )
    return (
        "SELECT event_id, user_id, value,"
        f" ROUND(({num}) / ({den}), 6) AS ewma"
        " FROM events"
        " WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)"
    )


@register("window_ewma", _ewma_sql())
def window_ewma(spark, sf_dir):
    """EWMA over each user's event series as a fixed composition of
    lag() terms — a bounded-frame window, per-partition state O(K).
    The recursive form y_t = αx_t + (1-α)y_{t-1} is inherently
    sequential; the K-term truncation (weight tail < 0.4% at K=8,
    α=0.5) is the standard scale-out rewrite — every row computes
    independently inside one window pass, one shuffle on user_id."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(_EWMA_K):
        lagk = F.lag("value", k).over(w)
        wt = 2.0 ** -(k + 1)
        num = num + F.coalesce(lagk, F.lit(0.0)) * F.lit(wt)
        den = den + F.when(lagk.isNull(), 0.0).otherwise(wt)
    return t.select(
        "event_id", "user_id", "value", F.round(num / den, 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# Drawdown — running peak and distance-from-peak per series, the
# other stock-analytics native. Running MAX involves no float
# addition, and peak/value arithmetic is per-row IEEE — everything
# except the final display rounding is exact.
# ---------------------------------------------------------------------------

@register(
    "window_drawdown",
    "SELECT event_id, user_id, value,"
    " MAX(value) OVER w AS peak,"
    " ROUND(MAX(value) OVER w - value, 6) AS drawdown,"
    " ROUND((MAX(value) OVER w - value) / MAX(value) OVER w, 6) AS drawdown_pct"
    " FROM events"
    " WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id"
    "  ROWS UNBOUNDED PRECEDING)",
)
def window_drawdown(spark, sf_dir):
    """Running peak + drawdown over each user's value series: an
    unbounded-preceding MAX frame (O(1) running state per partition,
    one shuffle on user_id) and two per-row arithmetic columns.
    events.value > 0 by construction (TESTDATA.md), so the pct
    denominator needs no guard."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("value").over(w)
    return t.select(
        "event_id",
        "user_id",
        "value",
        peak.alias("peak"),
        F.round(peak - F.col("value"), 6).alias("drawdown"),
        F.round((peak - F.col("value")) / peak, 6).alias("drawdown_pct"),
    )


# ---------------------------------------------------------------------------
# Rank-distribution window functions — percent_rank / cume_dist,
# the remaining members of the ranking family (window_rank covers
# rank/dense_rank, window_ntile the quantile buckets). Both are
# rational functions of integer ranks — exact in both engines.
# ---------------------------------------------------------------------------
@register(
    "window_dist_stats",
    "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,"
    " percent_rank() OVER w AS pct_rank,"
    " cume_dist() OVER w AS cume"
    " FROM lineitem"
    " WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)",
)
def window_dist_stats(spark, sf_dir):
    """percent_rank + cume_dist per return-flag partition: one
    shuffle on the partition key, ordered scan per partition. Ties
    in l_quantity resolve by rank definition (not row order), so the
    outputs are deterministic without a tiebreaker column — exact
    integer-ratio doubles, no rounding needed."""
    t = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    return t.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Rolling min-max normalization — trailing-20 feature scaling, the
# outlier/normalization screen built ONLY from order statistics
# (rolling MIN/MAX involve no float accumulation, so the comparison
# is exact; a first draft used rolling stddev z-scores, but windowed
# stddev accumulates differently across engines — DuckDB maintains a
# segment tree with subtraction, Spark recomputes per frame — and
# the drift exceeds any safe ROUND grid).
# ---------------------------------------------------------------------------
@register(
    "window_rolling_norm",
    "WITH r AS (SELECT event_id, user_id, value,"
    "  MIN(value) OVER w AS lo, MAX(value) OVER w AS hi,"
    "  COUNT(*) OVER w AS n_win"
    "  FROM events"
    "  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id"
    "   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))"
    " SELECT event_id, user_id, value, CAST(n_win AS BIGINT) AS n_win,"
    " lo, hi,"
    " CASE WHEN hi > lo THEN ROUND((value - lo) / (hi - lo), 6) END AS pos"
    " FROM r",
)
def window_rolling_norm(spark, sf_dir):
    """Trailing-20 min-max normalization per user series: one
    partitioned window pass, O(frame) state, per-row arithmetic
    after. `pos` = the value's position inside its trailing range
    (NULL on a flat window) — the streaming-friendly scaling used
    where z-scores would need a float-stable variance; min/max are
    order statistics, so every column is exact across engines. The
    n_win column makes the warm-up region explicit."""
    t = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"), "event_id")
        .rowsBetween(-19, 0)
    )
    lo = F.min("value").over(w)
    hi = F.max("value").over(w)
    return t.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).cast("long").alias("n_win"),
        lo.alias("lo"),
        hi.alias("hi"),
        F.when(
            hi > lo, F.round((F.col("value") - lo) / (hi - lo), 6)
        ).alias("pos"),
    )


# ---------------------------------------------------------------------------
# window_vwap — volume-weighted average price, the stock-native window
# ---------------------------------------------------------------------------
_VWAP_SQL = """
SELECT event_id, user_id, value,
       ROUND(SUM(value * (event_id % 100 + 1)) OVER w
             / SUM(event_id % 100 + 1) OVER w, 6) AS vwap
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""


@register("window_vwap", _VWAP_SQL)
def window_vwap(spark, sf_dir):
    """Rolling 10-row VWAP per series — the stock-chart native the
    reference's domain implies (its W1 moving average is the
    unweighted special case, stockify.cu:513-537). Weight is a
    deterministic integer surrogate volume (event_id % 100 + 1) so
    the weighted sums are integer-scaled and cross-engine exact
    before the single display ROUND. One window pass, one shuffle on
    user_id, O(frame) running state."""
    from pyspark.sql import Window as W2

    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    vol = F.col("event_id") % 100 + 1
    w = W2.partitionBy("user_id").orderBy("ms", "event_id").rowsBetween(-9, 0)
    return t.select(
        "event_id",
        "user_id",
        "value",
        F.round(
            F.sum(F.col("value") * vol).over(w) / F.sum(vol).over(w), 6
        ).alias("vwap"),
    )


# ---------------------------------------------------------------------------
# Technical-indicator windows (Bollinger, RSI,
# autocorrelation), information-theoretic aggregates (entropy), join
# diagnostics and pruning (key-skew census, explicit Bloom-filter
# semi-join), time-series resampling with forward fill, windowed
# streaming top-k, BFS hop distance, and the txlog VACUUM lifecycle.
#
# Each query has an exact DuckDB oracle (driver contract,
# __spark_entry__.py). Reference attribution: the reference engine
# (stockify.cu) is a stock-price engine whose window family
# (stockify.cu:513-634) motivates the indicator windows here; the
# rest extends the warehouse/pipeline surface mandated by SURVEY §2
# and §7.6.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# window_bollinger — rolling mean ± 2σ bands (the chart overlay the
# reference's moving-average window W1 feeds; stockify.cu:513-537)
# ---------------------------------------------------------------------------
_BOLL_SQL = """
SELECT event_id, user_id,
       ROUND(AVG(value) OVER w, 6) AS mid,
       ROUND(AVG(value) OVER w + 2 * STDDEV_SAMP(value) OVER w, 6) AS upper_band,
       ROUND(AVG(value) OVER w - 2 * STDDEV_SAMP(value) OVER w, 6) AS lower_band
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


@register("window_bollinger", _BOLL_SQL)
def window_bollinger(spark, sf_dir):
    """20-row Bollinger bands per series: rolling mean ± 2 sample
    stddevs — the canonical volatility envelope over the reference's
    moving-average window. One window pass, one shuffle on user_id;
    the variance accumulates ≤20 doubles per frame so cross-engine
    sum-order drift is ~1e-15 against a 5e-7 rounding boundary.
    First row of each series: STDDEV_SAMP of one row is NULL in both
    engines, so the bands are NULL — kept, not coalesced, because a
    chart consumer needs to know the band is undefined."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id").rowsBetween(-19, 0)
    mid = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    return t.select(
        "event_id",
        "user_id",
        F.round(mid, 6).alias("mid"),
        F.round(mid + 2 * sd, 6).alias("upper_band"),
        F.round(mid - 2 * sd, 6).alias("lower_band"),
    )


# ---------------------------------------------------------------------------
# window_rsi — Cutler's RSI (SMA form; the recursive Wilder smoothing
# is deliberately avoided: an SMA is windowable in one pass on any
# engine, while Wilder's EWMA needs the sequential recurrence that
# window_ewma already covers)
# ---------------------------------------------------------------------------

_RSI_SQL = """
WITH d AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ms,
         value - LAG(value) OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts), event_id) AS diff
  FROM events)
SELECT event_id, user_id,
       CASE WHEN AVG(GREATEST(diff, 0)) OVER w + AVG(GREATEST(-diff, 0)) OVER w = 0
            THEN NULL
            ELSE ROUND(100 * AVG(GREATEST(diff, 0)) OVER w
                 / (AVG(GREATEST(diff, 0)) OVER w + AVG(GREATEST(-diff, 0)) OVER w), 6)
       END AS rsi
FROM d
WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
"""


@register("window_rsi", _RSI_SQL)
def window_rsi(spark, sf_dir):
    """14-row relative strength index per series, in the
    division-free-of-surprises form 100·ag/(ag+al) (algebraically
    identical to 100−100/(1+ag/al) but with a single guarded
    division — the CASE keeps ANSI sessions from a divide-by-zero
    error on an all-flat frame and pins the NULL semantics both
    engines agree on). Gains/losses derive from LAG, so the first
    row's diff is NULL and both engines' AVG ignores it. Two window
    passes over the same (user_id, time) sort order — Catalyst
    collapses them into ONE Window operator, one shuffle."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    ow = Window.partitionBy("user_id").orderBy("ms", "event_id")
    d = t.withColumn("diff", F.col("value") - F.lag("value").over(ow))
    w = ow.rowsBetween(-13, 0)
    ag = F.avg(F.greatest(F.col("diff"), F.lit(0))).over(w)
    al = F.avg(F.greatest(-F.col("diff"), F.lit(0))).over(w)
    return d.select(
        "event_id",
        "user_id",
        F.when(ag + al == 0, F.lit(None)).otherwise(
            F.round(100 * ag / (ag + al), 6)
        ).alias("rsi"),
    )


# ---------------------------------------------------------------------------
# window_acf — lag-k autocorrelation per series (the stationarity /
# seasonality probe a forecasting pipeline runs first)
# ---------------------------------------------------------------------------

_ACF_SQL = """
WITH l AS (
  SELECT user_id, value,
         LAG(value, 1) OVER w AS l1,
         LAG(value, 2) OVER w AS l2,
         LAG(value, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
a AS (
  SELECT user_id, corr(value, l1) AS a1, corr(value, l2) AS a2,
         corr(value, l3) AS a3
  FROM l GROUP BY user_id)
SELECT user_id, lag, ROUND(acf, 6) AS acf
FROM (SELECT user_id, 1::BIGINT AS lag, a1 AS acf FROM a
      UNION ALL SELECT user_id, 2, a2 FROM a
      UNION ALL SELECT user_id, 3, a3 FROM a)
"""


@register("window_acf", _ACF_SQL)
def window_acf(spark, sf_dir):
    """Autocorrelation of each user's value series at lags 1–3:
    corr(value, LAG(value, k)) — the overlap-pairs ACF estimator
    (both engines' corr over the identical pair set). One window
    pass builds all three lag columns (single shuffle), one groupBy
    computes the three correlations in the same aggregate, and a
    stack unpivots to (user_id, lag, acf) rows. corr's moment sums
    add ~66 doubles per group in engine order: ~1e-15 drift vs the
    5e-7 rounding boundary."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    ow = Window.partitionBy("user_id").orderBy("ms", "event_id")
    l = t.select(
        "user_id",
        "value",
        F.lag("value", 1).over(ow).alias("l1"),
        F.lag("value", 2).over(ow).alias("l2"),
        F.lag("value", 3).over(ow).alias("l3"),
    )
    a = l.groupBy("user_id").agg(
        F.corr("value", "l1").alias("a1"),
        F.corr("value", "l2").alias("a2"),
        F.corr("value", "l3").alias("a3"),
    )
    return a.selectExpr(
        "user_id",
        "stack(3, CAST(1 AS BIGINT), a1, CAST(2 AS BIGINT), a2, CAST(3 AS BIGINT), a3) AS (lag, acf)",
    ).select("user_id", "lag", F.round("acf", 6).alias("acf"))


# ---------------------------------------------------------------------------
# window_resample — calendar resampling + forward fill (gap-filling)
# ---------------------------------------------------------------------------
_RESAMPLE_SQL = """
WITH bounds AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events GROUP BY user_id),
grid AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds),
daily AS (
  SELECT user_id, day, value AS v FROM (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1)
SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
       ROUND(last_value(d.v IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.day), 6) AS value_ff,
       d.v IS NULL AS filled
FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
"""


@register("window_resample", _RESAMPLE_SQL)
def window_resample(spark, sf_dir):
    """Resample each user's event series onto a dense daily grid and
    forward-fill the last observed value — the gap-filling step every
    time-series feature pipeline runs before a fixed-frequency model.
    Shape: per-user bounds (one agg), grid via sequence+explode (no
    driver loop — the calendar is generated inside the executors),
    the per-day 'last observation' via one row_number dedup (an
    arg-max by (ts, event_id), spelled identically in both engines),
    and the fill as last(ignorenulls) over the grid — one window
    pass, one shuffle on user_id. Day is emitted as an ISO string:
    the grid is data, not a timestamp, and strings hash identically
    across engines."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts", F.to_date("ts").alias("day")
    )
    grid = (
        t.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    dw = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        t.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("v"))
    )
    fw = Window.partitionBy("user_id").orderBy("day")
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(
                F.last("v", ignorenulls=True).over(fw), 6
            ).alias("value_ff"),
            F.col("v").isNull().alias("filled"),
        )
    )


# ---------------------------------------------------------------------------
# window_cusum — CUSUM changepoint score per event series
# ---------------------------------------------------------------------------
_CUSUM_SQL = """
WITH b AS (
  SELECT event_id, user_id, value, epoch_ms(ts) AS ms,
         AVG(value) OVER (PARTITION BY user_id) AS mu
  FROM events),
c AS (
  SELECT event_id, user_id,
         SUM(value - mu) OVER (PARTITION BY user_id ORDER BY ms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM b),
m AS (SELECT user_id, MAX(ABS(cusum)) AS cp FROM c GROUP BY 1)
SELECT c.user_id, ROUND(m.cp, 6) AS cp_score,
       CAST(MIN(c.event_id) AS BIGINT) AS cp_event
FROM c JOIN m ON c.user_id = m.user_id AND ABS(c.cusum) = m.cp
GROUP BY c.user_id, m.cp
"""


@register("window_cusum", _CUSUM_SQL)
def window_cusum(spark, sf_dir):
    """CUSUM changepoint detection per user series: running sum of
    deviations from the series mean; the score is max|CUSUM| and the
    changepoint is the earliest row attaining it. Page's classic
    statistic, all in windows: full-frame AVG for the mean, ordered
    prefix SUM for the path — one shuffle on user_id, both windows
    share the same partitioning so Catalyst plans a single exchange.
    The argmax is recovered relationally (join rows back against the
    per-series max with MIN(event_id) as the deterministic
    tie-break) rather than with max_by, whose tie choice is
    plan-dependent. The ordered prefix sum is accumulation-order-
    FIXED, so both engines produce bit-identical paths given the
    same mean; the mean itself is an unordered reduce with ~1e-12
    cross-engine drift — far below both the 5e-7 rounding boundary
    and any plausible gap between distinct path maxima."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    wp = Window.partitionBy("user_id")
    wo = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = ev.withColumn("mu", F.avg("value").over(wp)).withColumn(
        "cusum", F.sum(F.col("value") - F.col("mu")).over(wo)
    )
    m = c.groupBy("user_id").agg(F.max(F.abs(F.col("cusum"))).alias("cp"))
    return (
        c.join(m, "user_id")
        .filter(F.abs(F.col("cusum")) == F.col("cp"))
        .groupBy("user_id", "cp")
        .agg(F.min("event_id").alias("cp_event"))
        .select(
            "user_id",
            F.round("cp", 6).alias("cp_score"),
            F.col("cp_event").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# window_seasonal — STL-lite decomposition of daily revenue
# ---------------------------------------------------------------------------

_SEASONAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, ROUND(SUM(o_totalprice), 6) AS rev
  FROM orders GROUP BY 1),
tr AS (
  SELECT d, rev,
         CASE WHEN COUNT(*) OVER w = 7 THEN AVG(rev) OVER w END AS trend
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
se AS (
  SELECT CAST(EXTRACT(dow FROM d) + 1 AS INT) AS dow,
         AVG(rev - trend) AS seasonal
  FROM tr WHERE trend IS NOT NULL GROUP BY 1)
SELECT tr.d, tr.rev,
       ROUND(tr.trend, 6) AS trend,
       ROUND(se.seasonal, 6) AS seasonal,
       ROUND(tr.rev - tr.trend - se.seasonal, 6) AS resid
FROM tr JOIN se ON CAST(EXTRACT(dow FROM tr.d) + 1 AS INT) = se.dow
WHERE tr.trend IS NOT NULL
"""


@register("window_seasonal", _SEASONAL_SQL)
def window_seasonal(spark, sf_dir):
    """Classical seasonal decomposition of daily revenue (the
    additive STL-lite every forecasting pipeline starts from):
    trend = centered 7-row moving average (NULL at the edges where
    the frame is short — a one-sided average would bias the trend),
    seasonal = mean detrended value per day-of-week, residual = the
    rest. The daily rollup is the only data-sized shuffle; trend is
    one ordered window over ~years-of-days rows, and the seasonal
    index is a 7-row broadcast joined back. Day-of-week is pinned to
    Spark's 1=Sunday convention (DuckDB's EXTRACT(dow) is 0=Sunday —
    reconciled in the oracle, not the engine). Daily totals are
    rounded BEFORE the decomposition so both engines detrend the
    same series rather than two ulp-divergent ones."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.withColumn(
        "trend",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("rev").over(w)),
    ).filter(F.col("trend").isNotNull())
    se = (
        tr.groupBy(F.dayofweek("d").alias("dow"))
        .agg(F.avg(F.col("rev") - F.col("trend")).alias("seasonal"))
    )
    return (
        tr.join(F.broadcast(se), F.dayofweek(tr["d"]) == se["dow"])
        .select(
            "d",
            "rev",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("rev") - F.col("trend") - F.col("seasonal"), 6).alias(
                "resid"
            ),
        )
    )


# ---------------------------------------------------------------------------
# window_rolling_median — EXACT rolling median (15-row frame)
# ---------------------------------------------------------------------------
_ROLLMED_SQL = """
SELECT event_id, user_id,
       ROUND(MEDIAN(value) OVER (PARTITION BY user_id
                                 ORDER BY epoch_ms(ts), event_id
                                 ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
             6) AS med
FROM events
"""


@register("window_rolling_median", _ROLLMED_SQL)
def window_rolling_median(spark, sf_dir):
    """EXACT rolling median over a 15-row frame — the robust
    centerline percentile_approx can't give you. Spark has no
    native windowed median, so the frame is materialized as a
    sorted array (collect_list over the window, array_sort) and the
    middle element(s) read out: odd frames take the center, even
    frames average the two centers (a+b)/2. DuckDB's windowed MEDIAN
    interpolates even frames as lo + 0.5*(hi-lo), which can differ
    from (a+b)/2 by an ulp, so both faces round to 6dp — the display
    precision every sibling operator uses — rather than betting the
    exact-hash contract on two formulas agreeing bitwise. The frame is
    BOUNDED (15 rows), so per-row state is constant and the window
    stays one shuffle + one sort per series at any scale; an
    UNBOUNDED frame with this trick would OOM — that variant is what
    the recursive selection operator (operators/sorts.py,
    agg_exact_median) exists for."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(-14, 0)
    )
    a = F.array_sort(F.collect_list("value").over(w))
    n = F.size(a)
    odd = F.element_at(a, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(a, (n / 2).cast("int"))
        + F.element_at(a, (n / 2 + 1).cast("int"))
    ) / 2.0
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.when(n % 2 == 1, odd).otherwise(even), 6).alias("med"),
    )


# ---------------------------------------------------------------------------
# window_interpolate — linear interpolation onto a dense daily grid
# ---------------------------------------------------------------------------
_INTERP_SQL = """
WITH bounds AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
  FROM events GROUP BY user_id),
grid AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds),
daily AS (
  SELECT user_id, day, value AS v FROM (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1),
j AS (
  SELECT g.user_id, g.day, d.v,
         CASE WHEN d.v IS NOT NULL THEN g.day END AS obs_day
  FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day),
w AS (
  SELECT user_id, day, v,
         last_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day) AS pv,
         last_value(obs_day IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day) AS pd,
         first_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(obs_day IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
                                         / CAST(date_diff('day', pd, nd) AS DOUBLE))
             END, 6) AS value_li,
       CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS kind
FROM w
"""


@register("window_interpolate", _INTERP_SQL)
def window_interpolate(spark, sf_dir):
    """Linear interpolation of each user's irregular series onto a
    dense daily grid — the gap-filler for models that need straight
    lines between observations rather than window_resample's step
    function. Same grid construction (per-user bounds, executor-side
    sequence+explode, arg-max per-day dedup); then ONE forward and
    ONE backward window pass carry the bracketing observation
    (value, day) to every grid point, and the interpolation is pure
    arithmetic: pv + (nv - pv) * (Δprev / Δspan), spelled in the
    SAME IEEE operation order in both engines so the 6dp round is
    drift-free (integer day arithmetic feeds one divide, one
    multiply, one add). Grid edges cannot extrapolate by
    construction: every user's grid spans min(ts)..max(ts), so both
    brackets always exist. Two window passes over one user_id
    shuffle — the same scale shape as resample."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts", F.to_date("ts").alias("day")
    )
    grid = (
        t.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias(
                "day"
            ),
        )
    )
    dw = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        t.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("v"))
    )
    j = grid.join(daily, ["user_id", "day"], "left").withColumn(
        "obs_day", F.when(F.col("v").isNotNull(), F.col("day"))
    )
    fw = Window.partitionBy("user_id").orderBy("day")
    bw = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(fw))
        .withColumn("pd", F.last("obs_day", ignorenulls=True).over(fw))
        .withColumn("nv", F.first("v", ignorenulls=True).over(bw))
        .withColumn("nd", F.first("obs_day", ignorenulls=True).over(bw))
    )
    frac = F.datediff(F.col("day"), F.col("pd")).cast("double") / F.datediff(
        F.col("nd"), F.col("pd")
    ).cast("double")
    li = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return w.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(li, 6).alias("value_li"),
        F.when(F.col("v").isNotNull(), "obs").otherwise("interp").alias("kind"),
    )


# ---------------------------------------------------------------------------
# window_rolling_slope — rolling OLS trend over a bounded frame
# ---------------------------------------------------------------------------
_SLOPE_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
s AS (SELECT row_id,
             COUNT(*)            OVER w AS cnt,
             SUM(CAST(row_id AS DOUBLE))          OVER w AS sx,
             SUM(close)          OVER w AS sy,
             SUM(CAST(row_id AS DOUBLE) * close)  OVER w AS sxy,
             SUM(CAST(row_id AS DOUBLE) * CAST(row_id AS DOUBLE)) OVER w
               AS sxx
      FROM stocks
      WINDOW w AS (ORDER BY row_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT row_id,
       ROUND((cnt * sxy - sx * sy) / NULLIF(cnt * sxx - sx * sx, 0), 6)
         AS slope,
       ROUND((sy - (cnt * sxy - sx * sy) / NULLIF(cnt * sxx - sx * sx, 0)
                   * sx) / cnt, 6) AS intercept
FROM s
"""


@register("window_rolling_slope", _SLOPE_SQL)
def window_rolling_slope(spark, sf_dir):
    """Rolling 20-row OLS trend of close against row position —
    closed-form slope/intercept from five frame sums, the windowed
    sibling of ml_linreg_group's per-group closed form. Every frame
    sum is integer-exact in double (row_id <= 1799, close a multiple
    of 10, 20-row frames: max |sxy| ~ 2.4e7 << 2^53), so both
    engines divide identical numerators; the first row's degenerate
    single-point frame yields NULL via NULLIF rather than a 0/0.
    One window pass, no shuffle beyond the documented global-order
    parity sort (SURVEY §7.4)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id").rowsBetween(-19, 0)
    x = F.col("row_id").cast("double")
    base = s.select(
        "row_id",
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum(x).over(w).alias("sx"),
        F.sum("close").over(w).alias("sy"),
        F.sum(x * F.col("close")).over(w).alias("sxy"),
        F.sum(x * x).over(w).alias("sxx"),
    )
    num = F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.nullif(
        F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
    )
    slope = num / den
    return base.select(
        "row_id",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("cnt"), 6).alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Sequential-state recursions.
#
# The EWMA family is the one window shape Catalyst genuinely cannot
# express: ema_t = a*x_t + (1-a)*ema_{t-1} has unbounded dependency
# depth, so window_ewma ships the TRUNCATED
# lag-expansion approximation. These queries ship the EXACT recursion
# instead, with the honest Spark shape for per-key sequential state:
# ``applyInPandas`` — distributed ACROSS series (each executor owns
# whole series), an Arrow-batched float64 loop WITHIN a series. The
# oracle is a DuckDB RECURSIVE CTE stepping the identical recurrence,
# so both engines evaluate the same IEEE expression chain
# (a*x + (1-a)*prev, same literal alphas, same association) and the
# match is exact before the 6dp display rounding.
#
# This is custom-operator tier (c) from the build rules made
# first-class: semantics Spark's built-ins can't reach, implemented as
# per-group Arrow state rather than a driver loop — at 100 TB the
# parallelism is the number of series (symbols), the classic
# time-series layout.
# ---------------------------------------------------------------------------
_EMA_SQL = f"""
WITH RECURSIVE stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
r AS (
  SELECT symbol, pos, close, close AS ema FROM base WHERE pos = 0
  UNION ALL
  SELECT b.symbol, b.pos, b.close, 0.2 * b.close + 0.8 * r.ema
  FROM r JOIN base b ON b.symbol = r.symbol AND b.pos = r.pos + 1
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(ema, 6) AS ema
FROM r
"""


@register("window_ema_exact", _EMA_SQL)
def window_ema_exact(spark, sf_dir):
    """Exact (non-truncated) EMA, alpha = 0.2, seeded at the first
    close of each series — the recursion window_ewma can only
    approximate. The ramp is split into 10 series of 180 rows
    (symbol = row_id // 180); each series is one applyInPandas
    group: a float64 loop computing 0.2*c + 0.8*prev, the same
    literal expression the oracle's recursive CTE steps, so the
    match is bit-level before rounding. One shuffle on symbol;
    series parallelism is the scale axis."""
    import pandas as pd

    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )

    def ema_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        closes = pdf["close"].to_numpy()
        out = closes.copy()
        for t in range(1, len(out)):
            out[t] = 0.2 * closes[t] + 0.8 * out[t - 1]
        return pd.DataFrame(
            {"symbol": pdf["symbol"], "pos": pdf["pos"], "ema": out}
        )

    res = s.groupBy("symbol").applyInPandas(
        ema_series, schema="symbol long, pos long, ema double"
    )
    return res.select("symbol", "pos", F.round("ema", 6).alias("ema"))


# ---------------------------------------------------------------------------
# State-space smoothing on real tables,
# keyword extraction, robust regression, and network-address ops.
#
# Extends the sequential-state family (window_ema_exact's
# ``applyInPandas``-per-series / recursive-CTE pattern) in two
# directions: a 1-D Kalman filter (two coupled state variables with a
# data-dependent gain — the canonical state-space smoother) and Holt's
# double exponential smoothing driven by a REAL aggregate series
# (monthly revenue per nation off orders⋈customer⋈nation, inputs
# pinned to 2dp on both faces so the recursion sees identical IEEE
# operands despite unordered cross-engine sums). The corpus op is RAKE
# keyword extraction (stopword-boundary phrase runs scored by word
# degree/frequency — public-knowledge algorithm, Rose et al. 2010).
# Theil-Sen is the robust trend estimator (median of pairwise slopes)
# with the median taken by EXPLICIT rank selection so both engines
# average the same two middle values instead of trusting matching
# interpolation formulas (the window_rolling_median lesson).
# ---------------------------------------------------------------------------
_KALMAN_SQL = f"""
WITH RECURSIVE stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
r AS (
  SELECT symbol, pos, close, close AS x, CAST(1.0 AS DOUBLE) AS p,
         CAST(0.0 AS DOUBLE) AS k
  FROM base WHERE pos = 0
  UNION ALL
  SELECT b.symbol, b.pos, b.close,
         r.x + ((r.p + 0.01) / (r.p + 0.01 + 4.0)) * (b.close - r.x),
         (1.0 - (r.p + 0.01) / (r.p + 0.01 + 4.0)) * (r.p + 0.01),
         (r.p + 0.01) / (r.p + 0.01 + 4.0)
  FROM r JOIN base b ON b.symbol = r.symbol AND b.pos = r.pos + 1
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(x, 6) AS estimate, ROUND(p, 6) AS variance,
       ROUND(k, 6) AS gain
FROM r
"""


@register("window_kalman", _KALMAN_SQL)
def window_kalman(spark, sf_dir):
    """1-D constant-position Kalman filter (process noise q=0.01,
    measurement noise r=4.0), seeded x0 = z0, p0 = 1: predict
    p' = p + q, gain k = p'/(p' + r), update x += k(z - x),
    p = (1-k)p'. Unlike the EMA family the smoothing weight is
    DATA-DEPENDENT state (k converges toward the steady-state gain),
    so this pins the two-coupled-recursions shape. applyInPandas per
    series vs a recursive CTE carrying (x, p, k) through the same
    literal IEEE expressions."""
    import pandas as pd

    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )

    def kalman_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        z = pdf["close"].to_numpy()
        n = len(z)
        xs = [0.0] * n
        ps = [0.0] * n
        ks = [0.0] * n
        x, p = z[0], 1.0
        xs[0], ps[0], ks[0] = x, p, 0.0
        for t in range(1, n):
            pp = p + 0.01
            k = pp / (pp + 4.0)
            x = x + k * (z[t] - x)
            p = (1.0 - k) * pp
            xs[t], ps[t], ks[t] = x, p, k
        return pd.DataFrame(
            {"symbol": pdf["symbol"], "pos": pdf["pos"], "x": xs, "p": ps, "k": ks}
        )

    res = s.groupBy("symbol").applyInPandas(
        kalman_series,
        schema="symbol long, pos long, x double, p double, k double",
    )
    return res.select(
        "symbol",
        "pos",
        F.round("x", 6).alias("estimate"),
        F.round("p", 6).alias("variance"),
        F.round("k", 6).alias("gain"),
    )


# ---------------------------------------------------------------------------
# Multiresolution transforms, sketching,
# spectral/graph summaries, and the last classic indicator.
#
# Two more determinism-by-construction designs (the
# graph_assortativity theme): Haar wavelet decomposition is exact halving arithmetic on
# exact-decimal data (no rounding pins needed anywhere), and the HLL
# sketch uses an md5-derived hash so BOTH engines build bit-identical
# register arrays (the agg_cms_sketch precedent applied to
# cardinality). PCA and modularity follow the pinned-moments /
# integer-sums patterns respectively; Ichimoku closes out the
# reference domain's indicator toolkit with pure bounded-frame
# windows.
# ---------------------------------------------------------------------------
_DWT_LEN = 128  # 2^7 — first 128 rows of each series


def _haar_oracle_sql() -> str:
    """Chained-CTE Haar DWT: 7 exact halving levels, details emitted
    per level, the final approximation as level 8."""
    parts = [
        f"WITH stocks AS ({RAMP_SQL}),",
        f"lvl0 AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,"
        f" row_id % {RAMP_SERIES_LEN} AS k, close AS a FROM stocks"
        f" WHERE row_id % {RAMP_SERIES_LEN} < {_DWT_LEN}),",
    ]
    for lv in range(1, 8):
        prev = f"lvl{lv - 1}"
        parts.append(
            f"lvl{lv} AS (SELECT symbol, k // 2 AS k,"
            f" (MAX(CASE WHEN k % 2 = 0 THEN a END)"
            f"  + MAX(CASE WHEN k % 2 = 1 THEN a END)) / 2 AS a,"
            f" (MAX(CASE WHEN k % 2 = 0 THEN a END)"
            f"  - MAX(CASE WHEN k % 2 = 1 THEN a END)) / 2 AS d"
            f" FROM {prev} GROUP BY symbol, k // 2),"
        )
    details = " UNION ALL ".join(
        f"SELECT symbol, {lv} AS level, k, d AS coef FROM lvl{lv}"
        for lv in range(1, 8)
    )
    parts.append(
        f"allc AS ({details} UNION ALL"
        f" SELECT symbol, 8 AS level, k, a AS coef FROM lvl7)"
    )
    return (
        "".join(parts)
        + " SELECT CAST(symbol AS BIGINT) AS symbol,"
        " CAST(level AS BIGINT) AS level, CAST(k AS BIGINT) AS k,"
        " ROUND(coef, 6) AS coef FROM allc"
    )


@register("window_haar_dwt", _haar_oracle_sql())
def window_haar_dwt(spark, sf_dir):
    """Haar discrete wavelet transform of the first 128 points of
    each series: level l halves level l-1 into approximations
    (a+b)/2 and details (a-b)/2; output is every detail coefficient
    (levels 1-7) plus the final approximation (level 8). All values
    are exact binary halves of exact-decimal closes, so the two
    faces agree bit-for-bit with NO rounding pins — determinism by
    arithmetic. The Spark plan is the classic log2(n) parallel
    reduction: 7 chained per-series pair aggregations (each one
    groupBy on (symbol, k/2)); at scale each level is map-side
    within a series partition."""
    from functools import reduce

    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("k"),
        F.col("close").alias("a"),
    ).filter(F.col("k") < _DWT_LEN)

    levels = []
    cur = s
    for lv in range(1, 8):
        nxt = cur.groupBy(
            "symbol", (F.col("k") / 2).cast("long").alias("k2")
        ).agg(
            (
                (
                    F.max(F.when(F.col("k") % 2 == 0, F.col("a")))
                    + F.max(F.when(F.col("k") % 2 == 1, F.col("a")))
                )
                / 2
            ).alias("a"),
            (
                (
                    F.max(F.when(F.col("k") % 2 == 0, F.col("a")))
                    - F.max(F.when(F.col("k") % 2 == 1, F.col("a")))
                )
                / 2
            ).alias("d"),
        ).withColumnRenamed("k2", "k")
        # each level feeds BOTH the detail branch of the union and the
        # next level's pair aggregation — without materializing it,
        # level k's branch re-executes every lower level and the plan
        # census counts 35 shuffles instead of 7 (measured); the
        # level outputs halve in size so the checkpoints are tiny
        nxt = nxt.localCheckpoint(eager=False)
        levels.append(
            nxt.select(
                "symbol", F.lit(lv).cast("long").alias("level"), "k",
                F.col("d").alias("coef"),
            )
        )
        cur = nxt.select("symbol", "k", "a")
    levels.append(
        cur.select(
            "symbol", F.lit(8).cast("long").alias("level"), "k",
            F.col("a").alias("coef"),
        )
    )
    out = reduce(lambda x, y: x.unionAll(y), levels)
    return out.select("symbol", "level", "k", F.round("coef", 6).alias("coef"))


_BIQUAD_SQL = f"""
WITH RECURSIVE stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
r AS (
  SELECT symbol, pos, close,
         close AS y, CAST(0.0 AS DOUBLE) AS y1,
         close AS x1, CAST(0.0 AS DOUBLE) AS x2,
         CAST(0 AS BIGINT) AS started
  FROM base WHERE pos = 0
  UNION ALL
  SELECT b.symbol, b.pos, b.close,
         CASE WHEN r.started = 0 THEN b.close
              ELSE 0.2 * b.close + 0.4 * r.x1 + 0.2 * r.x2
                   - (-0.3) * r.y - 0.1 * r.y1 END,
         r.y, b.close, r.x1, 1
  FROM r JOIN base b ON b.symbol = r.symbol AND b.pos = r.pos + 1
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(y, 6) AS filtered
FROM r
"""


@register("window_biquad_filter", _BIQUAD_SQL)
def window_biquad_filter(spark, sf_dir):
    """Second-order IIR (biquad) low-pass filter per series:
    y_t = 0.2·x_t + 0.4·x_{{t-1}} + 0.2·x_{{t-2}} + 0.3·y_{{t-1}} −
    0.1·y_{{t-2}} (poles at |z| ≈ 0.32 — stable), seeded y_0 = x_0,
    y_1 = x_1. DEPTH-2 sequential state — two lags of both input and
    output — closing out the recursion-family shapes (depth-1 EMA/
    Kalman, coupled Wilder, and now the canonical DSP filter). Same
    applyInPandas-per-series vs recursive-CTE construction; the CTE
    carries (y, y1, x1, x2) plus a started flag for the two-sample
    seed."""
    import pandas as pd

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )

    def biquad_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        x = pdf["close"].to_numpy()
        n = len(x)
        y = [0.0] * n
        y[0] = x[0]
        if n > 1:
            y[1] = x[1]
        for t in range(2, n):
            y[t] = (
                0.2 * x[t] + 0.4 * x[t - 1] + 0.2 * x[t - 2]
                - (-0.3) * y[t - 1] - 0.1 * y[t - 2]
            )
        return pd.DataFrame({"symbol": pdf["symbol"], "pos": pdf["pos"], "y": y})

    res = s.groupBy("symbol").applyInPandas(
        biquad_series, schema="symbol long, pos long, y double"
    )
    return res.select("symbol", "pos", F.round("y", 6).alias("filtered"))


def _goertzel_weights(k: int) -> tuple[list[float], list[float]]:
    """The 18 cos/sin weights of harmonic k of the ramp period,
    computed ONCE here and injected as IDENTICAL literals into both
    faces — no cross-engine libm trig in the hot path."""
    cos = [math.cos(2.0 * math.pi * k * p / 18.0) for p in range(18)]
    sin = [math.sin(2.0 * math.pi * k * p / 18.0) for p in range(18)]
    return cos, sin


def _goertzel_oracle() -> str:
    rows = []
    for k in range(1, 6):
        cos, sin = _goertzel_weights(k)
        cos_case = " ".join(
            f"WHEN {p} THEN CAST({c!r} AS DOUBLE)" for p, c in enumerate(cos)
        )
        sin_case = " ".join(
            f"WHEN {p} THEN CAST({s!r} AS DOUBLE)" for p, s in enumerate(sin)
        )
        rows.append(
            f"SELECT symbol, {k} AS harmonic,"
            f" SUM(close * CASE pos % 18 {cos_case} END) AS cs,"
            f" SUM(close * CASE pos % 18 {sin_case} END) AS sn"
            " FROM base GROUP BY symbol"
        )
    union = " UNION ALL ".join(rows)
    return f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
p AS ({union})
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(harmonic AS BIGINT) AS harmonic,
       ROUND(cs * cs + sn * sn, 4) AS power
FROM p
"""


@register("window_goertzel_power", _goertzel_oracle())
def window_goertzel_power(spark, sf_dir):
    """Spectral power of each series at harmonics 1-5 of the known
    18-sample period: P(k) = (Σ x·cos)² + (Σ x·sin)². The trig
    weights repeat with the period, so they are precomputed in
    Python and shipped as the SAME literal doubles to both engines
    (a broadcast weight table — the literal-weight pattern): the
    only cross-engine variation left is sum order, absorbed by the
    4dp pin. The sawtooth's harmonic signature (power ∝ 1/k² shape)
    falls out, testable in closed form. One map-side multiply +
    per-series aggregation per harmonic."""
    from functools import reduce

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    outs = []
    for k in range(1, 6):
        cos, sin = _goertzel_weights(k)
        p18 = F.col("pos") % 18
        cexpr = F.when(p18 == 0, F.lit(cos[0]))
        sexpr = F.when(p18 == 0, F.lit(sin[0]))
        for p in range(1, 18):
            cexpr = cexpr.when(p18 == p, F.lit(cos[p]))
            sexpr = sexpr.when(p18 == p, F.lit(sin[p]))
        g = base.groupBy("symbol").agg(
            F.sum(F.col("close") * cexpr).alias("cs"),
            F.sum(F.col("close") * sexpr).alias("sn"),
        )
        outs.append(
            g.select(
                "symbol",
                F.lit(k).cast("long").alias("harmonic"),
                F.round(
                    F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn"), 4
                ).alias("power"),
            )
        )
    return reduce(lambda x, y: x.unionAll(y), outs)


_PEAK_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
n AS (
  SELECT row_id, close,
         lag(close) OVER w AS prev, lead(close) OVER w AS nxt,
         MIN(close) OVER (ORDER BY row_id
                          ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS lmin,
         MIN(close) OVER (ORDER BY row_id
                          ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING) AS rmin
  FROM stocks WINDOW w AS (ORDER BY row_id)
)
SELECT row_id, close,
       ROUND(close - GREATEST(lmin, rmin), 6) AS prominence
FROM n
WHERE prev IS NOT NULL AND nxt IS NOT NULL
  AND close > prev AND close > nxt
"""


@register("window_peak_detection", _PEAK_SQL)
def window_peak_detection(spark, sf_dir):
    """Local-maximum detection with prominence: a peak is strictly
    above both neighbors (edge rows excluded by the explicit
    NOT-NULL gates, identical on both faces); prominence = height
    above the higher of the two flanking 8-bar minima. On the
    sawtooth this finds exactly the period tops (pos 17 mod 18).
    Stateless lag/lead + two one-sided frames — map-side per
    series at scale; 1-part parity convention here."""

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id")
    lw = Window.orderBy("row_id").rowsBetween(-8, -1)
    rw = Window.orderBy("row_id").rowsBetween(1, 8)
    n = s.select(
        "row_id",
        "close",
        F.lag("close").over(w).alias("prev"),
        F.lead("close").over(w).alias("nxt"),
        F.min("close").over(lw).alias("lmin"),
        F.min("close").over(rw).alias("rmin"),
    )
    return (
        n.filter(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("close") > F.col("prev"))
            & (F.col("close") > F.col("nxt"))
        )
        .select(
            "row_id",
            "close",
            F.round(
                F.col("close") - F.greatest("lmin", "rmin"), 6
            ).alias("prominence"),
        )
    )


_CHUNKS = (18, 45, 90)


def _hurst_oracle() -> str:
    blocks = []
    for n in _CHUNKS:
        blocks.append(
            f"""
rs{n} AS (
  SELECT symbol, AVG(r / s) AS rs
  FROM (
    SELECT symbol, chunk, MAX(z) - MIN(z) AS r,
           sqrt(SUM(d * d) / {n}.0) AS s
    FROM (
      SELECT symbol, chunk, pos, d,
             SUM(d) OVER (PARTITION BY symbol, chunk ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS z
      FROM (
        SELECT symbol, pos // {n} AS chunk, pos,
               close - AVG(close) OVER (PARTITION BY symbol, pos // {n}) AS d
        FROM base
      )
    )
    GROUP BY symbol, chunk
  )
  GROUP BY symbol
)"""
        )
    lns = [math.log(float(n)) for n in _CHUNKS]
    um = sum(lns) / 3.0
    du = [u - um for u in lns]
    suu = sum(x * x for x in du)
    # slope = Σ (u_i - ū) ln(rs_i) / Σ (u_i - ū)²  (v̄ term cancels)
    num = " + ".join(
        f"CAST({du[i]!r} AS DOUBLE) * ln(rs{n}.rs)" for i, n in enumerate(_CHUNKS)
    )
    return f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
{",".join(blocks)}
SELECT CAST(rs18.symbol AS BIGINT) AS symbol,
       ROUND(rs18.rs, 6) AS rs_18, ROUND(rs45.rs, 6) AS rs_45,
       ROUND(rs90.rs, 6) AS rs_90,
       ROUND(({num}) / CAST({suu!r} AS DOUBLE), 6) AS hurst
FROM rs18 JOIN rs45 ON rs45.symbol = rs18.symbol
JOIN rs90 ON rs90.symbol = rs18.symbol
"""


@register("window_hurst_rs", _hurst_oracle())
def window_hurst_rs(spark, sf_dir):
    """Rescaled-range (Hurst) analysis per series: for chunk sizes
    18/45/90, each chunk's range of the mean-adjusted cumulative sum
    over its population std, averaged per size; the Hurst exponent is
    the log-log OLS slope across the three sizes (the ln(n) design
    constants and centered weights are Python literals shared by both
    faces — the literal-weight pattern). A periodic sawtooth is
    strongly mean-reverting, so H lands well below 0.5 — pinned in
    tests. All heavy arithmetic is chunk-local window algebra; chunks
    partition by (symbol, chunk) so series count x chunk count is the
    parallelism axis."""
    from functools import reduce

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    rs_frames = []
    for n in _CHUNKS:
        chunk = (F.col("pos") / n).cast("long").alias("chunk")
        wmean = Window.partitionBy("symbol", "chunk")
        wcum = Window.partitionBy("symbol", "chunk").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, 0
        )
        d = base.select("symbol", chunk, "pos", "close").select(
            "symbol", "chunk", "pos",
            (F.col("close") - F.avg("close").over(wmean)).alias("d"),
        )
        z = d.withColumn("z", F.sum("d").over(wcum))
        per_chunk = z.groupBy("symbol", "chunk").agg(
            (F.max("z") - F.min("z")).alias("r"),
            F.sqrt(F.sum(F.col("d") * F.col("d")) / float(n)).alias("s"),
        )
        rs_frames.append(
            per_chunk.groupBy("symbol").agg(
                F.avg(F.col("r") / F.col("s")).alias(f"rs_{n}")
            )
        )
    joined = reduce(lambda x, y: x.join(y, "symbol"), rs_frames)
    lns = [math.log(float(n)) for n in _CHUNKS]
    um = sum(lns) / 3.0
    du = [u - um for u in lns]
    suu = sum(x * x for x in du)
    num = None
    for i, n in enumerate(_CHUNKS):
        term = F.lit(du[i]) * F.log(F.col(f"rs_{n}"))
        num = term if num is None else num + term
    return joined.select(
        "symbol",
        F.round("rs_18", 6).alias("rs_18"),
        F.round("rs_45", 6).alias("rs_45"),
        F.round("rs_90", 6).alias("rs_90"),
        F.round(num / F.lit(suu), 6).alias("hurst"),
    )


_DETREND_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
m AS (
  SELECT symbol,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(pos) AS DOUBLE) AS sx,
         CAST(SUM(pos * pos) AS DOUBLE) AS sxx,
         SUM(close) AS sy, SUM(pos * close) AS sxy,
         SUM(close * close) AS syy
  FROM base GROUP BY symbol
),
fit AS (
  SELECT symbol, n, sx, sxx, sy, sxy, syy,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
  FROM m
)
SELECT b.symbol::BIGINT AS symbol, b.pos::BIGINT AS pos,
       ROUND(b.close - (f.intercept + f.slope * b.pos), 6) AS residual,
       ROUND(f.slope, 6) AS slope,
       ROUND(CASE WHEN f.syy - f.sy * f.sy / f.n = 0 THEN 1.0
                  ELSE (f.slope * f.slope * (f.sxx - f.sx * f.sx / f.n))
                       / (f.syy - f.sy * f.sy / f.n) END, 6) AS r2
FROM base b JOIN fit f ON f.symbol = b.symbol
"""


@register("window_linear_detrend", _DETREND_SQL)
def window_linear_detrend(spark, sf_dir):
    """Per-series linear detrend: OLS of close on position in closed
    form from one moment pass (all sums integer-valued-exact below
    2^53 — the graph_assortativity rule), then the residual series plus
    slope and R². The fit BROADCASTS back onto the rows — the
    de-seasonalization preprocessing shape for any per-key trend
    removal at scale: one aggregation, one broadcast join, no
    iteration."""

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    m = base.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pos").cast("double").alias("sx"),
        F.sum(F.col("pos") * F.col("pos")).cast("double").alias("sxx"),
        F.sum("close").alias("sy"),
        F.sum(F.col("pos") * F.col("close")).alias("sxy"),
        F.sum(F.col("close") * F.col("close")).alias("syy"),
    )
    c = F.col
    slope = (c("n") * c("sxy") - c("sx") * c("sy")) / (
        c("n") * c("sxx") - c("sx") * c("sx")
    )
    fit = m.select(
        "symbol", "n", "sx", "sxx", "sy", "syy",
        slope.alias("slope"),
        ((c("sy") - slope * c("sx")) / c("n")).alias("intercept"),
    )
    sst = c("syy") - c("sy") * c("sy") / c("n")
    ssr = c("slope") * c("slope") * (c("sxx") - c("sx") * c("sx") / c("n"))
    return base.join(F.broadcast(fit), "symbol").select(
        "symbol",
        "pos",
        F.round(
            c("close") - (c("intercept") + c("slope") * c("pos")), 6
        ).alias("residual"),
        F.round("slope", 6).alias("slope"),
        F.round(
            F.when(sst == 0, F.lit(1.0)).otherwise(ssr / sst), 6
        ).alias("r2"),
    )


_SPC_SQL = """
WITH m AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(value), 6) AS s1, ROUND(SUM(value * value), 4) AS s2
  FROM events GROUP BY 1
),
lim AS (
  SELECT event_type, s1 / n AS mu,
         sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sigma
  FROM m
),
f AS (
  SELECT e.event_type, e.event_id, e.ts, e.value, l.mu, l.sigma,
         ABS(e.value - l.mu) > 3 * l.sigma AS rule1,
         CASE WHEN e.value > l.mu THEN 1
              WHEN e.value < l.mu THEN -1 ELSE 0 END AS side,
         CASE WHEN ABS(e.value - l.mu) > 2 * l.sigma THEN 1 ELSE 0 END AS b2
  FROM events e JOIN lim l ON l.event_type = e.event_type
),
runs AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY event_type, side
                              ORDER BY ts, event_id) AS grp
  FROM f
),
rl AS (
  SELECT *, COUNT(*) OVER (PARTITION BY event_type, side, grp) AS rl
  FROM runs
),
r3 AS (
  SELECT event_type, event_id, value, rule1,
         side <> 0 AND rl >= 8 AS rule2,
         SUM(b2) OVER (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2 AS rule3
  FROM rl
)
SELECT event_type, event_id, ROUND(value, 6) AS value, rule1, rule2, rule3
FROM r3 WHERE rule1 OR rule2 OR rule3
"""


@register("window_spc_control", _SPC_SQL)
def window_spc_control(spark, sf_dir):
    """Western Electric control-chart rules over each event type's
    value stream (time-ordered, event_id tiebreak): rule 1 = point
    beyond mu+-3sigma, rule 2 = point inside a run of 8+ on one side
    of mu (gaps-and-islands run grouping), rule 3 = 2-of-3 trailing
    points beyond 2sigma. Control limits come from 6dp/4dp-PINNED
    moment sums, so both engines compare every value against
    IDENTICAL limits and the booleans carry zero drift surface. On
    the sf0.01 stream the three rules fire at ~2%/~10%/~0.6% —
    each rule does independent selective work. Emits only flagged
    points (the alerting face); all windows partition by type."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("value"), 6).alias("s1"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("s2"),
    )
    c = F.col
    lim = m.select(
        "event_type",
        (c("s1") / c("n")).alias("mu"),
        F.sqrt(c("s2") / c("n") - (c("s1") / c("n")) * (c("s1") / c("n"))).alias(
            "sigma"
        ),
    )
    f = ev.join(F.broadcast(lim), "event_type").select(
        "event_type",
        "event_id",
        "ts",
        "value",
        (F.abs(c("value") - c("mu")) > 3 * c("sigma")).alias("rule1"),
        F.when(c("value") > c("mu"), 1)
        .when(c("value") < c("mu"), -1)
        .otherwise(0)
        .alias("side"),
        F.when(F.abs(c("value") - c("mu")) > 2 * c("sigma"), 1)
        .otherwise(0)
        .alias("b2"),
    )
    wall = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wside = Window.partitionBy("event_type", "side").orderBy("ts", "event_id")
    runs = f.withColumn(
        "grp", F.row_number().over(wall) - F.row_number().over(wside)
    )
    rl = runs.withColumn(
        "rl", F.count(F.lit(1)).over(Window.partitionBy("event_type", "side", "grp"))
    )
    w3 = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-2, 0)
    r3 = rl.select(
        "event_type",
        "event_id",
        "value",
        "rule1",
        ((c("side") != 0) & (c("rl") >= 8)).alias("rule2"),
        (F.sum("b2").over(w3) >= 2).alias("rule3"),
    )
    return r3.filter(c("rule1") | c("rule2") | c("rule3")).select(
        "event_type",
        "event_id",
        F.round("value", 6).alias("value"),
        "rule1",
        "rule2",
        "rule3",
    )


# ---------------------------------------------------------------------------
# SAX motif mining.
#
# Symbolic Aggregate approXimation (Lin, Keogh, Lonardi & Chiu 2003):
# slice each series into fixed-length windows, z-normalize the window,
# compress it to a few Piecewise-Aggregate-Approximation segment
# means, and map each mean to a letter through N(0,1) quantile
# breakpoints. Equal-shape windows get equal words regardless of their
# level and scale — the z-normalization buys amplitude/offset
# invariance — so motif discovery (recurring shapes) reduces to a word
# frequency count, and at 100 TB to one shuffle on (series, word).
#
# Alphabet 4 here: breakpoints are the standard-normal quartiles
# (-0.6745, 0, +0.6745), window 16 values, 4 PAA segments of 4.
# ---------------------------------------------------------------------------
_SAX_WIN = 16

_SAX_SEG = 4

_BP = 0.6745  # Phi^-1(0.75), standard-normal upper quartile


_SAX_SQL = f"""
WITH o AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY event_id) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_type
  FROM events),
f AS (SELECT event_type, value, rn FROM o
      WHERE rn < (n_type // {_SAX_WIN}) * {_SAX_WIN}),
seg AS (
  SELECT event_type, rn // {_SAX_WIN} AS win,
         (rn % {_SAX_WIN}) // {_SAX_SEG} AS seg,
         ROUND(SUM(value), 6) AS ssum
  FROM f GROUP BY 1, 2, 3),
wstat AS (
  SELECT event_type, rn // {_SAX_WIN} AS win,
         ROUND(SUM(value), 6) AS wsum,
         ROUND(SUM(value * value), 6) AS wsum2
  FROM f GROUP BY 1, 2),
lett AS (
  SELECT s.event_type, s.win, s.seg,
         CASE WHEN w.wsum2 / {_SAX_WIN} - (w.wsum / {_SAX_WIN})
                   * (w.wsum / {_SAX_WIN}) <= 0 THEN 'b'
              ELSE CASE
   WHEN (s.ssum / {_SAX_SEG} - w.wsum / {_SAX_WIN})
        / sqrt(w.wsum2 / {_SAX_WIN}
               - (w.wsum / {_SAX_WIN}) * (w.wsum / {_SAX_WIN}))
        < -{_BP} THEN 'a'
   WHEN (s.ssum / {_SAX_SEG} - w.wsum / {_SAX_WIN})
        / sqrt(w.wsum2 / {_SAX_WIN}
               - (w.wsum / {_SAX_WIN}) * (w.wsum / {_SAX_WIN}))
        < 0 THEN 'b'
   WHEN (s.ssum / {_SAX_SEG} - w.wsum / {_SAX_WIN})
        / sqrt(w.wsum2 / {_SAX_WIN}
               - (w.wsum / {_SAX_WIN}) * (w.wsum / {_SAX_WIN}))
        < {_BP} THEN 'c'
   ELSE 'd' END END AS letter
  FROM seg s JOIN wstat w USING (event_type, win)),
words AS (
  SELECT event_type, win,
         string_agg(letter, '' ORDER BY seg) AS word
  FROM lett GROUP BY 1, 2)
SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n_windows
FROM words GROUP BY 1, 2
"""


@register("window_sax_motifs", _SAX_SQL)
def window_sax_motifs(spark, sf_dir):
    """SAX motif census per event-type series: non-overlapping
    16-value windows in (event_id) order, z-normalized, PAA to 4
    segment means, quartile-lettered (a<b<c<d), counted by word.
    Identical shapes at different levels/scales collapse onto one
    word (pinned in tests/test_ext39.py with a synthetic series),
    which is what makes the census a motif report and not a value
    histogram.

    Cross-engine float policy: the only order-sensitive reductions
    are the window/segment SUMs — both are rounded to 6dp before any
    derived arithmetic, after which mean/std/normalize/compare are
    identical IEEE expressions on identical doubles; the letter
    comparisons are then deterministic on both engines. Constant
    windows (variance <= 0) pin to 'b' instead of dividing by zero.

    Scale shape: one row-number pass per series, two map-side
    combinable aggregates over the windowed rows ((type,win,seg) and
    (type,win) — a grouping-sets single-pass rewrite exists if the
    double scan ever matters), a 4-rows-per-window letter join, and
    a (type, word) count whose cardinality is bounded by 4^4 words
    per series regardless of data volume."""
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    wt = Window.partitionBy("event_type")
    o = ev.select(
        "event_type",
        "value",
        (F.row_number().over(wt.orderBy("event_id")) - 1).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n_type"),
    )
    f = o.filter(
        F.col("rn") < (F.col("n_type") / _SAX_WIN).cast("long") * _SAX_WIN
    )
    win = (F.col("rn") / _SAX_WIN).cast("long")
    segi = ((F.col("rn") % _SAX_WIN) / _SAX_SEG).cast("long")
    seg = f.groupBy(
        "event_type", win.alias("win"), segi.alias("seg")
    ).agg(F.round(F.sum("value"), 6).alias("ssum"))
    wstat = f.groupBy("event_type", win.alias("win")).agg(
        F.round(F.sum("value"), 6).alias("wsum"),
        F.round(F.sum(F.col("value") * F.col("value")), 6).alias("wsum2"),
    )
    mu = F.col("wsum") / _SAX_WIN
    var = F.col("wsum2") / _SAX_WIN - mu * mu
    norm = (F.col("ssum") / _SAX_SEG - mu) / F.sqrt(var)
    letter = F.when(var <= 0, F.lit("b")).otherwise(
        F.when(norm < -_BP, F.lit("a"))
        .when(norm < 0, F.lit("b"))
        .when(norm < _BP, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    lett = seg.join(wstat, ["event_type", "win"]).select(
        "event_type", "win", "seg", letter.alias("letter")
    )
    words = lett.groupBy("event_type", "win").agg(
        F.concat_ws(
            "", F.array_sort(F.collect_list(F.struct("seg", "letter"))).letter
        ).alias("word")
    )
    return words.groupBy("event_type", "word").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )


# ---------------------------------------------------------------------------
# Dynamic Time Warping distance.
#
# DTW (Sakoe & Chiba 1978) — the elastic distance between a series and
# a template that tolerates local time stretching: D(i,j) = |x_i - t_j|
# + min(D(i-1,j), D(i,j-1), D(i-1,j-1)). Spark has no warping-distance
# primitive, and the DP is inherently sequential per series — exactly
# the custom-stateful-operator case SURVEY §2 routes to applyInPandas
# (the EMA/Kalman/ADX precedent). The oracle is the repo's strongest
# recursion form yet: a recursive CTE that steps the DP CELL BY CELL
# in row-major order, carrying the growing current row and the
# completed previous row as DOUBLE[] state — 24x8 = 192 recursion
# steps per series, every add in the same order as the numpy loop, so
# the match is bit-level before the final rounding.
#
# Template and prefix length are pinned (8-point triangle wave, first
# 24 values per event type); template ordinates are exactly binary-
# representable (x.0 / x.5) so the decimal literals parse to identical
# doubles in both engines.
# ---------------------------------------------------------------------------
_DTW_N = 24

_TPL = [10.0, 12.5, 15.0, 12.5, 10.0, 7.5, 5.0, 7.5]

_J = len(_TPL)


_TPL_SQL = "[" + ", ".join(str(v) for v in _TPL) + "]::DOUBLE[]"


_DTW_SQL = f"""
WITH RECURSIVE
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM events),
series AS (
  SELECT event_type, list(value ORDER BY rn) AS xs
  FROM ranked WHERE rn <= {_DTW_N}
  GROUP BY 1 HAVING COUNT(*) = {_DTW_N}),
dtw AS (
  SELECT event_type, xs, 1 AS i, 1 AS j,
         [abs(xs[1] - ({_TPL_SQL})[1])] AS cur,
         CAST([] AS DOUBLE[]) AS prev
  FROM series
  UNION ALL
  SELECT event_type, xs, ni, nj,
         CASE WHEN nj = 1 THEN [nd] ELSE list_append(cur, nd) END AS cur,
         CASE WHEN nj = 1 THEN cur ELSE prev END AS prev
  FROM (
    SELECT event_type, xs, ni, nj, cur, prev,
           abs(xs[ni] - ({_TPL_SQL})[nj])
           + CASE WHEN ni = 1 THEN cur[nj - 1]
                  WHEN nj = 1 THEN cur[1]
                  ELSE least(prev[nj], prev[nj - 1], cur[nj - 1])
             END AS nd
    FROM (
      SELECT event_type, xs, cur, prev, i, j,
             CASE WHEN j = {_J} THEN i + 1 ELSE i END AS ni,
             CASE WHEN j = {_J} THEN 1 ELSE j + 1 END AS nj
      FROM dtw WHERE NOT (i = {_DTW_N} AND j = {_J})
    )
  )
)
SELECT event_type, CAST({_DTW_N} AS BIGINT) AS n_used,
       ROUND(cur[{_J}], 6) AS dtw
FROM dtw WHERE i = {_DTW_N} AND j = {_J}
"""


@register("window_dtw", _DTW_SQL)
def window_dtw(spark, sf_dir):
    """DTW distance from each event-type's first 24 values (event_id
    order) to the pinned 8-point triangle template. One shuffle on
    event_type, then a per-group numpy DP inside applyInPandas —
    O(N*J) per series, no state wider than two DP rows. The DP loop
    adds |x_i - t_j| to a 3-way min in row-major order, the exact
    op-for-op schedule of the oracle's cell-stepping recursive CTE.

    Scale shape: series parallelism. A 100 TB deployment warps
    millions of (series, template) pairs; each is an independent
    group, the template is a broadcast-literal, and the per-group
    memory is 2 DP rows — the same layout as the EMA/Kalman
    recursions. For long series the Sakoe-Chiba band (restrict
    |i*J/N - j| <= w) drops the per-pair cost to O(N*w) inside the
    same UDF without touching the plan."""
    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    tpl = np.array(_TPL)

    def dtw_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id").head(_DTW_N)
        if len(pdf) < _DTW_N:
            return pd.DataFrame(
                {"event_type": [], "n_used": [], "dtw": []}
            ).astype({"event_type": str, "n_used": "int64", "dtw": float})
        xs = pdf["value"].to_numpy()
        prev = None
        for i in range(_DTW_N):
            cur = []
            for j in range(_J):
                c = abs(xs[i] - tpl[j])
                if i == 0 and j == 0:
                    d = c
                elif i == 0:
                    d = c + cur[j - 1]
                elif j == 0:
                    d = c + prev[0]
                else:
                    d = c + min(prev[j], prev[j - 1], cur[j - 1])
                cur.append(d)
            prev = cur
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_used": [_DTW_N],
                "dtw": [prev[-1]],
            }
        )

    res = ev.groupBy("event_type").applyInPandas(
        dtw_group, schema="event_type string, n_used long, dtw double"
    )
    return res.select(
        "event_type", "n_used", F.round("dtw", 6).alias("dtw")
    )


# ---------------------------------------------------------------------------
# LTTB downsampling.
#
# Largest-Triangle-Three-Buckets (Steinarsson 2013) — the standard
# visual downsampler: keep the first and last points, split the
# interior into equal buckets, and from each bucket keep the point
# forming the largest triangle with the PREVIOUSLY KEPT point and the
# NEXT bucket's centroid. The previous-point dependence makes the
# selection sequential — applyInPandas territory — and the oracle
# steps it as a recursive CTE whose per-step argmax is an ANTI-JOIN
# ("no candidate in this bucket beats me"), because SQL recursion
# forbids aggregates in the recursive term.
#
# Geometry pinned to exact inputs: x is the integer position, bucket
# centroids round their y-sum at 6dp, and the triangle area
# |(ax-cx)(by-ay) - (ax-bx)(cy-ay)| is evaluated with identical
# parenthesization on both faces, so argmax decisions are identical
# doubles deciding identical comparisons.
# ---------------------------------------------------------------------------
_LTTB_N = 302  # points used per series: first + 300 interior + last

_BK = 10  # bucket width

_NB = 30  # interior buckets


_LTTB_SQL = f"""
WITH RECURSIVE
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS pos
  FROM events),
pts AS (
  SELECT event_type, pos, value FROM ranked WHERE pos <= {_LTTB_N}
    AND event_type IN (SELECT event_type FROM ranked
                       GROUP BY 1 HAVING COUNT(*) >= {_LTTB_N})),
cent AS (
  SELECT event_type, (pos - 2) // {_BK} + 1 AS b,
         AVG(pos) AS cx0, ROUND(SUM(value), 6) / {_BK} AS cy0
  FROM pts WHERE pos BETWEEN 2 AND {_LTTB_N - 1}
  GROUP BY 1, 2),
cand AS (
  SELECT p.event_type, (p.pos - 2) // {_BK} + 1 AS b, p.pos AS x, p.value AS y,
         CASE WHEN (p.pos - 2) // {_BK} + 1 = {_NB}
              THEN {_LTTB_N} ELSE c.cx0 END AS cx,
         CASE WHEN (p.pos - 2) // {_BK} + 1 = {_NB}
              THEN (SELECT l.value FROM pts l
                    WHERE l.event_type = p.event_type AND l.pos = {_LTTB_N})
              ELSE c.cy0 END AS cy
  FROM pts p LEFT JOIN cent c
    ON c.event_type = p.event_type AND c.b = (p.pos - 2) // {_BK} + 2
  WHERE p.pos BETWEEN 2 AND {_LTTB_N - 1}),
r AS (
  SELECT event_type, 0 AS k, 1 AS x, value AS y
  FROM pts WHERE pos = 1
  UNION ALL
  SELECT r.event_type, r.k + 1, c1.x, c1.y
  FROM r
  JOIN cand c1 ON c1.event_type = r.event_type AND c1.b = r.k + 1
  LEFT JOIN cand c2 ON c2.event_type = c1.event_type AND c2.b = c1.b
    AND (abs((r.x - c2.cx) * (c2.y - r.y) - (r.x - c2.x) * (c2.cy - r.y))
         > abs((r.x - c1.cx) * (c1.y - r.y) - (r.x - c1.x) * (c1.cy - r.y))
      OR (abs((r.x - c2.cx) * (c2.y - r.y) - (r.x - c2.x) * (c2.cy - r.y))
          = abs((r.x - c1.cx) * (c1.y - r.y) - (r.x - c1.x) * (c1.cy - r.y))
          AND c2.x < c1.x))
  WHERE c2.x IS NULL AND r.k < {_NB})
SELECT event_type, CAST(x AS BIGINT) AS pos, y AS value FROM r
UNION ALL
SELECT event_type, CAST(pos AS BIGINT) AS pos, value FROM pts
WHERE pos = {_LTTB_N}
"""


@register("window_lttb", _LTTB_SQL)
def window_lttb(spark, sf_dir):
    """LTTB downsample of each event-type series: first 302 points
    (event_id order) reduced to 32 — endpoints plus the
    max-triangle point of each of 30 ten-point buckets. Selection
    runs left to right because each bucket's triangle is anchored on
    the previous SELECTION, not the previous bucket — shape
    preservation (spikes survive, plateaus compress) is pinned in
    tests/test_ext52.py against an independent reimplementation and
    a constructed spike series.

    Scale shape: one shuffle on the series key, then a per-group
    numpy loop over the bucket sequence — O(points) per series, two
    scalars of carried state. Dashboards downsample millions of
    series; each is an independent group, the classic applyInPandas
    fan-out (EMA/Kalman/DTW family)."""
    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id").head(_LTTB_N)
        if len(pdf) < _LTTB_N:
            return pd.DataFrame({"event_type": [], "pos": [], "value": []}).astype(
                {"event_type": str, "pos": "int64", "value": float}
            )
        y = pdf["value"].to_numpy()
        t = pdf["event_type"].iloc[0]
        out_pos, out_val = [1], [y[0]]
        px, py = 1.0, y[0]
        for b in range(1, _NB + 1):
            lo = 2 + (b - 1) * _BK  # 1-based positions lo..lo+9
            if b < _NB:
                nlo = lo + _BK
                cx = float(np.mean(np.arange(nlo, nlo + _BK)))
                cy = round(float(np.sum(y[nlo - 1 : nlo - 1 + _BK])), 6) / _BK
            else:
                cx, cy = float(_LTTB_N), y[_LTTB_N - 1]
            best, bx, by = -1.0, None, None
            for x in range(lo, lo + _BK):
                yy = y[x - 1]
                area = abs((px - cx) * (yy - py) - (px - x) * (cy - py))
                if area > best:
                    best, bx, by = area, x, yy
            out_pos.append(bx)
            out_val.append(by)
            px, py = float(bx), by
        out_pos.append(_LTTB_N)
        out_val.append(y[_LTTB_N - 1])
        return pd.DataFrame(
            {"event_type": t, "pos": out_pos, "value": out_val}
        )

    return ev.groupBy("event_type").applyInPandas(
        lttb, schema="event_type string, pos long, value double"
    )


# ---------------------------------------------------------------------------
# Holt-Winters seasonal smoothing.
#
# The third member of the exponential family (EMA -> Holt -> Holt-
# Winters; Winters 1960): level + trend + a 12-slot additive seasonal
# state, the workhorse for monthly business series. The recursion
# carries a season RING — s_{t-12} is consumed and s_t pushed each
# step — so the oracle's recursive CTE carries a DOUBLE[12] list (the
# window_dtw list-state technique applied to forecasting), while the
# Spark face is the applyInPandas-per-series loop of the Holt/Kalman
# family.
#
# Float policy: the monthly inputs are ROUND(SUM, 2)-exact decimals
# (2dp source data — the orders_holt_forecast argument); the three
# initialization statistics (first-year mean level, year-over-year
# trend, initial seasonals) are rounded ENGINE-SIDE at 6dp and fed to
# the recursion as columns, so no Python rounding (banker's) ever
# touches the chain; after initialization both faces run the identical
# IEEE sequence and round once at the output.
# ---------------------------------------------------------------------------
_AL, _BE, _GA = 0.3, 0.1, 0.2

_M = 12


_HW_SQL = f"""
WITH RECURSIVE rev AS (
  SELECT r.r_name AS region,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS ym,
         ROUND(SUM(o.o_totalprice), 2) AS z
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2),
base AS (
  SELECT region, ym, z,
         row_number() OVER (PARTITION BY region ORDER BY ym) AS pos
  FROM rev),
init AS (
  SELECT region,
         ROUND(SUM(CASE WHEN pos <= {_M} THEN z END) / {_M}, 6) AS l0,
         ROUND((SUM(CASE WHEN pos BETWEEN {_M + 1} AND {2 * _M} THEN z END)
                - SUM(CASE WHEN pos <= {_M} THEN z END))
               / {_M * _M}, 6) AS b0
  FROM base WHERE pos <= {2 * _M} GROUP BY 1),
seas AS (
  SELECT b.region,
         list(ROUND(b.z - i.l0, 6) ORDER BY b.pos) AS sl
  FROM base b JOIN init i USING (region) WHERE b.pos <= {_M}
  GROUP BY 1),
r AS (
  SELECT i.region, {_M} AS pos, CAST(NULL AS BIGINT) AS ym,
         CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS fitted,
         i.l0 AS l, i.b0 AS b, s.sl AS sl,
         CAST(NULL AS DOUBLE) AS snew
  FROM init i JOIN seas s USING (region)
  UNION ALL
  SELECT region, pos, ym, z, fitted, lnew AS l,
         {_BE} * (lnew - l) + {1 - _BE} * b AS b,
         list_append(sl[2:{_M}], {_GA} * (z - lnew) + {1 - _GA} * sl[1]) AS sl,
         {_GA} * (z - lnew) + {1 - _GA} * sl[1] AS snew
  FROM (
    SELECT r.region, t.pos, t.ym, t.z,
           r.l + r.b + r.sl[1] AS fitted,
           {_AL} * (t.z - r.sl[1]) + {1 - _AL} * (r.l + r.b) AS lnew,
           r.l, r.b, r.sl
    FROM r JOIN base t ON t.region = r.region AND t.pos = r.pos + 1))
SELECT region, CAST(ym AS BIGINT) AS ym, z,
       ROUND(fitted, 6) AS fitted, ROUND(l, 6) AS level,
       ROUND(b, 6) AS trend, ROUND(snew, 6) AS season
FROM r WHERE pos > {_M}
"""


@register("window_holt_winters", _HW_SQL)
def window_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (alpha .3, beta .1, gamma .2, season 12)
    over per-region monthly revenue: l0 = first-year mean, b0 =
    year-over-year monthly trend, s_i = first-year deviations; from
    month 13 on, each step consumes s_{t-12}, emits the one-step-
    ahead fitted value l+b+s_{t-12} (made BEFORE seeing z_t — the
    honest backtest convention of orders_forecast_eval), and pushes
    the refreshed seasonal. Seasonal recovery on a constructed
    sinusoid and fitted-error superiority over seasonless Holt are
    pinned in tests/test_ext53.py.

    Scale shape: one fact-table aggregate (broadcast dim joins),
    then applyInPandas over region series — thousands of series at
    production scale, constant state per series (2 scalars + a
    12-ring). The oracle carries the same ring as DOUBLE[12] through
    the recursive CTE."""
    import pandas as pd

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
        )
        .groupBy(
            F.col("r_name").alias("region"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("z"))
        # ~400 rows (5 regions x ~80 months); checkpointing stops the
        # init/seasonal/series consumers from re-expanding the fact
        # join three times (plan-audit catch: 8 scans -> 1)
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("region").orderBy("ym")
    base = rev.withColumn("pos", F.row_number().over(w))
    init = (
        base.filter(F.col("pos") <= 2 * _M)
        .groupBy("region")
        .agg(
            F.round(
                F.sum(F.when(F.col("pos") <= _M, F.col("z"))) / _M, 6
            ).alias("l0"),
            F.round(
                (
                    F.sum(
                        F.when(F.col("pos").between(_M + 1, 2 * _M), F.col("z"))
                    )
                    - F.sum(F.when(F.col("pos") <= _M, F.col("z")))
                )
                / (_M * _M),
                6,
            ).alias("b0"),
        )
    )
    df = base.join(F.broadcast(init), "region").withColumn(
        "s_init",
        F.when(F.col("pos") <= _M, F.round(F.col("z") - F.col("l0"), 6)),
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        z = pdf["z"].to_numpy()
        sl = list(pdf["s_init"].to_numpy()[:_M])
        l, b = pdf["l0"].iloc[0], pdf["b0"].iloc[0]
        out = []
        for t in range(_M, len(z)):
            fitted = l + b + sl[0]
            lnew = _AL * (z[t] - sl[0]) + (1 - _AL) * (l + b)
            bnew = _BE * (lnew - l) + (1 - _BE) * b
            snew = _GA * (z[t] - lnew) + (1 - _GA) * sl[0]
            sl = sl[1:] + [snew]
            l, b = lnew, bnew
            out.append(
                (
                    pdf["region"].iloc[0],
                    int(pdf["ym"].iloc[t]),
                    z[t],
                    fitted,
                    l,
                    b,
                    snew,
                )
            )
        return pd.DataFrame(
            out,
            columns=["region", "ym", "z", "fitted", "l", "b", "snew"],
        )

    res = df.groupBy("region").applyInPandas(
        hw,
        schema=(
            "region string, ym long, z double, fitted double,"
            " l double, b double, snew double"
        ),
    )
    return res.select(
        "region",
        "ym",
        "z",
        F.round("fitted", 6).alias("fitted"),
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
        F.round("snew", 6).alias("season"),
    )


# ---------------------------------------------------------------------------
# Changepoint localization.
#
# window_cusum scores WHETHER a series drifted; binary segmentation
# (Scott & Knott 1974, the recursion inside every changepoint library)
# says WHERE: the split t maximizing the two-segment SSE reduction.
# The textbook O(n^2) scan collapses to one prefix-sum pass via the
# decomposition
#
#   gain(t) = S_t^2/t + (S_n - S_t)^2/(n - t) - S_n^2/n
#
# (S = prefix sums), so every candidate split is scored from the
# running sum at that row — the same one-window-pass shape as
# window_cusum, and at 100 TB one shuffle on the series key. Running
# sums accumulate in frame order on both engines (the window_cusum
# precedent), so gains are identical doubles; the argmax compares them
# 6dp-rounded with a position tie-break.
# ---------------------------------------------------------------------------
_CPD_SQL = """
WITH s AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS t
  FROM events),
p AS (
  SELECT event_type, t,
         SUM(value) OVER (PARTITION BY event_type ORDER BY t) AS st,
         SUM(value) OVER (PARTITION BY event_type) AS sn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM s),
g AS (
  SELECT event_type, t, n, st, sn,
         ROUND(st * st / t + (sn - st) * (sn - st) / (n - t)
               - sn * sn / n, 6) AS gain
  FROM p WHERE t < n),
r AS (
  SELECT event_type, t, n, st, sn, gain,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gain DESC, t) AS rnk
  FROM g)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS t_star,
       gain,
       ROUND(st / t, 6) AS mean_left,
       ROUND((sn - st) / (n - t), 6) AS mean_right
FROM r WHERE rnk = 1
"""


@register("window_changepoint", _CPD_SQL)
def window_changepoint(spark, sf_dir):
    """Strongest mean-shift split per event-type series ((ts,
    event_id) order): the SSE-reduction argmax over all n-1 candidate
    splits, scored from one running sum. Equivalence to the explicit
    two-segment SSE scan, and exact localization on a constructed
    step series (gain peaks AT the step, reduction equals the
    closed-form n_l*n_r/n*(mu_l-mu_r)^2), are pinned in
    tests/test_ext65.py. One level of the binary-segmentation
    recursion — deeper changepoints re-run the same operator on the
    two halves, each again one pass."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wt = Window.partitionBy("event_type").orderBy("t")
    wall = Window.partitionBy("event_type")
    s = ev.select(
        "event_type", "value", F.row_number().over(wo).alias("t")
    )
    p = s.select(
        "event_type",
        "t",
        F.sum("value").over(wt).alias("st"),
        F.sum("value").over(wall).alias("sn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    gain = F.round(
        F.col("st") * F.col("st") / F.col("t")
        + (F.col("sn") - F.col("st"))
        * (F.col("sn") - F.col("st"))
        / (F.col("n") - F.col("t"))
        - F.col("sn") * F.col("sn") / F.col("n"),
        6,
    )
    g = p.filter(F.col("t") < F.col("n")).select(
        "event_type", "t", "n", "st", "sn", gain.alias("gain")
    )
    r = g.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("gain").desc(), "t"
            )
        ),
    )
    return r.filter(F.col("rnk") == 1).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("t_star"),
        "gain",
        F.round(F.col("st") / F.col("t"), 6).alias("mean_left"),
        F.round((F.col("sn") - F.col("st")) / (F.col("n") - F.col("t")), 6).alias(
            "mean_right"
        ),
    )


# ---------------------------------------------------------------------------
# AR(1) mean-reversion half-life.
#
# The quant's first question about a series: does it revert, and how
# fast? Fit v_t = a + b*v_{t-1} (one centered-moments OLS per series);
# for 0 < b < 1 the deviation from equilibrium decays like b^k, so the
# half-life is -ln(2)/ln(b) observations — the number pairs-trading
# and inventory-policy models consume directly. b >= 1 (no reversion)
# or b <= 0 (oscillation) yield a NULL half-life rather than a
# misleading number.
# ---------------------------------------------------------------------------
_AR1_SQL = """
WITH s AS (
  SELECT event_type, value,
         LAG(value) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS v1
  FROM events),
d AS (SELECT event_type, value AS v, v1 FROM s WHERE v1 IS NOT NULL),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(v), 6) AS sv, ROUND(SUM(v1), 6) AS sv1,
         ROUND(SUM(v * v1), 6) AS svv1,
         ROUND(SUM(v1 * v1), 6) AS sv1v1
  FROM d GROUP BY 1),
b AS (
  SELECT event_type, n,
         (svv1 - sv * sv1 / n) / (sv1v1 - sv1 * sv1 / n) AS beta
  FROM m)
SELECT event_type, n, ROUND(beta, 6) AS beta,
       CASE WHEN beta > 0 AND beta < 1
            THEN ROUND(-ln(2) / ln(beta), 6) END AS half_life
FROM b
"""


@register("window_ar1_halflife", _AR1_SQL)
def window_ar1_halflife(spark, sf_dir):
    """Per-event-type AR(1) coefficient and mean-reversion half-life
    from centered 6dp-rounded moments ((ts, event_id) order for the
    lag). The estimator and the decay semantics — a synthetic AR(1)
    with known b recovers it, and its deviations really do halve
    every -ln2/ln(b) steps — are pinned in tests/test_ext67.py.

    Scale shape: one lag window per series plus one five-sum
    aggregate — the stats_granger layout without the second model;
    millions of series are just more groups."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        F.col("value").alias("v"),
        F.lag("value").over(w).alias("v1"),
    ).filter(F.col("v1").isNotNull())
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("v"), 6).alias("sv"),
        F.round(F.sum("v1"), 6).alias("sv1"),
        F.round(F.sum(F.col("v") * F.col("v1")), 6).alias("svv1"),
        F.round(F.sum(F.col("v1") * F.col("v1")), 6).alias("sv1v1"),
    )
    beta = (F.col("svv1") - F.col("sv") * F.col("sv1") / F.col("n")) / (
        F.col("sv1v1") - F.col("sv1") * F.col("sv1") / F.col("n")
    )
    b = m.select("event_type", "n", beta.alias("beta"))
    return b.select(
        "event_type",
        "n",
        F.round("beta", 6).alias("beta"),
        F.when(
            (F.col("beta") > 0) & (F.col("beta") < 1),
            F.round(-F.log(F.lit(2.0)) / F.log("beta"), 6),
        ).alias("half_life"),
    )


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test.
#
# window_acf reports the autocorrelations; the Ljung-Box Q statistic
# (Ljung & Box 1978) answers the question they raise — "is this series
# white noise?" — by pooling the first h lags:
#
#   Q = n (n + 2) * sum_{k=1..h} rho_k^2 / (n - k)  ~  chi2(h) under H0.
#
# The residual-whiteness check every fitted forecast model
# (orders_holt_forecast, window_holt_winters, window_ar1_halflife)
# owes its user. h = 3 here; the 5% chi2(3) fence 7.814728 is a
# literal, so no distribution function runs in-engine.
# ---------------------------------------------------------------------------
_CHI2_3_95 = 7.814728  # chi2(3) 0.95 quantile, literal


_LB_SQL = f"""
WITH s AS (
  SELECT event_type, value,
         LAG(value, 1) OVER w AS l1,
         LAG(value, 2) OVER w AS l2,
         LAG(value, 3) OVER w AS l3,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
r AS (
  SELECT event_type, MAX(n) AS n,
         ROUND(corr(value, l1), 6) AS rho1,
         ROUND(corr(value, l2), 6) AS rho2,
         ROUND(corr(value, l3), 6) AS rho3
  FROM s GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n, rho1, rho2, rho3,
       ROUND(n * (n + 2.0)
             * (rho1 * rho1 / (n - 1) + rho2 * rho2 / (n - 2)
                + rho3 * rho3 / (n - 3)), 6) AS q_stat,
       n * (n + 2.0)
         * (rho1 * rho1 / (n - 1) + rho2 * rho2 / (n - 2)
            + rho3 * rho3 / (n - 3)) > {_CHI2_3_95!r} AS reject_white_noise
FROM r
"""


@register("window_ljung_box", _LB_SQL)
def window_ljung_box(spark, sf_dir):
    """Ljung-Box Q (h=3) per event-type series in (ts, event_id)
    order: lag correlations rounded at 6dp BEFORE pooling (the only
    cross-engine-ordered reduction is inside corr), then the Q
    closed form and the literal chi2 fence. Pinned against a numpy
    reimplementation plus behavioral checks in tests/test_ext80.py:
    white noise passes, an AR(1) series is rejected decisively, and
    Q grows with |rho| monotonically.

    Scale shape: one window pass for the three lag columns (single
    shuffle on the series key), one corr aggregate per lag —
    map-side-combinable moment sums — and scalar arithmetic; the
    same plan at any series count."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    r = s.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.round(F.corr("value", "l1"), 6).alias("rho1"),
        F.round(F.corr("value", "l2"), 6).alias("rho2"),
        F.round(F.corr("value", "l3"), 6).alias("rho3"),
    )
    q = (
        F.col("n")
        * (F.col("n") + 2.0)
        * (
            F.col("rho1") * F.col("rho1") / (F.col("n") - 1)
            + F.col("rho2") * F.col("rho2") / (F.col("n") - 2)
            + F.col("rho3") * F.col("rho3") / (F.col("n") - 3)
        )
    )
    return r.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "rho1",
        "rho2",
        "rho3",
        F.round(q, 6).alias("q_stat"),
        (q > _CHI2_3_95).alias("reject_white_noise"),
    )


# ---------------------------------------------------------------------------
# window_distance_profile — the matrix-profile PRIMITIVE: the
# z-normalized Euclidean distance between every length-w subsequence
# of a series and one fixed query subsequence (a "distance profile",
# the inner kernel MASS/STOMP iterate). Motif/anomaly mining over
# sensor- or price-series reduces to arg-min/arg-max over this row.
# ---------------------------------------------------------------------------
_DP_W = 8


_DP_SQL = f"""
WITH s AS (
  SELECT row_id // {RAMP_SERIES_LEN} AS symbol, row_id % {RAMP_SERIES_LEN} AS pos,
         close + (row_id % 7) AS x
  FROM ({RAMP_SQL})
),
arr AS (
  SELECT symbol, pos,
         list(x) OVER (PARTITION BY symbol ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {_DP_W - 1} FOLLOWING) AS a
  FROM s
),
w AS (SELECT symbol, pos, a FROM arr WHERE len(a) = {_DP_W}),
q AS (SELECT symbol, a AS qa FROM w WHERE pos = 0),
d AS (
  SELECT w.symbol, w.pos,
         list_sum(w.a) AS sx,
         list_sum(list_transform(w.a, v -> v * v)) AS sxx,
         list_sum(q.qa) AS sq,
         list_sum(list_transform(q.qa, v -> v * v)) AS sqq,
         list_dot_product(w.a, q.qa) AS dot
  FROM w JOIN q ON q.symbol = w.symbol
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(CASE
         WHEN (sxx - sx * sx / {_DP_W}) <= 0 OR (sqq - sq * sq / {_DP_W}) <= 0
         THEN NULL
         ELSE sqrt(greatest(
           2.0 * {_DP_W} * (1.0 - (dot - sx * sq / {_DP_W})
             / sqrt((sxx - sx * sx / {_DP_W}) * (sqq - sq * sq / {_DP_W}))),
           0.0))
       END, 6) AS dist
FROM d
"""


@register("window_distance_profile", _DP_SQL)
def window_distance_profile(spark, sf_dir):
    """Distance profile (z-normalized, w = 8) of every subsequence of
    each series against that series' FIRST window — the matrix-
    profile inner kernel. The series is the reference ramp with a
    co-prime period-7 perturbation (18·7 = 126-row true period), so
    the profile has exact zeros precisely where the mixed phase
    realigns, nontrivial values elsewhere — known geometry, pinned
    in tests.

    Cross-engine exactness: the series is INTEGER-valued, so every
    window sum / sum-of-squares / dot product is exact regardless of
    either engine's summation association (Spark's sequential
    aggregate fold vs DuckDB's segment tree — the usual float-drift
    channel is closed by integrality); the remaining chain is
    identical scalar IEEE ops. Zero-variance windows surface as NULL
    in both engines rather than a div-by-zero artifact.

    Scale shape: one window pass builds the length-w frames
    (collect_list over a bounded ROWS frame, per-symbol — the
    entity-bounded window the r12 skew policy keeps), the per-symbol
    query rows broadcast, and all arithmetic is JVM higher-order
    functions over 8-element arrays — no Python, no corpus-keyed
    shuffle; parallelism = series count, the time-series layout."""
    from pyspark.sql import Window as _W

    s = stocks_ramp(spark, cycles=RAMP_CYCLES).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        (F.col("close") + (F.col("row_id") % 7)).alias("x"),
    )
    frame = _W.partitionBy("symbol").orderBy("pos").rowsBetween(0, _DP_W - 1)
    arr = s.select(
        "symbol", "pos", F.collect_list("x").over(frame).alias("a")
    ).filter(F.size("a") == _DP_W)
    q = arr.filter(F.col("pos") == 0).select(
        "symbol", F.col("a").alias("qa")
    )
    j = arr.join(F.broadcast(q), "symbol")
    ssum = lambda c: F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v)  # noqa: E731
    sx = ssum(F.col("a"))
    sxx = ssum(F.transform(F.col("a"), lambda v: v * v))
    sq = ssum(F.col("qa"))
    sqq = ssum(F.transform(F.col("qa"), lambda v: v * v))
    dot = ssum(F.zip_with(F.col("a"), F.col("qa"), lambda a, b: a * b))
    w = float(_DP_W)
    varx = sxx - sx * sx / w
    varq = sqq - sq * sq / w
    num = dot - sx * sq / w
    dist = F.when(
        (varx <= 0) | (varq <= 0), F.lit(None).cast("double")
    ).otherwise(
        F.sqrt(
            F.greatest(
                2.0 * w * (1.0 - num / F.sqrt(varx * varq)), F.lit(0.0)
            )
        )
    )
    return j.select("symbol", "pos", F.round(dist, 6).alias("dist"))


# ---------------------------------------------------------------------------
# window_savitzky_golay — 5-point quadratic SG smoothing per series
# ---------------------------------------------------------------------------

# Classic 5-point quadratic/cubic Savitzky-Golay convolution weights
# (Savitzky & Golay 1964, table I): (-3, 12, 17, 12, -3) / 35.
_SG_SQL = """
SELECT event_id, user_id,
       (-3 * l2 + 12 * l1 + 17 * value + 12 * f1 - 3 * f2) / 35 AS sg
FROM (
  SELECT event_id, user_id, value,
         LAG(value, 2)  OVER w AS l2,
         LAG(value, 1)  OVER w AS l1,
         LEAD(value, 1) OVER w AS f1,
         LEAD(value, 2) OVER w AS f2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
WHERE l2 IS NOT NULL AND l1 IS NOT NULL
  AND f1 IS NOT NULL AND f2 IS NOT NULL
"""


@register("window_savitzky_golay", _SG_SQL)
def window_savitzky_golay(spark, sf_dir):
    """5-point quadratic Savitzky-Golay smoothing of each user's
    value series: the least-squares polynomial filter that preserves
    2nd/3rd-degree moments where a moving average flattens them
    (window_moving_avg is the degree-0 special case). Interior rows
    only — the standard treatment that avoids asymmetric edge
    weights.

    The convolution is one window pass (two lags + two leads over
    the same frame spec → a single sort within one shuffle by
    user_id), then a per-row dot product with constant weights,
    written in the identical IEEE order on both engines so the
    comparison is EXACT — no rounding needed. Scale shape: one
    hash-partition shuffle on the series key, per-partition sort,
    O(1) state per row; at 100 TB the frame never spills because the
    window is rows-bounded (±2)."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    d = t.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 1).over(w).alias("l1"),
        F.lead("value", 1).over(w).alias("f1"),
        F.lead("value", 2).over(w).alias("f2"),
    )
    full = (
        F.col("l2").isNotNull()
        & F.col("l1").isNotNull()
        & F.col("f1").isNotNull()
        & F.col("f2").isNotNull()
    )
    sg = (
        -3 * F.col("l2")
        + 12 * F.col("l1")
        + 17 * F.col("value")
        + 12 * F.col("f1")
        - 3 * F.col("f2")
    ) / 35
    return d.filter(full).select("event_id", "user_id", sg.alias("sg"))


# ---------------------------------------------------------------------------
# window_pacf — partial autocorrelation, lags 1..3, Durbin-Levinson
# ---------------------------------------------------------------------------

_PACF_SQL = """
WITH l AS (
  SELECT user_id, value,
         LAG(value, 1) OVER w AS l1,
         LAG(value, 2) OVER w AS l2,
         LAG(value, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
a AS (
  SELECT user_id, corr(value, l1) AS a1, corr(value, l2) AS a2,
         corr(value, l3) AS a3
  FROM l GROUP BY user_id),
p2 AS (
  SELECT user_id, a1, a2, a3,
         (a2 - a1 * a1) / (1 - a1 * a1) AS phi22
  FROM a),
p3 AS (
  SELECT user_id, a1, a2, a3, phi22,
         a1 - phi22 * a1 AS phi21
  FROM p2)
SELECT user_id, lag, ROUND(pacf, 6) AS pacf
FROM (SELECT user_id, 1::BIGINT AS lag, a1 AS pacf FROM p3
      UNION ALL SELECT user_id, 2, phi22 FROM p3
      UNION ALL SELECT user_id, 3,
        (a3 - phi21 * a2 - phi22 * a1)
          / (1 - phi21 * a1 - phi22 * a2) FROM p3)
"""


@register("window_pacf", _PACF_SQL)
def window_pacf(spark, sf_dir):
    """Partial autocorrelation of each user's value series at lags
    1-3 via the Durbin-Levinson recursion over the overlap-pairs ACF
    (window_acf's estimator): phi_11 = r1; phi_22 =
    (r2 - r1^2)/(1 - r1^2); phi_33 closes the recursion with
    phi_21 = phi_11 - phi_22*phi_11. PACF is the AR-order
    identification tool (cuts off at the true AR order) where the
    ACF identifies MA order — together they are the Box-Jenkins
    pair.

    Same physical shape as window_acf: one windowed shuffle builds
    all three lag columns, one groupBy computes the three
    correlations, and the recursion is per-GROUP scalar arithmetic
    written in the same order on both engines (corr drift ~1e-15 vs
    the 5e-7 round boundary)."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    l = t.select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
    )
    a = l.groupBy("user_id").agg(
        F.corr("value", "l1").alias("a1"),
        F.corr("value", "l2").alias("a2"),
        F.corr("value", "l3").alias("a3"),
    )
    phi22 = (F.col("a2") - F.col("a1") * F.col("a1")) / (
        1 - F.col("a1") * F.col("a1")
    )
    p = a.withColumn("phi22", phi22).withColumn(
        "phi21", F.col("a1") - F.col("phi22") * F.col("a1")
    )
    phi33 = (
        F.col("a3") - F.col("phi21") * F.col("a2") - F.col("phi22") * F.col("a1")
    ) / (1 - F.col("phi21") * F.col("a1") - F.col("phi22") * F.col("a2"))
    p = p.withColumn("phi33", phi33)
    return p.selectExpr(
        "user_id",
        "stack(3, CAST(1 AS BIGINT), a1, CAST(2 AS BIGINT), phi22,"
        " CAST(3 AS BIGINT), phi33) AS (lag, pacf)",
    ).select("user_id", "lag", F.round("pacf", 6).alias("pacf"))


_TWO_PI = 6.283185307179586

_DAY_MS = 86400000.0


# ---------------------------------------------------------------------------
# window_circular_stats — time-of-day as an angle
# ---------------------------------------------------------------------------

_CIRC_SQL = f"""
WITH a AS (
  SELECT event_type,
         {_TWO_PI} * (CAST(epoch_ms(ts) % 86400000 AS DOUBLE) / {_DAY_MS})
           AS theta
  FROM events),
s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(cos(theta)) AS c, SUM(sin(theta)) AS s
      FROM a GROUP BY 1)
SELECT event_type, n,
       ROUND(sqrt(c * c + s * s) / n, 6) AS r_bar,
       ROUND(1 - sqrt(c * c + s * s) / n, 6) AS circ_var,
       ROUND(fmod(atan2(s, c) + {_TWO_PI}, {_TWO_PI}) * 24 / {_TWO_PI}, 6)
         AS mean_hour
FROM s
"""


@register("window_circular_stats", _CIRC_SQL)
def window_circular_stats(spark, sf_dir):
    """Circular statistics of event time-of-day per event type
    (Fisher 1993): each timestamp becomes an angle θ = 2π·(ms of
    day)/day, the mean direction is atan2(Σsin, Σcos) mapped back to
    hours, and the resultant length R̄ = |Σe^{{iθ}}|/n measures
    concentration (circular variance = 1 − R̄). The arithmetic mean
    of hours is WRONG at the midnight wrap — this is the statistic
    that isn't.

    Shape: one map-side trig pass, one per-type aggregate of two
    sums — the minimal two-accumulator reduction; trig is per-row
    identical on both engines and the sums round at 6dp."""
    a = _t(spark, sf_dir, "events").select(
        "event_type",
        (
            _TWO_PI * ((F.unix_millis("ts") % 86400000).cast("double") / _DAY_MS)
        ).alias("theta"),
    )
    s = a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.cos("theta")).alias("c"),
        F.sum(F.sin("theta")).alias("s"),
    )
    rlen = F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n")
    return s.select(
        "event_type",
        "n",
        F.round(rlen, 6).alias("r_bar"),
        F.round(1 - rlen, 6).alias("circ_var"),
        F.round(
            F.pmod(F.atan2(F.col("s"), F.col("c")) + _TWO_PI, F.lit(_TWO_PI))
            * 24
            / _TWO_PI,
            6,
        ).alias("mean_hour"),
    )


# ---------------------------------------------------------------------------
# window_downsample_m4 — the M4 time-series rendering operator
# ---------------------------------------------------------------------------
_M4_BUCKETS = 16


_M4_SQL = f"""
WITH s AS (
  SELECT user_id, value, epoch_ms(ts) AS ms, event_id,
         ROW_NUMBER() OVER w AS rn, COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
b AS (SELECT user_id, value, ms, rn,
             CAST(((rn - 1) * {_M4_BUCKETS}) // n AS INT) AS bucket
      FROM s)
SELECT user_id, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       MIN(value) AS v_min, MAX(value) AS v_max,
       MIN(CASE WHEN rn = brn THEN value END) AS v_first,
       MIN(CASE WHEN rn = ern THEN value END) AS v_last
FROM (SELECT *, MIN(rn) OVER (PARTITION BY user_id, bucket) AS brn,
              MAX(rn) OVER (PARTITION BY user_id, bucket) AS ern
      FROM b)
GROUP BY user_id, bucket
"""


@register("window_downsample_m4", _M4_SQL)
def window_downsample_m4(spark, sf_dir):
    """M4 downsampling (Jugel et al., VLDB 2014) of each user's
    series into 16 equal-count pixel buckets: (min, max, first,
    last) per bucket — the aggregation that makes a downsampled
    line chart PIXEL-IDENTICAL to the full-resolution rendering,
    where window_lttb optimizes perceptual area instead; together
    they are the two canonical chart-downsampling operators. Buckets
    are row-number based (deterministic (ts, event_id) order) so
    both engines cut identical pixels.

    Shape: one series-key window shuffle for the row numbers, one
    (user, bucket) aggregate — first/last come from the bucket's
    min/max row number in the same pass, no extra join."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    s = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n"),
    )
    b = s.withColumn(
        "bucket", F.expr(f"((rn - 1) * {_M4_BUCKETS}) div n").cast("int")
    )
    wb = Window.partitionBy("user_id", "bucket")
    b = b.withColumn("brn", F.min("rn").over(wb)).withColumn(
        "ern", F.max("rn").over(wb)
    )
    return b.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min(F.when(F.col("rn") == F.col("brn"), F.col("value"))).alias(
            "v_first"
        ),
        F.min(F.when(F.col("rn") == F.col("ern"), F.col("value"))).alias("v_last"),
    )
