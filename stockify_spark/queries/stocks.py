"""Technical indicators on the reference's stocks table: the 18-row ramp
(``sources/fixtures.stocks_ramp``) that stockify.cu reads from CSV, with
the oracle face of the same fixture (``fixtures.RAMP_SQL``).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F, Window

from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import RAMP_SERIES_LEN, RAMP_SQL, stocks_ramp


@register(
    "stocks_filter_agg",
    f"WITH stocks AS ({RAMP_SQL})"
    " SELECT COUNT(*) AS n, ROUND(SUM(low), 2) AS sum_low,"
    " MIN(low) AS min_low, MAX(high) AS max_high"
    " FROM stocks WHERE volume >= 1800000",
)
def stocks_filter_agg(spark, sf_dir):
    """Experiments 1.a + 2.a/2.c/2.d fused, on the reference's own
    table: the Experiment-3 probe literal (volume >= 1.8e6,
    stockify.cu:674) selects 12/18 of the ramp; sum in double, not
    float32 atomics (SURVEY §2.3)."""

    s = stocks_ramp(spark, cycles=100)
    return s.filter(F.col("volume") >= 1_800_000).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("low"), 2).alias("sum_low"),
        F.min("low").alias("min_low"),
        F.max("high").alias("max_high"),
    )


@register(
    "stocks_window_suite",
    f"WITH stocks AS ({RAMP_SQL})"
    " SELECT row_id,"
    " ROUND(AVG(close) OVER w, 6) AS moving_avg,"
    " MIN(low) OVER w AS rolling_min,"
    " MAX(high) OVER w AS rolling_max"
    " FROM stocks WINDOW w AS (ORDER BY row_id ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)",
)
def stocks_window_suite(spark, sf_dir):
    """W1+W2+W3 (stockify.cu:142-193) on the reference's own table,
    full per-row columns (not the vacuous min-of-mins check), frames
    shrinking at the tail per SQL standard — the intent of the CPU
    reference loop (stockify.cu:513-521), not the kernels' bugs."""
    from pyspark.sql import Window

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id").rowsBetween(Window.currentRow, 9)
    return s.select(
        "row_id",
        F.round(F.avg("close").over(w), 6).alias("moving_avg"),
        F.min("low").over(w).alias("rolling_min"),
        F.max("high").over(w).alias("rolling_max"),
    )


_ATR_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
tr AS (SELECT row_id,
              CASE WHEN lag(close) OVER w IS NULL THEN high - low
                   ELSE GREATEST(high - low,
                                 ABS(high - lag(close) OVER w),
                                 ABS(low - lag(close) OVER w)) END AS tr
       FROM stocks WINDOW w AS (ORDER BY row_id))
SELECT row_id, ROUND(tr, 6) AS tr,
       ROUND(AVG(tr) OVER (ORDER BY row_id
                           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6)
         AS atr_14
FROM tr
"""


@register("stocks_atr", _ATR_SQL)
def stocks_atr(spark, sf_dir):
    """Average True Range (SMA-14 variant) on the reference's own
    ramp table — the volatility indicator that extends the
    reference's rolling min/max family (stockify.cu:142-193) with
    the gap-aware true range: max(high-low, |high-prev_close|,
    |low-prev_close|), first row falling back to high-low. One lag +
    one bounded-frame mean over the deterministic global order
    (row_id IS data, SURVEY §7.4) — the documented 1-part parity
    shape on the 1800-row ramp; the partitioned production form is
    the window_partitioned_parity construction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id")
    pc = F.lag("close").over(w)
    tr = F.when(pc.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        )
    )
    t = s.select("row_id", tr.alias("tr"))
    fw = Window.orderBy("row_id").rowsBetween(-13, 0)
    return t.select(
        "row_id",
        F.round("tr", 6).alias("tr"),
        F.round(F.avg("tr").over(fw), 6).alias("atr_14"),
    )


_OBV_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
s AS (SELECT row_id, volume,
             CASE WHEN lag(close) OVER w IS NULL THEN 0
                  WHEN close > lag(close) OVER w THEN 1
                  WHEN close < lag(close) OVER w THEN -1
                  ELSE 0 END AS sgn
      FROM stocks WINDOW w AS (ORDER BY row_id))
SELECT row_id,
       ROUND(SUM(sgn * volume) OVER (ORDER BY row_id
                                     ROWS UNBOUNDED PRECEDING), 2) AS obv
FROM s
"""


@register("stocks_obv", _OBV_SQL)
def stocks_obv(spark, sf_dir):
    """On-balance volume on the ramp: the running sum of
    direction-signed volume (up-day +v, down-day -v, flat 0) — the
    flow indicator pairing the reference's close and volume columns.
    Prefix sum over the global row order: the documented 1-part
    parity shape; the ramp's volumes are integer-valued doubles, so
    the ordered accumulation is integer-exact on both engines before
    the display round."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id")
    pc = F.lag("close").over(w)
    sgn = (
        F.when(pc.isNull(), 0)
        .when(F.col("close") > pc, 1)
        .when(F.col("close") < pc, -1)
        .otherwise(0)
    )
    t = s.select("row_id", (sgn * F.col("volume")).alias("sv"))
    rw = Window.orderBy("row_id").rowsBetween(Window.unboundedPreceding, 0)
    return t.select(
        "row_id", F.round(F.sum("sv").over(rw), 2).alias("obv")
    )


# ---------------------------------------------------------------------------
# stocks_stochastic — %K / %D oscillator over rolling extrema
# ---------------------------------------------------------------------------
_STOCH_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
k AS (SELECT row_id,
             ROUND(100.0 * (close - MIN(low)  OVER w)
                         / (MAX(high) OVER w - MIN(low) OVER w), 6) AS pct_k
      FROM stocks
      WINDOW w AS (ORDER BY row_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT row_id, pct_k,
       ROUND(AVG(pct_k) OVER (ORDER BY row_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS pct_d
FROM k
"""


@register("stocks_stochastic", _STOCH_SQL)
def stocks_stochastic(spark, sf_dir):
    """Stochastic oscillator on the reference ramp: %K = 100 *
    (close - min(low)[14]) / (max(high)[14] - min(low)[14]), %D =
    SMA-3 of %K — the canonical composition of the reference's
    rolling-min and rolling-max windows (stockify.cu:142-193) into
    one indicator. The denominator is bounded below by the same-row
    high-low spread (70 on the ramp), so no zero-division guard is
    needed; %K is rounded to 6dp BEFORE the %D average so both
    engines smooth identical values. Global row order is data
    (SURVEY §7.4 parity shape); the partitioned production form is
    the window_partitioned_parity construction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id").rowsBetween(-13, 0)
    k = s.select(
        "row_id",
        F.round(
            100.0
            * (F.col("close") - F.min("low").over(w))
            / (F.max("high").over(w) - F.min("low").over(w)),
            6,
        ).alias("pct_k"),
    )
    d = Window.orderBy("row_id").rowsBetween(-2, 0)
    return k.select(
        "row_id",
        "pct_k",
        F.round(F.avg("pct_k").over(d), 6).alias("pct_d"),
    )


_MACD_SQL = f"""
WITH RECURSIVE stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
r AS (
  SELECT symbol, pos, close,
         close AS e12, close AS e26,
         CAST(0 AS DOUBLE) AS macd, CAST(0 AS DOUBLE) AS sig
  FROM base WHERE pos = 0
  UNION ALL
  SELECT b.symbol, b.pos, b.close,
         (2.0 / 13.0) * b.close + (1.0 - 2.0 / 13.0) * r.e12,
         (2.0 / 27.0) * b.close + (1.0 - 2.0 / 27.0) * r.e26,
         ((2.0 / 13.0) * b.close + (1.0 - 2.0 / 13.0) * r.e12)
           - ((2.0 / 27.0) * b.close + (1.0 - 2.0 / 27.0) * r.e26),
         (2.0 / 10.0) * (((2.0 / 13.0) * b.close
                          + (1.0 - 2.0 / 13.0) * r.e12)
                         - ((2.0 / 27.0) * b.close
                            + (1.0 - 2.0 / 27.0) * r.e26))
           + (1.0 - 2.0 / 10.0) * r.sig
  FROM r JOIN base b ON b.symbol = r.symbol AND b.pos = r.pos + 1
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(macd, 6) AS macd, ROUND(sig, 6) AS signal_line,
       ROUND(macd - sig, 6) AS histogram
FROM r
"""


@register("stocks_macd", _MACD_SQL)
def stocks_macd(spark, sf_dir):
    """MACD(12, 26, 9) with exact recursive EMAs: macd = EMA12 -
    EMA26 of close, signal = EMA9 of macd, histogram = macd -
    signal — the reference domain's flagship composite indicator,
    three coupled recursions carried in one state pass. Both EMAs
    seed at the first close (macd_0 = signal_0 = 0); alphas are the
    literal expressions 2/13, 2/27, 2/10 on BOTH faces so the IEEE
    chains agree exactly. Same applyInPandas-per-series shape as
    window_ema_exact; the oracle's recursive CTE carries the
    4-tuple state through the identical recurrence."""
    import pandas as pd

    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )

    def macd_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        closes = pdf["close"].to_numpy()
        n = len(closes)
        macd = [0.0] * n
        sig = [0.0] * n
        e12 = closes[0]
        e26 = closes[0]
        prev_sig = 0.0
        for t in range(1, n):
            c = closes[t]
            e12 = (2.0 / 13.0) * c + (1.0 - 2.0 / 13.0) * e12
            e26 = (2.0 / 27.0) * c + (1.0 - 2.0 / 27.0) * e26
            macd[t] = e12 - e26
            prev_sig = (2.0 / 10.0) * macd[t] + (1.0 - 2.0 / 10.0) * prev_sig
            sig[t] = prev_sig
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "pos": pdf["pos"],
                "macd": macd,
                "sig": sig,
            }
        )

    res = s.groupBy("symbol").applyInPandas(
        macd_series, schema="symbol long, pos long, macd double, sig double"
    )
    return res.select(
        "symbol",
        "pos",
        F.round("macd", 6).alias("macd"),
        F.round("sig", 6).alias("signal_line"),
        F.round(F.col("macd") - F.col("sig"), 6).alias("histogram"),
    )


# ---------------------------------------------------------------------------
# Technical-indicator completion, a
# multinomial text classifier, and asymmetric containment dedup.
#
# The indicator rows finish the reference domain's standard toolkit
# (the reference computes rolling windows over OHLCV, stockify.cu:
# 142-193,513-634 — these are the composite indicators practitioners
# derive from the same columns): Heikin-Ashi candles and Wilder's ADX
# are sequential-state recursions (the ``applyInPandas``-per-series /
# recursive-CTE pattern window_ema_exact established), CCI needs a
# frame-local re-aggregation (mean absolute deviation around the
# frame's OWN mean — a two-pass window Catalyst can't fuse, expressed
# as an ordered list fold so both engines add in the same IEEE order),
# and MFI is conditional bounded-frame sums. The two corpus ops extend
# the LLM-pipeline surface: multinomial Naive Bayes is the classic
# counts-only distributed text classifier (model = two broadcastable
# aggregate tables), and shingle containment is the near-dup relation
# Jaccard misses (excerpt/boilerplate inclusion).
# ---------------------------------------------------------------------------
_HA_SQL = f"""
WITH RECURSIVE stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, open, high, low, close
         FROM stocks),
r AS (
  SELECT symbol, pos, open, high, low, close,
         (open + close) / 2 AS ha_open,
         (open + high + low + close) / 4 AS ha_close
  FROM base WHERE pos = 0
  UNION ALL
  SELECT b.symbol, b.pos, b.open, b.high, b.low, b.close,
         (r.ha_open + r.ha_close) / 2,
         (b.open + b.high + b.low + b.close) / 4
  FROM r JOIN base b ON b.symbol = r.symbol AND b.pos = r.pos + 1
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(ha_open, 6) AS ha_open, ROUND(ha_close, 6) AS ha_close,
       ROUND(GREATEST(high, ha_open, ha_close), 6) AS ha_high,
       ROUND(LEAST(low, ha_open, ha_close), 6) AS ha_low
FROM r
"""


@register("stocks_heikin_ashi", _HA_SQL)
def stocks_heikin_ashi(spark, sf_dir):
    """Heikin-Ashi candle transform — the smoothed-candle recursion:
    ha_close = (o+h+l+c)/4 pointwise, but ha_open_t =
    (ha_open_{t-1} + ha_close_{t-1})/2 carries unbounded sequential
    state, seeded (open_0+close_0)/2. Same shape as window_ema_exact:
    ``applyInPandas`` per series — distributed
    across symbols, a float64 loop within one — against a recursive
    CTE stepping the identical IEEE expressions, so the match is
    exact before 6dp rounding. ha_high/ha_low are stateless
    GREATEST/LEAST over (raw extreme, ha_open, ha_close)."""
    import pandas as pd

    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "open", "high", "low", "close",
    )

    def ha_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        o = pdf["open"].to_numpy()
        h = pdf["high"].to_numpy()
        lo = pdf["low"].to_numpy()
        c = pdf["close"].to_numpy()
        n = len(c)
        ha_open = [0.0] * n
        ha_close = [0.0] * n
        ha_open[0] = (o[0] + c[0]) / 2
        ha_close[0] = (o[0] + h[0] + lo[0] + c[0]) / 4
        for t in range(1, n):
            ha_open[t] = (ha_open[t - 1] + ha_close[t - 1]) / 2
            ha_close[t] = (o[t] + h[t] + lo[t] + c[t]) / 4
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "pos": pdf["pos"],
                "high": h,
                "low": lo,
                "ha_open": ha_open,
                "ha_close": ha_close,
            }
        )

    res = s.groupBy("symbol").applyInPandas(
        ha_series,
        schema="symbol long, pos long, high double, low double,"
        " ha_open double, ha_close double",
    )
    return res.select(
        "symbol",
        "pos",
        F.round("ha_open", 6).alias("ha_open"),
        F.round("ha_close", 6).alias("ha_close"),
        F.round(F.greatest("high", "ha_open", "ha_close"), 6).alias("ha_high"),
        F.round(F.least("low", "ha_open", "ha_close"), 6).alias("ha_low"),
    )


_ADX_SQL = f"""
WITH RECURSIVE stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close, high, low
         FROM stocks),
sm AS (
  SELECT symbol, pos, close, high, low,
         high - low AS e_tr, CAST(0 AS DOUBLE) AS e_p, CAST(0 AS DOUBLE) AS e_n
  FROM base WHERE pos = 0
  UNION ALL
  SELECT b.symbol, b.pos, b.close, b.high, b.low,
         r.e_tr + (GREATEST(b.high - b.low, ABS(b.high - r.close),
                            ABS(b.low - r.close)) - r.e_tr) / 14.0,
         r.e_p + ((CASE WHEN b.high - r.high > r.low - b.low
                             AND b.high - r.high > 0
                        THEN b.high - r.high ELSE 0 END) - r.e_p) / 14.0,
         r.e_n + ((CASE WHEN r.low - b.low > b.high - r.high
                             AND r.low - b.low > 0
                        THEN r.low - b.low ELSE 0 END) - r.e_n) / 14.0
  FROM sm r JOIN base b ON b.symbol = r.symbol AND b.pos = r.pos + 1
),
dx AS (
  SELECT symbol, pos,
         100.0 * e_p / e_tr AS di_p,
         100.0 * e_n / e_tr AS di_n,
         CASE WHEN 100.0 * e_p / e_tr + 100.0 * e_n / e_tr = 0 THEN 0.0
              ELSE 100.0 * ABS(100.0 * e_p / e_tr - 100.0 * e_n / e_tr)
                   / (100.0 * e_p / e_tr + 100.0 * e_n / e_tr) END AS dx
  FROM sm
),
adx AS (
  SELECT symbol, pos, di_p, di_n, dx, CAST(0 AS DOUBLE) AS adx
  FROM dx WHERE pos = 0
  UNION ALL
  SELECT d.symbol, d.pos, d.di_p, d.di_n, d.dx, r.adx + (d.dx - r.adx) / 14.0
  FROM adx r JOIN dx d ON d.symbol = r.symbol AND d.pos = r.pos + 1
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(pos AS BIGINT) AS pos,
       ROUND(di_p, 6) AS di_plus, ROUND(di_n, 6) AS di_minus,
       ROUND(adx, 6) AS adx
FROM adx
"""


@register("stocks_adx", _ADX_SQL)
def stocks_adx(spark, sf_dir):
    """Wilder's ADX(14): directional movement (+DM/-DM with the
    strict greater-and-positive gating), true range, Wilder
    smoothing s_t = s_{t-1} + (x_t - s_{t-1})/14 seeded at the first
    value (TR) / zero (DMs), DI± = 100*s_dm/s_tr, DX =
    100*|DI+ - DI-|/(DI+ + DI-) guarded at zero, and ADX as the
    Wilder recursion over DX. Three coupled smoothers + one
    dependent smoother — carried in a single applyInPandas state
    pass per series; the oracle chains TWO recursive CTEs (the
    e_tr/e_p/e_n tuple, then ADX over the derived DX column) through
    the same literal IEEE expressions. Extends the reference's
    rolling-extrema family (stockify.cu:142-193) with its canonical
    trend-strength composite."""
    import pandas as pd

    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close", "high", "low",
    )

    def adx_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        h = pdf["high"].to_numpy()
        lo = pdf["low"].to_numpy()
        c = pdf["close"].to_numpy()
        n = len(c)
        di_p = [0.0] * n
        di_n = [0.0] * n
        adx_o = [0.0] * n
        e_tr = h[0] - lo[0]
        e_p = 0.0
        e_n = 0.0
        adx = 0.0
        di_p[0] = 100.0 * e_p / e_tr
        di_n[0] = 100.0 * e_n / e_tr
        for t in range(1, n):
            up = h[t] - h[t - 1]
            dn = lo[t - 1] - lo[t]
            pdm = up if (up > dn and up > 0) else 0.0
            ndm = dn if (dn > up and dn > 0) else 0.0
            tr = max(h[t] - lo[t], abs(h[t] - c[t - 1]), abs(lo[t] - c[t - 1]))
            e_tr = e_tr + (tr - e_tr) / 14.0
            e_p = e_p + (pdm - e_p) / 14.0
            e_n = e_n + (ndm - e_n) / 14.0
            dip = 100.0 * e_p / e_tr
            din = 100.0 * e_n / e_tr
            dxv = 0.0 if dip + din == 0 else 100.0 * abs(dip - din) / (dip + din)
            adx = adx + (dxv - adx) / 14.0
            di_p[t] = dip
            di_n[t] = din
            adx_o[t] = adx
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"],
                "pos": pdf["pos"],
                "di_p": di_p,
                "di_n": di_n,
                "adx": adx_o,
            }
        )

    res = s.groupBy("symbol").applyInPandas(
        adx_series,
        schema="symbol long, pos long, di_p double, di_n double, adx double",
    )
    return res.select(
        "symbol",
        "pos",
        F.round("di_p", 6).alias("di_plus"),
        F.round("di_n", 6).alias("di_minus"),
        F.round("adx", 6).alias("adx"),
    )


_CCI_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
tp AS (SELECT row_id, (high + low + close) / 3 AS tp FROM stocks),
fr AS (SELECT row_id, tp,
              list(tp) OVER (ORDER BY row_id
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS tps
       FROM tp),
m AS (SELECT row_id, tp, tps,
             list_reduce(tps, (a, b) -> a + b) / len(tps) AS sma
      FROM fr)
SELECT row_id, ROUND(tp, 6) AS tp, ROUND(sma, 6) AS sma_20,
       CASE WHEN list_reduce(list_transform(tps, x -> ABS(x - sma)),
                             (a, b) -> a + b) / len(tps) = 0
            THEN NULL
            ELSE ROUND((tp - sma)
                       / (0.015 * (list_reduce(list_transform(tps,
                                                  x -> ABS(x - sma)),
                                               (a, b) -> a + b) / len(tps))),
                       6)
       END AS cci_20
FROM m
"""


@register("stocks_cci", _CCI_SQL)
def stocks_cci(spark, sf_dir):
    """Commodity Channel Index (20): (tp - SMA20(tp)) / (0.015 *
    MeanAbsDev), where the deviation is measured around the frame's
    OWN mean — a frame-local two-pass no single window aggregate
    expresses. Both faces materialize the frame as an ORDERED list
    (collect_list over the running frame / DuckDB windowed list) and
    fold it left-to-right (F.aggregate seeded 0.0 / list_reduce
    seeded at the head — identical IEEE chains since 0.0 + x0 ≡ x0),
    so the sums agree bit-for-bit before 6dp rounding. The
    single-row first frame has zero deviation → NULL, guarded
    identically on both faces. Global row_id order: the documented
    1-part parity shape shared with stocks_atr; the partitioned
    production form is the window_partitioned_parity construction.
    At scale the frame list is 20 doubles per row — map-local state,
    not a shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    tp = ((F.col("high") + F.col("low") + F.col("close")) / 3).alias("tp")
    w = Window.orderBy("row_id").rowsBetween(-19, 0)
    df = s.select("row_id", tp).withColumn("tps", F.collect_list("tp").over(w))
    fold = F.aggregate("tps", F.lit(0.0), lambda a, x: a + x)
    sma = (fold / F.size("tps")).alias("sma")
    df = df.select("row_id", "tp", "tps", sma)
    dev = F.aggregate(
        F.transform("tps", lambda x: F.abs(x - F.col("sma"))),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / F.size("tps")
    return df.select(
        "row_id",
        F.round("tp", 6).alias("tp"),
        F.round("sma", 6).alias("sma_20"),
        F.when(dev == 0, F.lit(None).cast("double"))
        .otherwise(F.round((F.col("tp") - F.col("sma")) / (0.015 * dev), 6))
        .alias("cci_20"),
    )


_MFI_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
tp AS (SELECT row_id, (high + low + close) / 3 AS tp,
              (high + low + close) / 3 * volume AS mf
       FROM stocks),
fl AS (SELECT row_id,
              CASE WHEN lag(tp) OVER w IS NOT NULL AND tp > lag(tp) OVER w
                   THEN mf ELSE 0 END AS pf,
              CASE WHEN lag(tp) OVER w IS NOT NULL AND tp < lag(tp) OVER w
                   THEN mf ELSE 0 END AS nf
       FROM tp WINDOW w AS (ORDER BY row_id)),
s AS (SELECT row_id, SUM(pf) OVER fr AS spf, SUM(nf) OVER fr AS snf
      FROM fl
      WINDOW fr AS (ORDER BY row_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT row_id, ROUND(spf, 4) AS pos_flow, ROUND(snf, 4) AS neg_flow,
       CASE WHEN snf = 0 THEN 100.0
            ELSE ROUND(100.0 - 100.0 / (1.0 + spf / snf), 6) END AS mfi_14
FROM s
"""


@register("stocks_mfi", _MFI_SQL)
def stocks_mfi(spark, sf_dir):
    """Money Flow Index (14): volume-weighted RSI analogue. Raw
    money flow tp*volume is classified positive/negative by the
    typical-price delta (first row contributes neither — the lag
    IS NULL gate on both faces), then 14-row bounded-frame sums feed
    100 - 100/(1 + ratio), with the all-negative-flow-zero frame
    pinned to 100 exactly. Pure lag + conditional + frame sums —
    stateless window algebra, one pass. Same 1-part parity
    convention as stocks_atr."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    tp = ((F.col("high") + F.col("low") + F.col("close")) / 3).alias("tp")
    mf = (((F.col("high") + F.col("low") + F.col("close")) / 3) * F.col("volume")).alias("mf")
    w = Window.orderBy("row_id")
    fr = Window.orderBy("row_id").rowsBetween(-13, 0)
    df = s.select("row_id", tp, mf).withColumn("ptp", F.lag("tp").over(w))
    pf = F.when(F.col("ptp").isNotNull() & (F.col("tp") > F.col("ptp")), F.col("mf")).otherwise(F.lit(0.0))
    nf = F.when(F.col("ptp").isNotNull() & (F.col("tp") < F.col("ptp")), F.col("mf")).otherwise(F.lit(0.0))
    df = df.select("row_id", pf.alias("pf"), nf.alias("nf"))
    df = df.select(
        "row_id",
        F.sum("pf").over(fr).alias("spf"),
        F.sum("nf").over(fr).alias("snf"),
    )
    return df.select(
        "row_id",
        F.round("spf", 4).alias("pos_flow"),
        F.round("snf", 4).alias("neg_flow"),
        F.when(F.col("snf") == 0, F.lit(100.0))
        .otherwise(F.round(100.0 - 100.0 / (1.0 + F.col("spf") / F.col("snf")), 6))
        .alias("mfi_14"),
    )


_ICHIMOKU_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
w AS (
  SELECT row_id,
         (MAX(high) OVER w9 + MIN(low) OVER w9) / 2 AS tenkan,
         (MAX(high) OVER w26 + MIN(low) OVER w26) / 2 AS kijun,
         (MAX(high) OVER w52 + MIN(low) OVER w52) / 2 AS senkou_b_raw,
         close
  FROM stocks
  WINDOW w9 AS (ORDER BY row_id ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         w26 AS (ORDER BY row_id ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         w52 AS (ORDER BY row_id ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
)
SELECT row_id,
       ROUND(tenkan, 6) AS tenkan,
       ROUND(kijun, 6) AS kijun,
       ROUND(lag((tenkan + kijun) / 2, 26) OVER (ORDER BY row_id), 6)
         AS senkou_a,
       ROUND(lag(senkou_b_raw, 26) OVER (ORDER BY row_id), 6) AS senkou_b,
       ROUND(lead(close, 26) OVER (ORDER BY row_id), 6) AS chikou
FROM w
"""


@register("stocks_ichimoku", _ICHIMOKU_SQL)
def stocks_ichimoku(spark, sf_dir):
    """Ichimoku cloud: conversion/base lines as (rolling-max-high +
    rolling-min-low)/2 at 9/26 bars, leading spans A/B displaced 26
    bars forward (lag), lagging span displaced 26 back (lead) —
    NULLs at the displaced edges on both faces. Pure bounded-frame
    extrema + lag/lead; completes the reference domain's indicator
    toolkit on its own rolling-extrema primitives (stockify.cu:
    142-193). Same 1-part global-order parity convention as
    stocks_atr."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = stocks_ramp(spark, cycles=100)
    w9 = Window.orderBy("row_id").rowsBetween(-8, 0)
    w26 = Window.orderBy("row_id").rowsBetween(-25, 0)
    w52 = Window.orderBy("row_id").rowsBetween(-51, 0)
    wo = Window.orderBy("row_id")
    tenkan = (F.max("high").over(w9) + F.min("low").over(w9)) / 2
    kijun = (F.max("high").over(w26) + F.min("low").over(w26)) / 2
    senkou_b_raw = (F.max("high").over(w52) + F.min("low").over(w52)) / 2
    base = s.select(
        "row_id",
        tenkan.alias("tenkan"),
        kijun.alias("kijun"),
        senkou_b_raw.alias("senkou_b_raw"),
        "close",
    )
    return base.select(
        "row_id",
        F.round("tenkan", 6).alias("tenkan"),
        F.round("kijun", 6).alias("kijun"),
        F.round(F.lag((F.col("tenkan") + F.col("kijun")) / 2, 26).over(wo), 6).alias(
            "senkou_a"
        ),
        F.round(F.lag("senkou_b_raw", 26).over(wo), 6).alias("senkou_b"),
        F.round(F.lead("close", 26).over(wo), 6).alias("chikou"),
    )


_CORR_SQL = f"""
WITH stocks AS (SELECT row_id, close, high * low AS hl FROM ({RAMP_SQL})),
m AS (
  SELECT row_id,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         SUM(close) OVER w AS sx, SUM(hl) OVER w AS sy,
         SUM(close * hl) OVER w AS sxy,
         SUM(close * close) OVER w AS sxx,
         SUM(hl * hl) OVER w AS syy
  FROM stocks
  WINDOW w AS (ORDER BY row_id ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
SELECT row_id,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
            ELSE ROUND((n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                       6) END AS corr_30
FROM m
"""


@register("stocks_rolling_corr", _CORR_SQL)
def stocks_rolling_corr(spark, sf_dir):
    """Rolling 30-bar Pearson correlation of close vs the high·low
    product (QUADRATIC in the ramp position, so the pair is not
    collinear and the statistic is non-degenerate — volume would be
    affine in close and pin corr to 1). Every windowed moment sum is
    an integer-valued double below 2^53, so the sums are EXACT on both
    engines regardless of accumulation order and the correlation is
    deterministic by construction — the graph_assortativity integer-sum
    argument extended to bivariate window statistics. Zero-variance
    frames (the single-row first frame) are NULL-guarded
    identically. 1-part parity convention (stocks_atr)."""

    s = stocks_ramp(spark, cycles=100).withColumn(
        "hl", F.col("high") * F.col("low")
    )
    w = Window.orderBy("row_id").rowsBetween(-29, 0)
    m = s.select(
        "row_id",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("close").over(w).alias("sx"),
        F.sum("hl").over(w).alias("sy"),
        F.sum(F.col("close") * F.col("hl")).over(w).alias("sxy"),
        F.sum(F.col("close") * F.col("close")).over(w).alias("sxx"),
        F.sum(F.col("hl") * F.col("hl")).over(w).alias("syy"),
    )
    c = F.col
    vx = c("n") * c("sxx") - c("sx") * c("sx")
    vy = c("n") * c("syy") - c("sy") * c("sy")
    corr = (c("n") * c("sxy") - c("sx") * c("sy")) / (F.sqrt(vx) * F.sqrt(vy))
    return m.select(
        "row_id",
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
        .otherwise(F.round(corr, 6))
        .alias("corr_30"),
    )


# ---------------------------------------------------------------------------
# Pivot levels, closed-form detrending,
# Zipf-law fitting, and edit-distance function parity.
#
# Pivot points and detrending finish the reference-domain toolkit on
# pure window/moment algebra (integer-exact sums, the ext17 rule); the
# Zipf fit applies the literal-design-row OLS trick (Hurst/Goertzel)
# to corpus rank-frequency statistics; fn_levenshtein pins the scalar
# edit-distance builtin both engines ship (the primitive under
# join_typo_names' banded join) against each other.
# ---------------------------------------------------------------------------
_PIVOT_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
prev AS (
  SELECT row_id,
         lag(high) OVER w AS ph, lag(low) OVER w AS pl, lag(close) OVER w AS pc
  FROM stocks WINDOW w AS (ORDER BY row_id)
)
SELECT row_id,
       ROUND((ph + pl + pc) / 3, 6) AS pivot,
       ROUND(2 * ((ph + pl + pc) / 3) - pl, 6) AS r1,
       ROUND(2 * ((ph + pl + pc) / 3) - ph, 6) AS s1,
       ROUND((ph + pl + pc) / 3 + (ph - pl), 6) AS r2,
       ROUND((ph + pl + pc) / 3 - (ph - pl), 6) AS s2
FROM prev WHERE ph IS NOT NULL
"""


@register("stocks_pivot_points", _PIVOT_SQL)
def stocks_pivot_points(spark, sf_dir):
    """Floor-trader pivot levels from the prior bar: P = (H+L+C)/3,
    R1/S1 = 2P − L/H, R2/S2 = P ± (H − L). Pure lag arithmetic on
    exact decimals — identical IEEE chains, first row excluded by
    the shared NOT-NULL gate. Completes the reference domain's
    support/resistance toolkit; 1-part parity convention."""

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id")
    ph, pl, pc = (F.lag(c).over(w) for c in ("high", "low", "close"))
    base = s.select(
        "row_id", ph.alias("ph"), pl.alias("pl"), pc.alias("pc")
    ).filter(F.col("ph").isNotNull())
    p = (F.col("ph") + F.col("pl") + F.col("pc")) / 3
    return base.select(
        "row_id",
        F.round(p, 6).alias("pivot"),
        F.round(2 * p - F.col("pl"), 6).alias("r1"),
        F.round(2 * p - F.col("ph"), 6).alias("s1"),
        F.round(p + (F.col("ph") - F.col("pl")), 6).alias("r2"),
        F.round(p - (F.col("ph") - F.col("pl")), 6).alias("s2"),
    )


# ---------------------------------------------------------------------------
# Gap analytics, streak statistics, and
# corpus novelty.
#
# Gap analysis and streaks finish the trading-analytics shapes (lag
# comparisons and gaps-and-islands run lengths, both integer/exact-
# decimal deterministic). Novelty ratio reuses the first-occurrence
# trick (text_heaps_law) at per-document granularity — the freshness
# signal an incremental corpus ingest tracks to decide whether a new
# batch adds information or repeats the crawl.
# ---------------------------------------------------------------------------
_GAP_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
g AS (
  SELECT row_id, open, high, low,
         lag(close) OVER w AS pc
  FROM stocks WINDOW w AS (ORDER BY row_id)
)
SELECT row_id, ROUND(open - pc, 6) AS gap,
       CASE WHEN open > pc THEN 'up' WHEN open < pc THEN 'down'
            ELSE 'none' END AS gap_dir,
       low <= pc AND pc <= high AS gap_filled
FROM g WHERE pc IS NOT NULL AND open <> pc
"""


@register("stocks_gap_analysis", _GAP_SQL)
def stocks_gap_analysis(spark, sf_dir):
    """Opening-gap analytics: bars whose open differs from the prior
    close, with direction and the classic gap-fill test (did the
    bar's [low, high] span revisit the prior close). Pure lag
    comparisons on exact decimals; the first bar and gapless bars
    are excluded by the shared gates. 1-part parity convention
    (stocks_atr)."""

    s = stocks_ramp(spark, cycles=100)
    w = Window.orderBy("row_id")
    g = s.select(
        "row_id", "open", "high", "low", F.lag("close").over(w).alias("pc")
    ).filter(F.col("pc").isNotNull() & (F.col("open") != F.col("pc")))
    return g.select(
        "row_id",
        F.round(F.col("open") - F.col("pc"), 6).alias("gap"),
        F.when(F.col("open") > F.col("pc"), "up")
        .when(F.col("open") < F.col("pc"), "down")
        .otherwise("none")
        .alias("gap_dir"),
        ((F.col("low") <= F.col("pc")) & (F.col("pc") <= F.col("high"))).alias(
            "gap_filled"
        ),
    )


_STREAK_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
r AS (
  SELECT symbol, pos,
         CASE WHEN close > lag(close) OVER w THEN 1
              WHEN close < lag(close) OVER w THEN -1 ELSE 0 END AS dir
  FROM base WINDOW w AS (PARTITION BY symbol ORDER BY pos)
),
nz AS (SELECT * FROM r WHERE dir <> 0),
runs AS (
  SELECT symbol, dir,
         pos - row_number() OVER (PARTITION BY symbol, dir ORDER BY pos) AS grp
  FROM nz
),
rl AS (
  SELECT symbol, dir, COUNT(*) AS len
  FROM runs GROUP BY symbol, dir, grp
)
SELECT CAST(symbol AS BIGINT) AS symbol,
       CAST(MAX(CASE WHEN dir = 1 THEN len END) AS BIGINT) AS longest_up,
       CAST(MAX(CASE WHEN dir = -1 THEN len END) AS BIGINT) AS longest_down,
       CAST(COUNT(CASE WHEN dir = 1 THEN 1 END) AS BIGINT) AS n_up_streaks,
       CAST(COUNT(CASE WHEN dir = -1 THEN 1 END) AS BIGINT) AS n_down_streaks
FROM rl GROUP BY symbol
"""


@register("stocks_streaks", _STREAK_SQL)
def stocks_streaks(spark, sf_dir):
    """Longest winning/losing streaks per series plus streak counts:
    signed bar-over-bar direction, gaps-and-islands run grouping on
    CONSECUTIVE positions of the same sign (flat bars break runs by
    the pos-arithmetic construction), then per-series maxima. Pure
    integer run-length analytics — the drawdown-family companion
    statistic."""

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    w = Window.partitionBy("symbol").orderBy("pos")
    pc = F.lag("close").over(w)
    r = base.select(
        "symbol",
        "pos",
        F.when(F.col("close") > pc, 1)
        .when(F.col("close") < pc, -1)
        .otherwise(0)
        .alias("dir"),
    ).filter(F.col("dir") != 0)
    runs = r.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("symbol", "dir").orderBy("pos")),
    )
    rl = runs.groupBy("symbol", "dir", "grp").agg(F.count(F.lit(1)).alias("len"))
    c = F.col
    return rl.groupBy("symbol").agg(
        F.max(F.when(c("dir") == 1, c("len"))).cast("long").alias("longest_up"),
        F.max(F.when(c("dir") == -1, c("len"))).cast("long").alias("longest_down"),
        F.count(F.when(c("dir") == 1, F.lit(1))).cast("long").alias("n_up_streaks"),
        F.count(F.when(c("dir") == -1, F.lit(1)))
        .cast("long")
        .alias("n_down_streaks"),
    )


# ---------------------------------------------------------------------------
# Risk-adjusted return ratios.
#
# The reference engine's domain is stock analytics; the numbers a
# portfolio actually reports are risk-ADJUSTED: Sharpe (excess return
# per unit of volatility, 1966) and Sortino (per unit of DOWNSIDE
# volatility, 1994 — penalizing only losses, since upside variance is
# not risk). Both are closed-form moment ratios over the return
# series, annualized by the literal sqrt(252); the downside second
# moment is the only asymmetric ingredient.
#
# Series: per-event-type simple returns value_t / value_{t-1} - 1 in
# (ts, event_id) order — the engine contract is the construction; on
# real OHLCV the same plan runs per symbol.
# ---------------------------------------------------------------------------
_ANN = math.sqrt(252.0)


_RISK_SQL = f"""
WITH s AS (
  SELECT event_type,
         value / NULLIF(LAG(value) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id), 0) - 1 AS r
  FROM events),
d AS (SELECT event_type, r FROM s WHERE r IS NOT NULL),
m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(r), 6) AS s1,
         ROUND(SUM(r * r), 6) AS s2,
         ROUND(SUM(CASE WHEN r < 0 THEN r * r ELSE 0 END), 6) AS sdown
  FROM d GROUP BY 1)
SELECT event_type, n,
       ROUND(s1 / n, 6) AS mean_r,
       ROUND(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS vol,
       ROUND(sqrt(sdown / n), 6) AS downside_dev,
       ROUND((s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))
             * {_ANN!r}, 6) AS sharpe_ann,
       ROUND((s1 / n) / sqrt(sdown / n) * {_ANN!r}, 6) AS sortino_ann
FROM m
"""


@register("stocks_risk_ratios", _RISK_SQL)
def stocks_risk_ratios(spark, sf_dir):
    """Annualized Sharpe and Sortino per event-type return series:
    one lag window, one four-sum aggregate (6dp-rounded — the only
    order-sensitive reductions), closed-form ratios with the literal
    sqrt(252). Pinned in tests/test_ext86.py against numpy and the
    defining asymmetry: on a positively-skewed return series Sortino
    exceeds Sharpe (upside variance inflates vol but not downside
    deviation), on a negatively-skewed one the order flips, and a
    symmetric series makes downside_dev^2 approach half the raw
    second moment.

    Scale shape: the stats_granger/ar1 layout — a lag window per
    series plus a map-side-combinable aggregate; a million symbols
    are a million groups in the same two jobs."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # NULLIF guards a zero base price: at sf0.1 the events fixture
    # contains value == 0 rows, and ANSI mode makes the bare divide
    # fatal (found by the r9 full-registry scaling sweep — the sf0.01
    # driver gate never sees a zero). A zero-base return is undefined,
    # so both engines drop it via the same r IS NOT NULL filter.
    d = ev.select(
        "event_type",
        (F.col("value") / F.nullif(F.lag("value").over(w), F.lit(0)) - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("r"), 6).alias("s1"),
        F.round(F.sum(F.col("r") * F.col("r")), 6).alias("s2"),
        F.round(
            F.sum(
                F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0)
            ),
            6,
        ).alias("sdown"),
    )
    mean = F.col("s1") / F.col("n")
    vol = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    ddev = F.sqrt(F.col("sdown") / F.col("n"))
    return m.select(
        "event_type",
        "n",
        F.round(mean, 6).alias("mean_r"),
        F.round(vol, 6).alias("vol"),
        F.round(ddev, 6).alias("downside_dev"),
        F.round(mean / vol * _ANN, 6).alias("sharpe_ann"),
        F.round(mean / ddev * _ANN, 6).alias("sortino_ann"),
    )
