"""Event analytics: sessionization, funnels, bursts, rates, geospatial
predicates and the web-analytics queries over the events table.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F, Window

from stockify_spark.functions.scale import materialize
from stockify_spark.registry import register, _t


@register(
    "events_funnel",
    "WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),"
    " converted AS (SELECT DISTINCT p.event_id FROM p JOIN events c"
    " ON c.event_type = 'click' AND c.user_id = p.user_id"
    " AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes')"
    " SELECT (SELECT COUNT(*) FROM p) AS n_purchases,"
    " (SELECT COUNT(*) FROM converted) AS n_converted,"
    " ROUND((SELECT COUNT(*) FROM converted) * 1.0 / (SELECT COUNT(*) FROM p), 6)"
    " AS conversion_rate",
)
def events_funnel(spark, sf_dir):
    """Click→purchase funnel: share of purchases preceded by a click
    from the same user within 30 minutes — a semi join on the
    time-bounded condition (state-bounded in the streaming analog,
    stream_interval_join), then one global aggregate."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    converted = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("ts"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 30 minutes")),
        "left_semi",
    )
    return purchases.agg(F.count(F.lit(1)).alias("n_purchases")).crossJoin(
        converted.agg(F.count(F.lit(1)).alias("n_converted"))
    ).select(
        "n_purchases",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_purchases"), 6).alias("conversion_rate"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands sessionization (the batch twin of
# stream_session_agg): a new session starts when a user's gap from
# their previous event exceeds 30 minutes; sessions are numbered per
# user in time order and aggregated.
# ---------------------------------------------------------------------------
@register(
    "events_sessionize",
    "WITH t AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ms"
    "  FROM events),"
    " flagged AS (SELECT *, CASE WHEN ms - lag(ms) OVER w > 1800000"
    "   OR lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS is_new"
    "  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),"
    " sess AS (SELECT *, SUM(is_new) OVER"
    "   (PARTITION BY user_id ORDER BY ms, event_id"
    "    ROWS UNBOUNDED PRECEDING) AS session_seq FROM flagged)"
    " SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,"
    " CAST(COUNT(*) AS BIGINT) AS n_events,"
    " MIN(ms) AS first_ms, MAX(ms) AS last_ms,"
    " ROUND(SUM(value), 2) AS total_value"
    " FROM sess GROUP BY user_id, session_seq",
)
def events_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization: lag → new-session flag →
    running sum of flags = session id → per-session aggregate. One
    shuffle on user_id serves both window passes AND the final
    group-by (session_seq is a refinement of the user partition —
    Catalyst reuses the partitioning), so the whole operator is a
    single exchange of (user, event) rows. At 100 TB user_id is a
    high-cardinality key, so tasks parallelize; a pathological
    single-user skew is AQE's skew-split case."""
    t = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    flagged = t.withColumn(
        "is_new",
        F.when(
            (F.col("ms") - F.lag("ms").over(w) > 1800000)
            | F.lag("ms").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ms").alias("first_ms"),
        F.max("ms").alias("last_ms"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Pareto skyline — the undominated (price DESC, quantity ASC)
# frontier, computed as a running-min scan over per-price minima.
# No float arithmetic at all: comparisons only.
# ---------------------------------------------------------------------------
@register(
    "analytics_skyline",
    "WITH pp AS (SELECT l_extendedprice AS price, MIN(l_quantity) AS qty"
    "  FROM lineitem GROUP BY 1),"
    " r AS (SELECT price, qty, MIN(qty) OVER"
    "   (ORDER BY price DESC"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above"
    "  FROM pp)"
    " SELECT price, qty FROM r"
    " WHERE best_above IS NULL OR qty < best_above",
)
def analytics_skyline(spark, sf_dir):
    """2-D Pareto skyline (maximize price, minimize quantity): a
    point survives iff its quantity beats the running minimum over
    all strictly-higher prices. Group-by price collapses duplicates
    (and resolves equal-price domination exactly), then ONE ordered
    window pass replaces the quadratic dominance join — the classic
    sort-filter skyline. The global ORDER BY is a range-partitioned
    sort at scale; the running min is O(1) state. Comparisons only —
    no float arithmetic to drift."""
    pp = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_extendedprice").alias("price"))
        .agg(F.min("l_quantity").alias("qty"))
    )
    # one exclusive-frame window (min over strictly-preceding rows)
    # instead of the nested running-min + lag pair — same semantics
    # on unique prices, one ordered pass fewer
    w = Window.orderBy(F.col("price").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = pp.withColumn("best_above", F.min("qty").over(w))
    return r.filter(
        F.col("best_above").isNull() | (F.col("qty") < F.col("best_above"))
    ).select("price", "qty")


# ---------------------------------------------------------------------------
# Peak concurrency via sweep line: each event spans [ts, ts + value
# seconds]; the classic +1/-1 endpoint walk gives the number of
# simultaneously open intervals, maxed per event type. Endpoint tie
# order (ends before starts) is part of the spec on both sides.
# ---------------------------------------------------------------------------
@register(
    "events_concurrency",
    "WITH iv AS (SELECT event_type, epoch_ms(ts) AS s,"
    "  epoch_ms(ts) + CAST(FLOOR(value) AS BIGINT) * 1000 AS e FROM events),"
    " pts AS (SELECT event_type, s AS t, 1 AS delta FROM iv"
    "  UNION ALL SELECT event_type, e, -1 FROM iv),"
    " run AS (SELECT event_type, SUM(delta) OVER"
    "  (PARTITION BY event_type ORDER BY t, delta"
    "   ROWS UNBOUNDED PRECEDING) AS open FROM pts)"
    " SELECT event_type, CAST(MAX(open) AS BIGINT) AS peak_concurrent,"
    " CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals"
    " FROM run GROUP BY event_type",
)
def events_concurrency(spark, sf_dir):
    """Peak concurrent intervals per event type by sweep line:
    explode each interval to (+1 at start, -1 at end) endpoints, one
    ordered running sum per type (ends sort before starts at equal
    timestamps, so touching intervals don't stack), then max. One
    shuffle on event_type; O(1) window state. The same construction
    range-partitioned on time (with per-boundary carry-in, the
    bucketed_prefix_sum pattern) is the scale form when one type
    dominates."""
    iv = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + F.floor("value").cast("long") * 1000).alias("e"),
    )
    pts = iv.select("event_type", F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.select("event_type", F.sum("delta").over(w).alias("open"))
    return run.groupBy("event_type").agg(
        F.max("open").cast("long").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# Cohort retention — users grouped by first-active week, counted in
# each later week they return: the product-analytics matrix. All
# integer arithmetic on epoch-day / 7 weeks.
# ---------------------------------------------------------------------------

@register(
    "events_retention",
    "WITH act AS (SELECT DISTINCT user_id,"
    "  CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS week FROM events),"
    " cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM act"
    "  GROUP BY user_id)"
    " SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,"
    " CAST(COUNT(*) AS BIGINT) AS n_active"
    " FROM act a JOIN cohort c USING (user_id)"
    " GROUP BY 1, 2",
)
def events_retention(spark, sf_dir):
    """Weekly cohort retention: distinct (user, week) activity,
    cohort = each user's first week, counts per (cohort, offset).
    Two shuffles on user_id (activity distinct + cohort agg share
    the partitioning; Catalyst reuses the exchange) and one
    group-bounded final aggregate. The activity distinct is the
    data-sized step — map-side combine collapses within-partition
    repeats before the exchange."""
    act = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.unix_millis("ts") / 604800000).cast("long").alias("week"),
        )
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Behavioral transition matrix — Markov counts between consecutive
# event types per user (the session-flow / next-action model input).
# ---------------------------------------------------------------------------
@register(
    "events_markov",
    "WITH seq AS (SELECT user_id, event_type,"
    "  lag(event_type) OVER (PARTITION BY user_id"
    "   ORDER BY epoch_ms(ts), event_id) AS prev_type FROM events)"
    " SELECT prev_type, event_type AS next_type,"
    " CAST(COUNT(*) AS BIGINT) AS n,"
    " ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6)"
    "  AS p_next"
    " FROM seq WHERE prev_type IS NOT NULL"
    " GROUP BY prev_type, event_type",
)
def events_markov(spark, sf_dir):
    """First-order Markov transition counts and row-normalized
    probabilities between consecutive event types per user: one lag
    window on the user_id partitioning, one group-bounded aggregate,
    one window over the |types|² result. The transition matrix is
    the input to next-action prediction and to anomaly screens
    (transitions with n≈0 but traffic-heavy endpoints)."""
    t = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    seq = t.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counted = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counted.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("prev_type")), 6
        ).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# Latency bands — P50/P95/P99 per (event type, hour): the
# observability dashboard aggregate. Discrete percentiles keep every
# figure an exact data value (the agg_robust_stats lesson).
# ---------------------------------------------------------------------------
@register(
    "events_latency_bands",
    "SELECT event_type, CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour,"
    " CAST(COUNT(*) AS BIGINT) AS n,"
    " quantile_disc(value, 0.5) AS p50,"
    " quantile_disc(value, 0.95) AS p95,"
    " quantile_disc(value, 0.99) AS p99,"
    " MAX(value) AS pmax"
    " FROM events GROUP BY 1, 2",
)
def events_latency_bands(spark, sf_dir):
    """P50/P95/P99/max of event values per (type, hour) — the
    latency-dashboard rollup. Exact discrete percentiles sort within
    each (type, hour) group: one shuffle, group-bounded output. At
    100 TB the hourly grain keeps groups bounded and the
    percentile_approx sketch (agg_quantile_cube's contract) replaces
    the exact sort where dashboards tolerate ±ε."""
    t = _t(spark, sf_dir, "events")
    return (
        t.withColumn(
            "hour", F.floor(F.unix_millis("ts") / 3600000).cast("long")
        )
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
            F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("p95"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99"),
            F.max("value").alias("pmax"),
        )
    )


# ---------------------------------------------------------------------------
# events_attribution — last-touch channel attribution for purchases
# ---------------------------------------------------------------------------
_ATTR_SQL = """
WITH seq AS (
  SELECT event_id, user_id, event_type, value,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM events)
SELECT COALESCE(channel, '(none)') AS channel,
       CAST(COUNT(*) AS BIGINT) AS purchases,
       ROUND(SUM(value), 6) AS revenue
FROM seq WHERE event_type = 'purchase'
GROUP BY 1
"""


@register("events_attribution", _ATTR_SQL)
def events_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase is credited to the most
    recent PRECEDING non-purchase event of the same user (the
    marketing question behind every funnel dashboard). One ordered
    window per user carries the last non-null channel forward —
    last(ignorenulls) over [-inf, -1) — then a small groupBy rolls
    credited purchases and revenue per channel. A user's history is
    one partition of the window shuffle; no self-join, no explode —
    the naive formulation (join each purchase against all its
    predecessors) is quadratic per user, this is O(n log n) in the
    partition sort."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", F.unix_millis("ts").alias("ms")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", channel)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(none)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.round(F.sum("value"), 6).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# geo_range_join — haversine radius join via latitude banding
# ---------------------------------------------------------------------------

# Deterministic synthetic coordinates derived from the keys (the
# star-schema tables carry no geography; both engines compute the
# same doubles from the same integers).
_LAT = "(({k} * 7919) % 18000) / 100.0 - 90.0"

_LON = "(({k} * 104729) % 36000) / 100.0 - 180.0"

_GEO_R_KM = 300.0

_GEO_BAND_DEG = 3.0  # 3° of latitude ≈ 333 km > R: ±1 band suffices


_GEO_SQL = f"""
WITH c AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat,
                  {_LON.format(k='c_custkey')} AS lon
           FROM customer),
s AS (SELECT s_suppkey, {_LAT.format(k='s_suppkey')} AS lat,
             {_LON.format(k='s_suppkey')} AS lon
      FROM supplier)
SELECT c_custkey, s_suppkey,
       ROUND(2 * 6371.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat))
           * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)
       )), 4) AS dist_km
FROM c CROSS JOIN s
WHERE 2 * 6371.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat))
           * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)
       )) <= {_GEO_R_KM}
"""


def _haversine_km(lat1, lon1, lat2, lon2):
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon) * F.sin(dlon)
    )
    return 2 * 6371.0 * F.asin(F.sqrt(a))


@register("geo_range_join", _GEO_SQL)
def geo_range_join(spark, sf_dir):
    """Spatial range join: customer–supplier pairs within 300 km
    (haversine), WITHOUT the cross join the oracle runs. Points are
    bucketed into 3° latitude bands (333 km — strictly wider than
    the radius, so a match is always in the same or an adjacent
    band); each supplier is replicated into its band ±1 and the join
    is a plain equi-join on band id, then the exact haversine
    predicate verifies. Candidate volume drops from |C|·|S| to
    ~|C|·|S|·(3·band/180) — 60× here, and the same at any scale
    because band membership is data-independent. Latitude-only
    banding sidesteps the longitude-convergence problem (a fixed
    lon×lat grid's cells narrow toward the poles, breaking the
    adjacency argument); a production variant would sub-split bands
    by longitude with a cos(lat)-aware width — same plan shape.
    Coordinates are key-derived synthetics (the schema has no
    geography); integer-exact modular arithmetic, identical doubles
    on both engines."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0).alias("c_lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias("c_lon"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7919) % 18000) / 100.0 - 90.0).alias("s_lat"),
        (((F.col("s_suppkey") * 104729) % 36000) / 100.0 - 180.0).alias("s_lon"),
    )
    band = lambda lat: F.floor(lat / _GEO_BAND_DEG).cast("long")  # noqa: E731
    c_banded = cust.withColumn("band", band(F.col("c_lat")))
    s_banded = sup.withColumn(
        "band",
        F.explode(
            F.array(
                band(F.col("s_lat")) - 1,
                band(F.col("s_lat")),
                band(F.col("s_lat")) + 1,
            )
        ),
    )
    dist = _haversine_km(F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon"))
    return (
        c_banded.join(s_banded, "band")
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= _GEO_R_KM)
        .select("c_custkey", "s_suppkey", F.round("dist_km", 4).alias("dist_km"))
    )


# ---------------------------------------------------------------------------
# events_top_paths — most common 8-step event sequences
# ---------------------------------------------------------------------------
_PATHS_SQL = """
WITH seq AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ms, event_id) AS path
  FROM (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts), event_id) AS rn
        FROM events)
  WHERE rn <= 8 GROUP BY user_id)
SELECT path, CAST(COUNT(*) AS BIGINT) AS users
FROM seq GROUP BY 1
ORDER BY users DESC, path LIMIT 20
"""


@register("events_top_paths", _PATHS_SQL)
def events_top_paths(spark, sf_dir):
    """Top-20 opening event sequences (first 8 events per user,
    rendered 'view>click>…') — the product-analytics path query.
    Row-number window truncates each user's history FIRST, so the
    per-user state that flows into the sequence build is bounded (8
    structs) no matter how long the raw history is; the sequence is
    assembled orderless-shuffle-safe by sorting (ms, event_id,
    event_type) structs inside the aggregate rather than assuming
    any arrival order. Ranking ties at the cut line break on the
    path string itself, keeping the LIMIT deterministic across
    engines."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_millis("ts").alias("ms")
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ms", "event_id")
    )
    seq = (
        ev.withColumn("rn", rn)
        .filter(F.col("rn") <= 8)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ms", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        seq.groupBy("path")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy(F.col("users").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# events_anomaly_mad — robust per-user outlier scoring (median/MAD)
# ---------------------------------------------------------------------------
_MAD_SQL = """
WITH med AS (SELECT user_id, MEDIAN(value) AS m FROM events GROUP BY 1),
dev AS (SELECT e.event_id, e.user_id, e.value, med.m,
               ABS(e.value - med.m) AS d
        FROM events e JOIN med USING (user_id)),
mad AS (SELECT user_id, MEDIAN(d) AS mad FROM dev GROUP BY 1)
SELECT dev.event_id, dev.user_id,
       ROUND(CASE WHEN mad.mad > 0
                  THEN dev.d / (1.4826 * mad.mad) END, 6) AS score,
       CASE WHEN mad.mad > 0
            THEN ROUND(dev.d / (1.4826 * mad.mad), 6) > 3.0 END AS is_outlier
FROM dev JOIN mad USING (user_id)
"""


@register("events_anomaly_mad", _MAD_SQL)
def events_anomaly_mad(spark, sf_dir):
    """Robust per-user outlier scores: |x - median| / (1.4826 * MAD)
    — the estimator that, unlike mean/stddev z-scores, a single
    extreme value cannot drag (the anomaly would mask itself; 1.4826
    is the standard normal-consistency constant). Two grouped exact
    medians (Spark F.median == DuckDB MEDIAN's quantile_cont(0.5))
    with the per-user scalars broadcast back to the event stream —
    two small aggregates + two broadcast joins over one data-sized
    scan. Cross-engine discipline: the score is ROUNDed to 6dp and
    the outlier FLAG compares the ROUNDED score on BOTH faces, so an
    ulp of interpolation drift cannot flip a boundary row (the
    window_rolling_median lesson applied to a derived boolean);
    degenerate users (MAD = 0) emit NULL score and flag on both."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = ev.groupBy("user_id").agg(F.median("value").alias("m"))
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "d", F.abs(F.col("value") - F.col("m"))
    )
    mad = dev.groupBy("user_id").agg(F.median("d").alias("mad"))
    scored = dev.join(F.broadcast(mad), "user_id")
    raw = F.col("d") / (F.lit(1.4826) * F.col("mad"))
    score = F.when(F.col("mad") > 0, F.round(raw, 6))
    return scored.select(
        "event_id",
        "user_id",
        score.alias("score"),
        F.when(F.col("mad") > 0, F.round(raw, 6) > 3.0).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# geo_knn_suppliers — exact k-nearest suppliers per customer
# ---------------------------------------------------------------------------

_HAV = """2 * 6371.0 * asin(sqrt(
         sin(radians(s.lat - c.lat) / 2) * sin(radians(s.lat - c.lat) / 2)
         + cos(radians(c.lat)) * cos(radians(s.lat))
           * sin(radians(s.lon - c.lon) / 2) * sin(radians(s.lon - c.lon) / 2)))"""


_KNN_GEO_SQL = f"""
WITH c AS (SELECT c_custkey, ((c_custkey * 7919) % 18000) / 100.0 - 90.0 AS lat,
                  ((c_custkey * 104729) % 36000) / 100.0 - 180.0 AS lon
           FROM customer),
s AS (SELECT s_suppkey, ((s_suppkey * 7919) % 18000) / 100.0 - 90.0 AS lat,
             ((s_suppkey * 104729) % 36000) / 100.0 - 180.0 AS lon
      FROM supplier),
d AS (SELECT c_custkey, s_suppkey, ROUND({_HAV}, 6) AS dist_km
      FROM c CROSS JOIN s),
r AS (SELECT c_custkey, s_suppkey, dist_km,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY dist_km, s_suppkey) AS BIGINT) AS rk
      FROM d)
SELECT c_custkey, s_suppkey, dist_km, rk FROM r WHERE rk <= 3
"""


@register("geo_knn_suppliers", _KNN_GEO_SQL)
def geo_knn_suppliers(spark, sf_dir):
    """Exact 3-nearest suppliers per customer (haversine over the
    geo fixture family's key-derived coordinates) — WITHOUT the
    oracle's cross join.

    Scale rewrite: BOTH sides here scale with the corpus, so the
    original broadcast-cross-join was the repo's one measured
    superlinear query (SCALING.md r9: 33x on 10x data — the |C|x|S|
    pair stream showing). The scale path is grid pruning with an
    EXACT certificate and per-customer fallback:

      * suppliers land in one 10-degree (lat, lon) cell each;
        customers probe +-1 lat cells x a LATITUDE-ADAPTIVE +-k_lon
        lon span (k_lon <= 5, chosen so the excluded-by-longitude
        haversine lower bound — computed with the SMALLEST cosine
        product reachable in the band, the honest direction — is at
        least D_LAT = R*radians(10); polar customers, |lat| > 70,
        probe the +-1 LAT BANDS across all longitudes, where the
        lon metric degenerates), as cell equi-joins. Any supplier
        OUTSIDE the probe set is therefore provably >= D_LAT away.
      * a customer is CERTIFIED when its candidate top-3 exists and
        d3 + 1e-3 km < D_LAT (the margin absorbs the 6dp output
        rounding and suppkey tie-breaks); certified answers are
        exact by the bound argument, never by sampling luck.
      * uncertified customers — sparse cells, polar edge cases —
        take the brute broadcast scan, but only they do.

    Pair volume drops from |C|x|S| to ~|C|x|S|x(9/648) + polar band
    probes + the fallback residue; the certificate keeps the result
    bit-identical to the cross-join oracle (parity is pinned on two
    SFs in tests/test_ext88.py). Cross-engine discipline unchanged:
    distances ROUNDed to 6dp BEFORE the rank, ties by s_suppkey."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def pts(df, key):
        return df.select(
            key,
            (((F.col(key) * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
            (((F.col(key) * 104729) % 36000) / 100.0 - 180.0).alias("lon"),
        )

    CELL = 10.0  # degrees; 18 lat bands x 36 lon cells
    N_LON = 36
    POLAR = 70.0
    R_KM = 6371.0
    import math

    D_LAT_BOUND = R_KM * math.radians(CELL)  # ~1111.95 km

    # spread the single-file customer scan: everything up to the
    # rank window's exchange — the ±k_lon cell explode, the
    # broadcast cell join, and one haversine per candidate pair —
    # runs INSIDE the scan stage, i.e. on ONE core for a one-row-
    # group input (r14; the agg_countmin_sketch trig/crypto-map
    # case, no-op at scale — see functions/scale)
    from stockify_spark.functions.scale import spread_small_scan

    cust = pts(spread_small_scan(_t(spark, sf_dir, "customer")), "c_custkey")
    sup = pts(_t(spark, sf_dir, "supplier"), "s_suppkey").select(
        "s_suppkey",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor((F.col("lat") + 90.0) / CELL).alias("s_clat"),
        F.floor((F.col("lon") + 180.0) / CELL).alias("s_clon"),
    )

    dlat_off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dlat")
    base = cust.select(
        "c_custkey",
        "lat",
        "lon",
        F.floor((F.col("lat") + 90.0) / CELL).alias("clat"),
        F.floor((F.col("lon") + 180.0) / CELL).alias("clon"),
    )
    nonpolar = base.filter(F.abs(F.col("lat")) <= POLAR)
    polar = base.filter(F.abs(F.col("lat")) > POLAR)
    # LATITUDE-ADAPTIVE longitude probe span: a supplier excluded by
    # k lon cells has dlon > 10k deg, hence distance >=
    # 2R*asin(sin(5k deg)*sqrt(cos phi * cos(|phi|+10))). Choose the
    # smallest k making that >= D_LAT (= 2R*asin(sin 5 deg)), i.e.
    # sin(5k) >= sin(5)/sqrt(cos phi * cos(|phi|+10)) — then the
    # certificate bound is uniformly D_LAT and high-latitude
    # customers stop flunking certification into the brute fallback
    # (at sf0.1 the fixed 3x3 probe sent 45% of non-polar customers
    # to the fallback because the honest lon bound shrinks with
    # latitude). For |phi| <= 70 the needed k is at most 5, so the
    # wrapped span 2k+1 <= 11 < 36 never self-overlaps.
    phi_np = F.radians(F.abs(F.col("lat")))
    phi_out_np = F.radians(F.least(F.abs(F.col("lat")) + CELL, F.lit(90.0)))
    need = F.lit(math.sin(math.radians(CELL / 2))) / F.sqrt(
        F.cos(phi_np) * F.cos(phi_out_np)
    )
    k_lon = F.least(
        F.ceil(F.degrees(F.asin(F.least(F.lit(1.0), need))) / (CELL / 2)),
        F.lit(5),
    ).cast("int")
    probes_np = (
        nonpolar.withColumn("k_lon", k_lon)
        .select("*", dlat_off)
        .select(
            "*",
            F.explode(F.sequence(-F.col("k_lon"), F.col("k_lon"))).alias("dlon"),
        )
        .select(
            "c_custkey",
            "lat",
            "lon",
            (F.col("clat") + F.col("dlat")).alias("p_clat"),
            ((F.col("clon") + F.col("dlon") + N_LON) % N_LON).alias("p_clon"),
        )
    )
    lon_cells = F.explode(
        F.sequence(F.lit(0), F.lit(N_LON - 1))
    ).alias("p_clon")
    probes_po = (
        polar.select("*", dlat_off)
        .select(
            "c_custkey",
            "lat",
            "lon",
            (F.col("clat") + F.col("dlat")).alias("p_clat"),
            lon_cells,
        )
    )
    probes = probes_np.unionByName(probes_po)
    cand = probes.join(
        sup,
        (probes.p_clat == sup.s_clat) & (probes.p_clon == sup.s_clon),
    ).select(
        "c_custkey",
        "lat",
        "lon",
        "s_suppkey",
        _haversine_km(
            F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
        ).alias("d_exact"),
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.round("d_exact", 6), "s_suppkey"
    )
    # candidate top-3 is consumed THREE times (certificate, certified
    # output, fallback anti-join); at 3 rows/customer it is
    # model-sized, so pin it once instead of re-running the cell join
    # per consumer (the text_perplexity lesson)
    top = (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .transform(materialize)
    )
    # certificate per customer: 3 candidates found AND the 3rd
    # distance clears the excluded-supplier lower bound with margin.
    # Exclusion from the probe set means dlat >= 10 deg (distance >=
    # D_LAT directly) or, for non-polar customers, dlon > 10*k_lon
    # deg — whose haversine lower bound (with the MINIMUM cosine
    # product reachable in the +-10-deg band, the r9 review fix; the
    # first draft used the band MAXIMUM and could wrongly certify)
    # is >= D_LAT by the construction of k_lon above. Polar
    # customers probe every longitude, so only the lat bound
    # applies. The bound is therefore uniformly D_LAT.
    per_cust = top.groupBy("c_custkey", "lat").agg(
        F.count(F.lit(1)).alias("n3"), F.max("d_exact").alias("d3")
    )
    certified = per_cust.filter(
        (F.col("n3") == 3) & (F.col("d3") + 1e-3 < F.lit(D_LAT_BOUND))
    ).select("c_custkey").transform(materialize)
    fallback_cust = base.join(certified, "c_custkey", "left_anti").select(
        "c_custkey", "lat", "lon"
    )
    fb = fallback_cust.crossJoin(
        F.broadcast(sup.select("s_suppkey", "s_lat", "s_lon"))
    ).select(
        "c_custkey",
        "s_suppkey",
        _haversine_km(
            F.col("lat"), F.col("lon"), F.col("s_lat"), F.col("s_lon")
        ).alias("d_exact"),
    )
    fb_top = (
        fb.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )
    keep = top.join(certified, "c_custkey").select(
        "c_custkey", "s_suppkey", "d_exact", "rk"
    )
    return (
        keep.unionByName(
            fb_top.select("c_custkey", "s_suppkey", "d_exact", "rk")
        )
        .select(
            "c_custkey",
            "s_suppkey",
            F.round("d_exact", 6).alias("dist_km"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# events_burstiness — per-user Fano factor over hourly buckets
# ---------------------------------------------------------------------------
_BURSTINESS_SQL = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM events GROUP BY user_id, date_trunc('hour', ts)
),
s AS (
  SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n, SUM(c) AS sc,
         SUM(c * c) AS qc
  FROM hourly GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(n AS BIGINT) AS n_hours,
       CAST(sc AS BIGINT) AS n_events,
       ROUND((qc / n - (sc / n) * (sc / n)) / (sc / n), 6) AS fano
FROM s
WHERE n >= 24
ORDER BY fano DESC, user_id
LIMIT 50
"""


@register("events_burstiness", _BURSTINESS_SQL)
def events_burstiness(spark, sf_dir):
    """Per-user burstiness: the Fano factor (variance / mean of
    hourly event counts over the user's active hours) — the
    dispersion diagnostic that separates steady bots (Fano ~ 0-1,
    sub-Poisson) from bursty humans (>> 1). Counts are exact
    integers, so the per-user sums (n, S, Q) are engine-identical
    and the variance is computed from the raw-moment formula
    written identically on both faces rather than each engine's own
    var_pop accumulator. Two-level integer aggregation (hour buckets
    then user moments), top-50 by dispersion with an id tie-break —
    the same partial->final shape as stats_anova."""
    from pyspark.sql import functions as F

    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    s = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("qc"),
    )
    n, sc, qc = F.col("n"), F.col("sc"), F.col("qc")
    mean = sc / n
    return (
        s.where(n >= 24)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            n.cast("bigint").alias("n_hours"),
            sc.cast("bigint").alias("n_events"),
            F.round((qc / n - mean * mean) / mean, 6).alias("fano"),
        )
        .orderBy(F.col("fano").desc(), "user_id")
        .limit(50)
    )


_QK_DIGIT = "CAST(2 * ((y // {p}) % 2) + ((x // {p}) % 2) AS VARCHAR)"


_QUADKEY_SQL = (
    "WITH pts AS (SELECT user_id % 256 AS x, (user_id * 7) % 256 AS y,"
    " value FROM events),"
    " qk AS (SELECT CONCAT("
    + ", ".join(_QK_DIGIT.format(p=2 ** (7 - i)) for i in range(8))
    + ") AS quadkey, value FROM pts)"
    " SELECT substr(quadkey, 1, 4) AS tile_z4, COUNT(*) AS n_points,"
    " ROUND(SUM(value), 4) AS value_sum"
    " FROM qk GROUP BY 1"
)


@register("events_quadkey_rollup", _QUADKEY_SQL)
def events_quadkey_rollup(spark, sf_dir):
    """Quadkey (Bing-tile / Z-order curve) spatial rollup: synthetic
    tile coordinates x = user_id mod 256, y = 7·user_id mod 256 are
    bit-interleaved into an 8-digit quadkey (digit_i = 2·bit_i(y) +
    bit_i(x), MSB first — the same Morton curve txlog_zorder
    clusters files by), then aggregated at the zoom-4 prefix. All
    integer arithmetic → deterministic strings; the prefix rollup is
    the standard multi-resolution tile-serving aggregation (coarser
    zoom = shorter prefix), one shuffle on the 4-digit key."""
    ev = _t(spark, sf_dir, "events")
    x = (F.col("user_id") % 256).cast("long")
    y = ((F.col("user_id") * 7) % 256).cast("long")
    digits = [
        (
            2 * ((y / F.lit(2 ** (7 - i))).cast("long") % 2)
            + ((x / F.lit(2 ** (7 - i))).cast("long") % 2)
        ).cast("string")
        for i in range(8)
    ]
    qk = ev.select(F.concat(*digits).alias("quadkey"), "value")
    return qk.groupBy(F.substring("quadkey", 1, 4).alias("tile_z4")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


_SHAP_SQL = """
WITH conv AS (
  SELECT user_id, MIN(ts) AS first_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
pre AS (
  SELECT DISTINCT e.user_id, e.event_type AS channel
  FROM events e JOIN conv c ON c.user_id = e.user_id
  WHERE e.event_type <> 'purchase' AND e.ts < c.first_purchase
),
ksize AS (SELECT user_id, COUNT(*) AS k FROM pre GROUP BY user_id)
SELECT p.channel,
       COUNT(*) AS n_users,
       ROUND(SUM(1.0 / ks.k), 6) AS shapley_credit
FROM pre p JOIN ksize ks ON ks.user_id = p.user_id
GROUP BY p.channel
"""


@register("events_shapley_attribution", _SHAP_SQL)
def events_shapley_attribution(spark, sf_dir):
    """Exact Shapley-value conversion attribution: with the additive
    coalition game v(S) = #converted users whose pre-purchase channel
    set ⊆ S, the Shapley value of a channel reduces EXACTLY to
    uniform credit 1/|set| per converted user exposed to it (each
    user's unit of value splits symmetrically among the channels
    they saw — the closed form of the factorial-weighted sum for
    additive games). Channels are the non-purchase event types seen
    STRICTLY BEFORE the user's first purchase. One distinct pass +
    one small join; the integer set sizes make 1/k exact on both
    faces."""
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    pre = (
        ev.join(conv, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("ts") < F.col("first_purchase"))
        )
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
    )
    ksize = pre.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        pre.join(ksize, "user_id")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum(1.0 / F.col("k")), 6).alias("shapley_credit"),
        )
    )


_BOT_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) // 1000
           - lag(epoch_ms(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts,
                                             event_id) AS gap_s
  FROM events
),
m AS (
  SELECT user_id, CAST(COUNT(gap_s) AS DOUBLE) AS n,
         CAST(SUM(gap_s) AS DOUBLE) AS s1,
         CAST(SUM(gap_s * gap_s) AS DOUBLE) AS s2
  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       ROUND(s1 / n, 4) AS mean_gap_s,
       ROUND(CASE WHEN s1 = 0 THEN 0.0
                  ELSE sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0.0))
                       / (s1 / n) END, 6) AS gap_cv,
       n >= 20 AND s1 > 0
         AND sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0.0)) / (s1 / n) < 0.5
         AS is_bot
FROM m
"""


@register("events_bot_detection", _BOT_SQL)
def events_bot_detection(spark, sf_dir):
    """Traffic-hygiene bot heuristic: per user, the coefficient of
    variation of inter-event gaps — machine traffic is REGULAR (low
    CV at volume), humans are bursty. Gaps are integer SECONDS
    (epoch diff) so Σgap and Σgap² stay exactly representable and
    the moments are order-independent; the tie on simultaneous
    events breaks by event_id on both faces. One lag window + one
    aggregation, all partitioned by user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp("ts")
    g = ev.select(
        "user_id", (ep - F.lag(ep).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    m = g.groupBy("user_id").agg(
        F.count("gap_s").cast("double").alias("n"),
        F.sum("gap_s").cast("double").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("double").alias("s2"),
    )
    c = F.col
    mean = c("s1") / c("n")
    var = F.greatest(c("s2") / c("n") - mean * mean, F.lit(0.0))
    cv = F.sqrt(var) / mean
    return m.select(
        "user_id",
        c("n").cast("long").alias("n_gaps"),
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(F.when(c("s1") == 0, F.lit(0.0)).otherwise(cv), 6).alias("gap_cv"),
        ((c("n") >= 20) & (c("s1") > 0) & (cv < 0.5)).alias("is_bot"),
    )


_TTC_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
latency AS (
  SELECT p.event_id,
         epoch_ms(p.ts) - MAX(epoch_ms(c.ts)) AS ms
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.ts < p.ts
   AND epoch_ms(p.ts) - epoch_ms(c.ts) <= 1800000
  GROUP BY p.event_id, epoch_ms(p.ts)
),
rk AS (
  SELECT ms, row_number() OVER (ORDER BY ms) AS rn,
         COUNT(*) OVER () AS n
  FROM latency
)
SELECT CAST(MAX(n) AS BIGINT) AS n_conversions,
       ROUND(AVG(CAST(ms AS DOUBLE)), 1) AS median_ms
FROM rk WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
"""


@register("events_time_to_convert", _TTC_SQL)
def events_time_to_convert(spark, sf_dir):
    """Click→purchase conversion latency: for every purchase with a
    same-user click within 30 minutes, the milliseconds since the
    NEAREST prior click; the median by explicit rank selection (no
    interpolation — integer milliseconds, rank ties value-identical).
    The time-bounded join is the events_funnel semi-join carried one
    step further into a latency metric; state stays bounded by the
    30-minute window at any scale."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    pms = F.unix_millis("pts")
    cms = F.unix_millis("cts")
    lat = (
        p.join(c, "user_id")
        .filter((F.col("cts") < F.col("pts")) & (pms - cms <= 1800000))
        .groupBy("event_id", pms.alias("pm"))
        .agg(F.max(cms).alias("maxc"))
        .select((F.col("pm") - F.col("maxc")).alias("ms"))
    )
    w = Window.orderBy("ms")
    rk = lat.select(
        "ms",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    mid = rk.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.agg(
        F.max("n").cast("long").alias("n_conversions"),
        F.round(F.avg(F.col("ms").cast("double")), 1).alias("median_ms"),
    )


# ---------------------------------------------------------------------------
# Sliding-window exact distincts and
# statistical process control.
#
# DAU/WAU/MAU is the canonical sliding-distinct problem: naive
# COUNT(DISTINCT) over a 30-day window re-scans a month of raw events
# per day. The bitmap-word design (agg_bitmap_distinct) makes it an
# OR-mergeable window aggregate: one bitmap per (user-word, day), OR'd
# over RANGE frames keyed on the integer day — per-day state is
# words × 8 bytes, not user lists, and the same shape runs at 100 TB
# with roaring bitmaps. The SPC query brings Western Electric control
# rules (point beyond 3σ, 8-run on one side, 2-of-3 beyond 2σ) onto
# the integer-exact moment machinery.
# ---------------------------------------------------------------------------
_ACTIVE_SQL = """
WITH d AS (
  SELECT CAST(epoch_ms(date_trunc('day', ts)) // 86400000 AS BIGINT) AS day,
         user_id // 63 AS word,
         bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS bits
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM d),
words AS (SELECT DISTINCT word FROM d),
grid AS (
  SELECT days.day, words.word, COALESCE(d.bits, 0) AS bits
  FROM days CROSS JOIN words
  LEFT JOIN d ON d.day = days.day AND d.word = words.word
),
win AS (
  SELECT day, word, bits,
         bit_or(bits) OVER (PARTITION BY word ORDER BY day
                            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS w7,
         bit_or(bits) OVER (PARTITION BY word ORDER BY day
                            RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS w30
  FROM grid
)
SELECT day,
       CAST(SUM(bit_count(bits)) AS BIGINT) AS dau,
       CAST(SUM(bit_count(w7)) AS BIGINT) AS wau,
       CAST(SUM(bit_count(w30)) AS BIGINT) AS mau
FROM win GROUP BY day
"""


@register("events_active_users", _ACTIVE_SQL)
def events_active_users(spark, sf_dir):
    """Exact DAU/WAU/MAU per day via OR-mergeable bitmap words: one
    63-bit word per (user-block, day), OR'd over integer-day RANGE
    frames (7- and 30-day trailing) on a DENSIFIED day×word grid —
    a word idle today still carries its trailing actives, which a
    sparse frame would silently drop. Sliding distinct becomes a
    window aggregate whose state is words×8 bytes instead of user
    sets; popcount sums per day finish it. The roaring-bitmap
    active-users design as pure column algebra, integer-exact on
    both engines."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        (F.unix_millis(F.date_trunc("day", F.col("ts"))) / 86400000)
        .cast("long")
        .alias("day"),
        (F.col("user_id") / 63).cast("long").alias("word"),
    ).agg(F.bit_or(F.expr("shiftleft(1L, cast(user_id % 63 as int))")).alias("bits"))
    days = d.select("day").distinct()
    words = d.select("word").distinct()
    grid = (
        days.crossJoin(F.broadcast(words))
        .join(d, ["day", "word"], "left")
        .select("day", "word", F.coalesce(F.col("bits"), F.lit(0)).alias("bits"))
    )
    w7 = Window.partitionBy("word").orderBy("day").rangeBetween(-6, 0)
    w30 = Window.partitionBy("word").orderBy("day").rangeBetween(-29, 0)
    win = grid.select(
        "day",
        "bits",
        F.bit_or("bits").over(w7).alias("w7"),
        F.bit_or("bits").over(w30).alias("w30"),
    )
    return win.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("dau"),
        F.sum(F.bit_count("w7")).cast("long").alias("wau"),
        F.sum(F.bit_count("w30")).cast("long").alias("mau"),
    )


_SEASONAL_SQL = """
WITH prof AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(value), 6) AS s1
  FROM events GROUP BY 1, 2
),
resid AS (
  SELECT e.event_type, e.event_id, e.value,
         e.value - p.s1 / p.n AS r
  FROM events e
  JOIN prof p ON p.event_type = e.event_type
             AND p.hr = CAST(hour(e.ts) AS BIGINT)
),
mad AS (
  SELECT event_type, r,
         row_number() OVER (PARTITION BY event_type ORDER BY ABS(r)) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM resid
),
madv AS (
  SELECT event_type, MIN(ABS(r)) AS mad
  FROM mad
  WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
  GROUP BY event_type
)
SELECT r.event_type, r.event_id, ROUND(r.r, 6) AS residual
FROM resid r JOIN madv m ON m.event_type = r.event_type
WHERE ABS(r.r) > 5 * m.mad
"""


@register("events_seasonal_anomaly", _SEASONAL_SQL)
def events_seasonal_anomaly(spark, sf_dir):
    """Seasonality-adjusted anomaly detection: residual = value
    minus the (type, hour-of-day) mean — the hourly profile from
    6dp-PINNED sums — flagged where |residual| exceeds 5× the
    type's median absolute residual (median by explicit rank
    selection, MIN over the middle pair — a deterministic robust
    scale). The de-seasonalize-then-threshold composition every
    metrics pipeline runs; profile and MAD both broadcast."""
    ev = _t(spark, sf_dir, "events")
    prof = (
        ev.groupBy("event_type", F.hour("ts").cast("long").alias("hr"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.round(F.sum("value"), 6).alias("s1"),
        )
        .select(
            F.col("event_type").alias("p_type"), "hr", "n", "s1"
        )
    )
    resid = (
        ev.join(
            F.broadcast(prof),
            (F.col("event_type") == F.col("p_type"))
            & (F.hour("ts").cast("long") == F.col("hr")),
        )
        .select(
            "event_type",
            "event_id",
            (F.col("value") - F.col("s1") / F.col("n")).alias("r"),
        )
        .transform(materialize, eager=False)
    )
    wtype = Window.partitionBy("event_type")
    rk = resid.select(
        "event_type",
        "r",
        F.row_number().over(wtype.orderBy(F.abs("r"))).alias("rn"),
        F.count(F.lit(1)).over(wtype).alias("n"),
    )
    madv = (
        rk.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy("event_type")
        .agg(F.min(F.abs("r")).alias("mad"))
    )
    return (
        resid.join(F.broadcast(madv), "event_type")
        .filter(F.abs("r") > 5 * F.col("mad"))
        .select("event_type", "event_id", F.round("r", 6).alias("residual"))
    )


# ---------------------------------------------------------------------------
# Point-in-polygon (ray casting).
#
# The geo-join primitive after radius search (geo_range_join) and k-NN
# (geo_knn_suppliers): classify points against a polygon fence. The
# even-odd rule (Shimrat 1962's classic ray-casting algorithm): shoot
# a horizontal ray from the point and count polygon edges it crosses —
# odd means inside. Per point it is a 6-term sum of branch-free edge
# tests, so the operator is a map over the point table with the
# polygon broadcast as literals; no geometry library, no UDF.
# ---------------------------------------------------------------------------

# hexagonal fence in (lon=x, lat=y); every edge has distinct y ends,
# so the straddle test never divides by zero
_POLY = [
    (-60.0, -30.0), (-20.0, -55.0), (40.0, -25.0),
    (55.0, 20.0), (0.0, 45.0), (-45.0, 25.0),
]

_EDGES = [
    (_POLY[i][0], _POLY[i][1], _POLY[(i + 1) % len(_POLY)][0],
     _POLY[(i + 1) % len(_POLY)][1])
    for i in range(len(_POLY))
]


_EDGE_VALUES = ", ".join(
    f"({x1}, {y1}, {x2}, {y2})" for x1, y1, x2, y2 in _EDGES
)


_PIP_SQL = f"""
WITH pts AS (
  SELECT c_custkey, c_nationkey,
         {_LON.format(k='c_custkey')} AS x,
         {_LAT.format(k='c_custkey')} AS y
  FROM customer),
edges(x1, y1, x2, y2) AS (VALUES {_EDGE_VALUES}),
hits AS (
  SELECT p.c_custkey, p.c_nationkey,
         SUM(CASE WHEN (CAST(y1 AS DOUBLE) > p.y)
                       <> (CAST(y2 AS DOUBLE) > p.y)
                   AND p.x < (CAST(x2 AS DOUBLE) - CAST(x1 AS DOUBLE))
                             * (p.y - CAST(y1 AS DOUBLE))
                             / (CAST(y2 AS DOUBLE) - CAST(y1 AS DOUBLE))
                             + CAST(x1 AS DOUBLE)
              THEN 1 ELSE 0 END) AS crossings
  FROM pts p CROSS JOIN edges GROUP BY 1, 2)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(crossings % 2) AS BIGINT) AS n_inside
FROM hits GROUP BY 1
"""


@register("geo_point_in_polygon", _PIP_SQL)
def geo_point_in_polygon(spark, sf_dir):
    """Per-nation census of customers inside the literal hexagonal
    fence, by even-odd ray casting over the key-derived synthetic
    coordinates (the geo_range_join convention — the schema has no
    geography). Ray-cast parity is pinned in tests/test_ext58.py
    against matplotlib-free brute geometry (winding-free convex
    check) plus hand-placed inside/outside probes.

    Scale shape: the polygon is a 6-row literal — the cross join is
    a broadcast of constants, the crossing count is a 6-term
    per-row expression, and the census is one map-side-combinable
    aggregate. A billion points cost one scan; a thousand-vertex
    polygon only widens the per-row term count (production systems
    band polygon edges by y-range to cut that, the same banding idea
    as the latitude join)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    x = ((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0
    y = ((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0
    pts = cust.select("c_custkey", "c_nationkey", x.alias("x"), y.alias("y"))
    crossings = None
    for x1, y1, x2, y2 in _EDGES:
        straddle = (F.lit(y1) > F.col("y")) != (F.lit(y2) > F.col("y"))
        xcross = F.col("x") < (
            (F.lit(x2) - F.lit(x1))
            * (F.col("y") - F.lit(y1))
            / (F.lit(y2) - F.lit(y1))
            + F.lit(x1)
        )
        term = F.when(straddle & xcross, 1).otherwise(0)
        crossings = term if crossings is None else crossings + term
    hits = pts.select(
        "c_nationkey", (crossings % 2).alias("inside")
    )
    return hits.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("inside").cast("long").alias("n_inside"),
    )


# ---------------------------------------------------------------------------
# Two-state burst detection.
#
# Kleinberg's burst model (2002): an event stream switches between a
# base emission rate a0 and a burst rate a1 = 2*a0; each inter-arrival
# gap x costs a_q*x - ln(a_q) under state q, plus a charge for
# entering the burst state. events_burstiness scores HOW bursty a user
# is (one number); this detector says WHEN the stream is bursting.
#
# The engine trick that makes it cross-engine exact: with the standard
# s = 2 rate ratio, the per-gap cost DIFFERENCE between states is
# a0*x - ln(2) — the only transcendental is the LITERAL ln 2, so no
# engine-libm ln ever runs on data. Tracking d_t = cost1_t - cost0_t
# collapses the two-state DP to one scalar recursion,
#
#   d_t = a0*x_t - ln2 + min(tau, d_{t-1}) - min(0, d_{t-1})
#
# (tau = the burst-entry charge), and the forward-filtered burst flag
# is simply d_t < 0. This is the filtered variant (state from the
# past only) rather than Viterbi smoothing — the streaming-compatible
# choice, documented divergence.
# ---------------------------------------------------------------------------
_TAU = 1.0

_LN2 = math.log(2.0)


_BURST_DETECT_SQL = f"""
WITH RECURSIVE e AS (
  SELECT event_type, epoch_ms(ts) / 1000.0 AS sec,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events),
g AS (
  SELECT a.event_type, a.rn - 1 AS i, a.sec - b.sec AS x
  FROM e a JOIN e b ON b.event_type = a.event_type AND b.rn = a.rn - 1),
rate AS (
  SELECT event_type, ROUND((MAX(rn) - 1) / (MAX(sec) - MIN(sec)), 9) AS a0
  FROM e GROUP BY 1),
r AS (
  SELECT g.event_type, 1 AS i,
         rate.a0 * g.x - {_LN2!r}
           + LEAST({_TAU!r}, 0.0) - LEAST(0.0, 0.0) AS d
  FROM g JOIN rate USING (event_type) WHERE g.i = 1
  UNION ALL
  SELECT r.event_type, r.i + 1,
         rate.a0 * g.x - {_LN2!r}
           + LEAST({_TAU!r}, r.d) - LEAST(0.0, r.d)
  FROM r
  JOIN g ON g.event_type = r.event_type AND g.i = r.i + 1
  JOIN rate ON rate.event_type = r.event_type)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_burst,
       ROUND(CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS burst_frac
FROM r GROUP BY event_type
"""


@register("events_burst_detect", _BURST_DETECT_SQL)
def events_burst_detect(spark, sf_dir):
    """Forward-filtered two-state burst detection per event type:
    base rate a0 = (n-1)/span (9dp-pinned), burst rate 2*a0, entry
    charge tau = 1, flag = the cost-difference recursion dipping
    below 0. Emits per type the gap count, burst-flagged gap count,
    and burst fraction. The d-recursion's equivalence to the full
    two-row DP, and the detector actually FIRING inside a planted
    burst while staying quiet on a uniform stream, are pinned in
    tests/test_ext68.py.

    Scale shape: gaps from one lag join, a0 from one aggregate, then
    an applyInPandas scalar recursion per series (the EMA/Kalman
    class — the state is ONE double, so this runs as a streaming
    operator unchanged); the oracle steps the same recursion through
    a recursive CTE."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    e = ev.select(
        "event_type",
        (F.unix_millis("ts") / 1000.0).alias("sec"),
        F.row_number().over(w).alias("rn"),
    )
    rate = e.groupBy("event_type").agg(
        F.round(
            (F.max("rn") - 1) / (F.max("sec") - F.min("sec")), 9
        ).alias("a0")
    )
    gaps = (
        e.withColumn("x", F.col("sec") - F.lag("sec").over(
            Window.partitionBy("event_type").orderBy("rn")
        ))
        .filter(F.col("x").isNotNull())
        .join(F.broadcast(rate), "event_type")
        .select("event_type", "rn", "x", "a0")
    )

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        a0 = pdf["a0"].iloc[0]
        d = 0.0
        n = 0
        nb = 0
        first = True
        for x in pdf["x"].to_numpy():
            if first:
                d = a0 * x - _LN2 + min(_TAU, 0.0) - min(0.0, 0.0)
                first = False
            else:
                d = a0 * x - _LN2 + min(_TAU, d) - min(0.0, d)
            n += 1
            nb += d < 0
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_gaps": [n],
                "n_burst": [nb],
                "burst_frac": [round(nb / n, 6)],
            }
        )

    return gaps.groupBy("event_type").applyInPandas(
        detect,
        schema=(
            "event_type string, n_gaps long, n_burst long, burst_frac double"
        ),
    )


# ---------------------------------------------------------------------------
# events_poisson_rate_test — two-sample rate comparison (click vs view)
# ---------------------------------------------------------------------------
_POIS_SQL = """
WITH s AS (SELECT
  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE) AS k1,
  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS k2,
  CAST(MAX(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END)
     - MIN(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS DOUBLE)
    / 1000 AS t1,
  CAST(MAX(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END)
     - MIN(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS DOUBLE)
    / 1000 AS t2
 FROM events)
SELECT CAST(k1 AS BIGINT) AS k1, CAST(k2 AS BIGINT) AS k2,
       ROUND(t1, 3) AS t1_sec, ROUND(t2, 3) AS t2_sec,
       ROUND(k1 / t1, 6) AS rate1, ROUND(k2 / t2, 6) AS rate2,
       ROUND((k1 - (k1 + k2) * (t1 / (t1 + t2)))
             / sqrt((k1 + k2) * (t1 / (t1 + t2)) * (t2 / (t1 + t2))), 6)
         AS z_cond
FROM s
"""


@register("events_poisson_rate_test", _POIS_SQL)
def events_poisson_rate_test(spark, sf_dir):
    """Two-sample Poisson rate test, click vs view arrivals: given
    k1 events in exposure t1 and k2 in t2, conditional on k1+k2 the
    click count is Binomial(k1+k2, t1/(t1+t2)) under equal rates —
    z_cond is that binomial's normal score (the standard
    incident-rate / defect-rate comparison; Przyborowski & Wilenski
    1940 conditional test). Exposures are each type's observed span.

    ONE conditional aggregate over a single scan — no join, no
    second pass; the statistic is scalar arithmetic on six
    aggregates. The count sums are exact integers; only the final
    ratios are rounded."""
    ms = F.unix_millis("ts")
    click = F.col("event_type") == "click"
    view = F.col("event_type") == "view"
    s = _t(spark, sf_dir, "events").agg(
        F.count(F.when(click, 1)).cast("double").alias("k1"),
        F.count(F.when(view, 1)).cast("double").alias("k2"),
        (
            (F.max(F.when(click, ms)) - F.min(F.when(click, ms))).cast("double")
            / 1000
        ).alias("t1"),
        (
            (F.max(F.when(view, ms)) - F.min(F.when(view, ms))).cast("double")
            / 1000
        ).alias("t2"),
    )
    n = F.col("k1") + F.col("k2")
    p0 = F.col("t1") / (F.col("t1") + F.col("t2"))
    return s.select(
        F.col("k1").cast("bigint").alias("k1"),
        F.col("k2").cast("bigint").alias("k2"),
        F.round("t1", 3).alias("t1_sec"),
        F.round("t2", 3).alias("t2_sec"),
        F.round(F.col("k1") / F.col("t1"), 6).alias("rate1"),
        F.round(F.col("k2") / F.col("t2"), 6).alias("rate2"),
        F.round(
            (F.col("k1") - n * p0) / F.sqrt(n * p0 * (F.col("t2") / (F.col("t1") + F.col("t2")))),
            6,
        ).alias("z_cond"),
    )


# ---------------------------------------------------------------------------
# events_power_law_hill — Hill estimator of the activity tail
# ---------------------------------------------------------------------------
_HILL_K = 30


_HILL_SQL = f"""
WITH k AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS activity
           FROM events GROUP BY user_id),
top AS (SELECT activity,
               ROW_NUMBER() OVER (ORDER BY activity DESC, user_id) AS rnk
        FROM k),
kth AS (SELECT activity AS xk FROM top WHERE rnk = {_HILL_K} + 1),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
             SUM(ln(t.activity / kth.xk)) AS logsum,
             MAX(kth.xk) AS xk
      FROM top t CROSS JOIN kth
      WHERE t.rnk <= {_HILL_K})
SELECT k_used, ROUND(xk, 6) AS x_k,
       ROUND(k_used / logsum, 6) AS hill_alpha,
       ROUND(1 + k_used / logsum, 6) AS pareto_exponent
FROM s
"""


@register("events_power_law_hill", _HILL_SQL)
def events_power_law_hill(spark, sf_dir):
    """Hill estimator (Hill 1975) of the per-user activity tail:
    α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k=30 largest order
    statistics — the standard tail-index tool for the power-law
    degree/activity distributions that drive every skew decision in
    this repo (DESIGN.md's skew-safe frequency-count policy exists
    BECAUSE these tails are heavy; this query measures how heavy).
    Reported with the Pareto tail exponent 1 + α̂ (the text_zipf_fit
    complement on the behavioral side).

    Shape: one per-user count shuffle, a top-(k+1) TakeOrdered over
    the user-sized table, a scalar log fold — the full table is
    never sorted."""
    k = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("activity")
    )
    top = k.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("activity").desc(), "user_id")),
    ).filter(F.col("rnk") <= _HILL_K + 1)
    kth = top.filter(F.col("rnk") == _HILL_K + 1).select(
        F.col("activity").alias("xk")
    )
    s = (
        top.filter(F.col("rnk") <= _HILL_K)
        .crossJoin(F.broadcast(kth))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
            F.sum(F.log(F.col("activity") / F.col("xk"))).alias("logsum"),
            F.max("xk").alias("xk"),
        )
    )
    return s.select(
        "k_used",
        F.round("xk", 6).alias("x_k"),
        F.round(F.col("k_used") / F.col("logsum"), 6).alias("hill_alpha"),
        F.round(1 + F.col("k_used") / F.col("logsum"), 6).alias(
            "pareto_exponent"
        ),
    )
