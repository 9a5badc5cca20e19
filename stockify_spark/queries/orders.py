"""Order analytics: cohorts, lifetime value, forecasting, pricing,
inventory classification and market-basket analysis.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from stockify_spark.functions.scale import materialize
from stockify_spark.registry import register, _t


# ---------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quintiles per
# customer, the classic CRM scoring. ntile ties are resolved by the
# ORDER BY's unique (metric, custkey) total order on both engines.
# ---------------------------------------------------------------------------
@register(
    "orders_rfm",
    "WITH base AS (SELECT o_custkey,"
    "  MAX(epoch_ms(o_orderdate)) AS last_ms,"
    "  CAST(COUNT(*) AS BIGINT) AS frequency,"
    "  ROUND(SUM(o_totalprice), 2) AS monetary"
    "  FROM orders GROUP BY o_custkey)"
    " SELECT o_custkey, last_ms, frequency, monetary,"
    " CAST(ntile(5) OVER (ORDER BY last_ms DESC, o_custkey) AS BIGINT) AS r_score,"
    " CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,"
    " CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_score"
    " FROM base",
)
def orders_rfm(spark, sf_dir):
    """RFM scoring: one group-by to per-customer (recency,
    frequency, monetary), then three quintile windows over the
    compact customer table. The windows are global-order (parity
    hazard, SURVEY §7.4.1) but over |customers| aggregated rows, not
    raw orders — at 100 TB the production form range-partitions each
    ORDER BY (the bucketed boundary-exchange pattern proven by
    window_partitioned_parity)."""
    base = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(F.unix_millis("o_orderdate")).alias("last_ms"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    wr = Window.orderBy(F.col("last_ms").desc(), F.col("o_custkey"))
    wf = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    wm = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    return base.select(
        "o_custkey",
        "last_ms",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).cast("long").alias("r_score"),
        F.ntile(5).over(wf).cast("long").alias("f_score"),
        F.ntile(5).over(wm).cast("long").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence — parts bought together in one order,
# with support counts: the Apriori candidate-pair step. All exact
# integers.
# ---------------------------------------------------------------------------
@register(
    "basket_pairs",
    "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),"
    " pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b"
    "  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey"
    "  AND a.l_partkey < b.l_partkey)"
    " SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support"
    " FROM pairs GROUP BY part_a, part_b HAVING COUNT(*) >= 2",
)
def basket_pairs(spark, sf_dir):
    """Frequent co-purchase pairs (support >= 2): distinct
    (order, part) items, a self-join ON the order key to form
    within-basket pairs, then pair-support counts — the candidate
    generation step of association mining. The self-join is keyed on
    l_orderkey, so pair blowup is Σ basket_size² — bounded by the
    ~4-7-line TPC-H baskets (and in general by capping basket size
    upstream, the standard Apriori guard); everything shuffles on
    keys, no cartesian."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )


# ---------------------------------------------------------------------------
# orders_pareto — ABC revenue classification (Pareto bands)
# ---------------------------------------------------------------------------
_PARETO_SQL = """
WITH cust AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 6) AS rev
              FROM orders GROUP BY 1),
r AS (SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS crev,
             SUM(rev) OVER () AS tot
      FROM cust)
SELECT CASE WHEN crev / tot <= 0.5 THEN 'A'
            WHEN crev / tot <= 0.8 THEN 'B'
            ELSE 'C' END AS cls,
       CAST(COUNT(*) AS BIGINT) AS customers,
       ROUND(SUM(rev), 2) AS revenue
FROM r GROUP BY 1
"""


@register("orders_pareto", _PARETO_SQL)
def orders_pareto(spark, sf_dir):
    """ABC / Pareto classification: rank customers by revenue,
    cumulative-share bands at 50% / 80%, report count + revenue per
    band. The per-customer rollup is the data-sized shuffle; the
    cumulative share is a global ordered prefix sum over the
    CUSTOMER table — the documented single-partition parity shape
    (PLAN_AUDIT.md): correct here because the prefix input is
    already reduced to one row per customer, and the recursable
    two-phase prefix scan (pipeline_token_pack) is the swap-in when
    even the reduced table outgrows one task. Ties on revenue are
    broken by custkey so the running order — and therefore the band
    assignment — is engine-independent. Per-customer revenue is
    rounded to 6dp BEFORE the prefix sum and share comparison (the
    window_seasonal discipline): the per-customer SUM is an unordered
    double accumulation, so without the round cross-engine ulp drift
    could reorder near-tied customers or flip a boundary row's band —
    the custkey tie-break fixes order ties, not value drift."""
    cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    wo = (
        Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    r = cust.withColumn("crev", F.sum("rev").over(wo)).withColumn(
        "tot", F.sum("rev").over(wall)
    )
    share = F.col("crev") / F.col("tot")
    return (
        r.withColumn(
            "cls",
            F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C"),
        )
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# basket_rules — association rules (confidence + lift) over baskets
# ---------------------------------------------------------------------------
_RULES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_baskets FROM items),
isup AS (SELECT l_partkey, CAST(COUNT(*) AS DOUBLE) AS s FROM items GROUP BY 1),
pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 CAST(COUNT(*) AS DOUBLE) AS s_ab
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 3)
SELECT part_a, part_b, CAST(s_ab AS BIGINT) AS support,
       ROUND(s_ab / sa.s, 6) AS conf_a_to_b,
       ROUND(s_ab / sb.s, 6) AS conf_b_to_a,
       ROUND(s_ab * n_baskets / (sa.s * sb.s), 6) AS lift
FROM pairs JOIN isup sa ON sa.l_partkey = part_a
           JOIN isup sb ON sb.l_partkey = part_b
           CROSS JOIN n
"""


@register("basket_rules", _RULES_SQL)
def basket_rules(spark, sf_dir):
    """Association rules on top of basket_pairs' candidate step:
    pair support (≥3) joined against single-item supports for
    confidence both ways and lift. The pair self-join is keyed on
    the basket id (bounded by basket size squared, the Apriori
    guard documented on basket_pairs); item supports are a
    |parts|-row table broadcast to the pair stream, so the rule
    metrics add NO data-sized shuffle beyond the two support
    counts. Ratios are single IEEE divisions per output row —
    engine-exact before the display rounding."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_baskets")
    )
    isup = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("double").alias("s")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("double").alias("s_ab"))
        .filter(F.col("s_ab") >= 3)
    )
    sa = isup.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa"))
    sb = isup.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("s_ab").cast("long").alias("support"),
            F.round(F.col("s_ab") / F.col("sa"), 6).alias("conf_a_to_b"),
            F.round(F.col("s_ab") / F.col("sb"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("s_ab") * F.col("n_baskets") / (F.col("sa") * F.col("sb")), 6
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# orders_cohort_ltv — cohort lifetime-value curves
# ---------------------------------------------------------------------------
_LTV_SQL = """
WITH firstm AS (SELECT o_custkey,
                       MIN(date_trunc('month', o_orderdate)) AS cohort
                FROM orders GROUP BY 1),
x AS (SELECT f.cohort,
             date_diff('month', f.cohort, date_trunc('month', o.o_orderdate)) AS age,
             o.o_totalprice
      FROM orders o JOIN firstm f USING (o_custkey)),
g AS (SELECT cohort, age, CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(SUM(o_totalprice), 6) AS revenue
      FROM x GROUP BY 1, 2)
SELECT strftime(cohort, '%Y-%m') AS cohort, CAST(age AS BIGINT) AS age,
       n_orders, revenue,
       ROUND(SUM(revenue) OVER (PARTITION BY cohort ORDER BY age), 6)
         AS cum_revenue
FROM g
"""


@register("orders_cohort_ltv", _LTV_SQL)
def orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by cohort age in months — the LTV
    matrix behind every retention-economics dashboard. One customer
    first-month aggregate joined back to the fact stream (broadcast:
    one row per customer), one (cohort, age) rollup, then the
    cumulative curve as an ordered window over the ROLLED-UP table
    (months-count rows per cohort, not order-scale). Float policy:
    the data-sized SUM rounds to 6dp BEFORE the running total, so
    the cumulative accumulation runs over identical doubles in
    identical (age) order on both engines — the orders_pareto
    discipline for prefix sums over unordered aggregates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.trunc("o_orderdate", "month").alias("m")
    )
    firstm = orders.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    x = orders.join(F.broadcast(firstm), "o_custkey").select(
        "cohort",
        F.months_between("m", "cohort").cast("long").alias("age"),
        "o_totalprice",
    )
    g = x.groupBy("cohort", "age").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("revenue"),
    )
    w = Window.partitionBy("cohort").orderBy("age")
    return g.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        "age",
        "n_orders",
        "revenue",
        F.round(F.sum("revenue").over(w), 6).alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# orders_survival_km — Kaplan-Meier over inter-order gaps
# ---------------------------------------------------------------------------
_KM_SQL = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
),
horizon AS (SELECT MAX(o_orderdate) AS hmax FROM orders),
gaps AS (
  SELECT CASE WHEN nxt IS NULL
              THEN date_diff('day', o_orderdate, hmax)
              ELSE date_diff('day', o_orderdate, nxt) END AS t,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
  FROM seq, horizon
),
tbl AS (
  SELECT t, CAST(SUM(ev) AS DOUBLE) AS d, CAST(COUNT(*) AS DOUBLE) AS x
  FROM gaps GROUP BY t
),
risk AS (
  SELECT t, d,
         SUM(x) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
  FROM tbl
)
SELECT CAST(t AS BIGINT) AS t_days, CAST(d AS BIGINT) AS d_events,
       CAST(n AS BIGINT) AS n_at_risk,
       ROUND(EXP(SUM(LN(1.0 - d / n))
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
         AS survival
FROM risk
WHERE d > 0 AND d < n
ORDER BY t_days
"""


@register("orders_survival_km", _KM_SQL)
def orders_survival_km(spark, sf_dir):
    """Kaplan-Meier repurchase curve: survival of the 'time until
    next order' per customer, right-censoring each customer's final
    open interval at the dataset horizon — S(t) = prod_{t_i<=t}
    (1 - d_i/n_i). The life table is pure integer aggregation
    (events d_i per distinct gap, at-risk n_i as a DESCENDING
    cumulative count, so censored rows leave the risk set without
    ever being events); the product is taken in log space as a
    cumulative ordered sum. Rows where the last at-risk subjects all
    exit (d = n) are excluded — K-M is degenerate-zero there and
    ln(0) is engine-UB; d > 0 keeps the curve at its jump points.
    One window over customers + one tiny life-table window; the
    horizon is a broadcast scalar."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("nxt"),
    )
    horizon = o.agg(F.max("o_orderdate").alias("hmax"))
    gaps = seq.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("nxt").isNull(),
            F.datediff(F.col("hmax"), F.col("o_orderdate")),
        )
        .otherwise(F.datediff(F.col("nxt"), F.col("o_orderdate")))
        .alias("t"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("ev"),
    )
    tbl = gaps.groupBy("t").agg(
        F.sum("ev").cast("double").alias("d"),
        F.count(F.lit(1)).cast("double").alias("x"),
    )
    wr = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = tbl.select("t", "d", F.sum("x").over(wr).alias("n"))
    ws = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    surv = F.exp(F.sum(F.log(1.0 - F.col("d") / F.col("n"))).over(ws))
    return (
        risk.withColumn("survival", F.round(surv, 6))
        .where((F.col("d") > 0) & (F.col("d") < F.col("n")))
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            F.col("d").cast("bigint").alias("d_events"),
            F.col("n").cast("bigint").alias("n_at_risk"),
            "survival",
        )
        .orderBy("t_days")
    )


_HOLT_SQL = """
WITH RECURSIVE rev AS (
  SELECT n.n_name AS nation,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS ym,
         ROUND(SUM(o.o_totalprice), 2) AS z
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
base AS (
  SELECT nation, ym,
         row_number() OVER (PARTITION BY nation ORDER BY ym) - 1 AS pos, z
  FROM rev
),
r AS (
  SELECT nation, ym, pos, z, z AS l, CAST(0 AS DOUBLE) AS b
  FROM base WHERE pos = 0
  UNION ALL
  SELECT t.nation, t.ym, t.pos, t.z,
         0.3 * t.z + 0.7 * (r.l + r.b),
         0.1 * ((0.3 * t.z + 0.7 * (r.l + r.b)) - r.l) + 0.9 * r.b
  FROM r JOIN base t ON t.nation = r.nation AND t.pos = r.pos + 1
)
SELECT nation, CAST(ym AS BIGINT) AS ym, ROUND(l, 6) AS level,
       ROUND(b, 6) AS trend, ROUND(l + b, 6) AS forecast_1
FROM r
"""


@register("orders_holt_forecast", _HOLT_SQL)
def orders_holt_forecast(spark, sf_dir):
    """Holt's linear-trend smoothing (alpha=0.3, gamma=0.1) over the
    REAL monthly-revenue series per nation (orders ⋈ customer ⋈
    nation, 25 series x ~80 months): l_t = 0.3 z + 0.7 (l+b),
    b_t = 0.1 (l_t - l_{t-1}) + 0.9 b, seeded l0 = z0, b0 = 0;
    forecast_1 = l + b. The recursion steps OBSERVED months
    (row_number pos — two nations have empty months, and a gapped
    pos would strand the tail). Inputs are ROUND(SUM, 2)-pinned on
    both faces: o_totalprice is 2dp decimal data, so the rounded sum
    is the exact decimal value regardless of cross-engine float
    accumulation order — the recursion then sees bit-identical
    operands. The aggregation is one shuffle; the recursion is
    applyInPandas over 25 nation groups."""
    import pandas as pd

    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("z"))
    )

    def holt_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ym").reset_index(drop=True)
        z = pdf["z"].to_numpy()
        n = len(z)
        ls = [0.0] * n
        bs = [0.0] * n
        l, b = z[0], 0.0
        ls[0], bs[0] = l, b
        for t in range(1, n):
            l_new = 0.3 * z[t] + 0.7 * (l + b)
            b = 0.1 * (l_new - l) + 0.9 * b
            l = l_new
            ls[t], bs[t] = l, b
        return pd.DataFrame(
            {"nation": pdf["nation"], "ym": pdf["ym"], "l": ls, "b": bs}
        )

    res = rev.groupBy("nation").applyInPandas(
        holt_series, schema="nation string, ym long, l double, b double"
    )
    return res.select(
        "nation",
        "ym",
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
        F.round(F.col("l") + F.col("b"), 6).alias("forecast_1"),
    )


_FCEVAL_SQL = f"""
WITH holt AS ({_HOLT_SQL}),
rev AS (
  SELECT n.n_name AS nation,
         (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS ym,
         ROUND(SUM(o.o_totalprice), 2) AS z
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
pos AS (
  SELECT nation, ym,
         row_number() OVER (PARTITION BY nation ORDER BY ym) - 1 AS pos, z
  FROM rev
),
j AS (
  SELECT h.nation, ABS(a.z - h.forecast_1) AS abs_err,
         ABS(a.z - h.forecast_1) / a.z AS ape
  FROM holt h
  JOIN pos p ON p.nation = h.nation AND p.ym = h.ym
  JOIN pos a ON a.nation = h.nation AND a.pos = p.pos + 1
)
SELECT nation, COUNT(*) AS n_evals,
       ROUND(AVG(abs_err), 4) AS mae,
       ROUND(AVG(ape), 6) AS mape
FROM j GROUP BY nation
"""


@register("orders_forecast_eval", _FCEVAL_SQL)
def orders_forecast_eval(spark, sf_dir):
    """One-step-ahead backtest of orders_holt_forecast: each month's
    forecast_1 is scored against the NEXT OBSERVED month's actual
    revenue (same row_number stepping as the recursion — gapped
    months pair with their successor, not a phantom calendar month).
    MAE and MAPE per nation. Forecasts enter at their published 6dp
    rounding and actuals at the 2dp pin, so both engines difference
    identical operands; the averages carry only benign sum-order
    drift absorbed by the output rounding. Composition of a registry
    operator with its own evaluation — the time-series counterpart
    of ml_confusion_metrics."""

    holt = orders_holt_forecast(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("z"))
    )
    # pos feeds both the forecast-side and actual-side join branches;
    # materialize it so neither branch re-runs the 3-table aggregation
    pos = rev.withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("nation").orderBy("ym")) - 1,
    ).transform(materialize, eager=False)
    p = pos.select("nation", "ym", "pos")
    a = pos.select(
        "nation", F.col("pos").alias("apos"), F.col("z").alias("actual")
    )
    j = (
        holt.join(p, ["nation", "ym"])
        .join(a, (a["nation"] == holt["nation"]) & (F.col("apos") == F.col("pos") + 1))
        .select(
            holt["nation"].alias("nation"),
            F.abs(F.col("actual") - F.col("forecast_1")).alias("abs_err"),
            (F.abs(F.col("actual") - F.col("forecast_1")) / F.col("actual")).alias(
                "ape"
            ),
        )
    )
    return j.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.round(F.avg("abs_err"), 4).alias("mae"),
        F.round(F.avg("ape"), 6).alias("mape"),
    )


_AGING_SQL = """
WITH cutoff AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
open_orders AS (
  SELECT o.o_orderstatus AS status,
         date_diff('day', CAST(o.o_orderdate AS DATE), a.d) AS age_days,
         o.o_totalprice
  FROM orders o CROSS JOIN cutoff a
  WHERE o.o_orderstatus <> 'F'
)
SELECT status,
       CASE WHEN age_days <= 365 THEN '0-1y'
            WHEN age_days <= 730 THEN '1-2y'
            ELSE '2y+' END AS age_bucket,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS open_value
FROM open_orders
GROUP BY 1, 2
"""


@register("orders_backlog_aging", _AGING_SQL)
def orders_backlog_aging(spark, sf_dir):
    """Order-backlog aging: non-finalized orders bucketed by age in
    days as of the newest order date (the BI aging report). Integer
    day arithmetic on both faces (Spark datediff ≡ DuckDB
    date_diff('day')); the as-of scalar broadcasts."""
    orders = _t(spark, sf_dir, "orders")
    asof = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("d"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(asof))
        .select(
            F.col("o_orderstatus").alias("status"),
            F.datediff(F.col("d"), F.col("o_orderdate").cast("date")).alias(
                "age_days"
            ),
            "o_totalprice",
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 365, "0-1y")
        .when(F.col("age_days") <= 730, "1-2y")
        .otherwise("2y+")
    )
    return open_orders.groupBy("status", bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("open_value"),
    )


# ---------------------------------------------------------------------------
# Revenue-bridge decomposition and
# corpus drift divergence.
#
# The revenue bridge is the FP&A waterfall: month-over-month revenue
# change split exactly into a volume effect and a price/mix effect
# (the two terms SUM to the delta by construction — an in-result
# identity check like agg_bitmap_distinct's). JSD closes the
# distribution-distance family (PSI/KS/chi²/MI already registered)
# with the symmetric bounded divergence used for corpus drift between
# sources; both queries are integer-count/pinned-decimal
# deterministic.
# ---------------------------------------------------------------------------
_BRIDGE_SQL = """
WITH rev AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(o_totalprice), 2) AS r
  FROM orders GROUP BY 1
),
seq AS (
  SELECT ym, n, r,
         lag(n) OVER w AS pn, lag(r) OVER w AS pr
  FROM rev WINDOW w AS (ORDER BY ym)
)
SELECT CAST(ym AS BIGINT) AS ym, n, ROUND(r, 2) AS revenue,
       ROUND(r - pr, 2) AS delta,
       ROUND((n - pn) * (pr / pn), 4) AS volume_effect,
       ROUND(n * (r / n - pr / pn), 4) AS price_mix_effect
FROM seq WHERE pn IS NOT NULL
"""


@register("orders_revenue_bridge", _BRIDGE_SQL)
def orders_revenue_bridge(spark, sf_dir):
    """Month-over-month revenue bridge: Δrevenue decomposed into a
    volume effect (Δn at the OLD average price) and a price/mix
    effect (new volume times the change in average price) — the two
    terms sum to the delta EXACTLY by algebra:
    Δn·p̄₀ + n₁(p̄₁−p̄₀) = n₁p̄₁ − n₀p̄₀. Inputs are the 2dp-pinned
    monthly sums and integer counts, so both engines divide
    identical operands; one lag window over ~80 monthly rows."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("r"),
    )
    w = Window.orderBy("ym")
    seq = rev.select(
        "ym", "n", "r",
        F.lag("n").over(w).alias("pn"),
        F.lag("r").over(w).alias("pr"),
    ).filter(F.col("pn").isNotNull())
    c = F.col
    return seq.select(
        c("ym").cast("long").alias("ym"),
        c("n").cast("long").alias("n"),
        F.round("r", 2).alias("revenue"),
        F.round(c("r") - c("pr"), 2).alias("delta"),
        F.round((c("n") - c("pn")) * (c("pr") / c("pn")), 4).alias("volume_effect"),
        F.round(c("n") * (c("r") / c("n") - c("pr") / c("pn")), 4).alias(
            "price_mix_effect"
        ),
    )


# ---------------------------------------------------------------------------
# Price index numbers.
#
# The index-number problem (how much of revenue growth is PRICE?) has
# three classical answers: Laspeyres (base-period basket — overstates
# inflation), Paasche (current basket — understates), and Fisher's
# ideal index (their geometric mean, the one national statistics
# agencies publish). All are ratios of basket-weighted price sums over
# the parts present in both periods:
#
#   L_t = sum(p_t * q_0) / sum(p_0 * q_0)
#   P_t = sum(p_t * q_t) / sum(p_0 * q_t)
#   F_t = sqrt(L_t * P_t)
#
# Per-part monthly prices are quantity-weighted unit values (the
# standard unit-value index construction when transactions, not quoted
# prices, are the source).
# ---------------------------------------------------------------------------
_IDX_SQL = """
WITH m AS (
  SELECT l_partkey AS part,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS ym,
         ROUND(SUM(l_extendedprice), 6) / SUM(l_quantity) AS p,
         ROUND(SUM(l_quantity), 6) AS q
  FROM lineitem GROUP BY 1, 2),
base AS (
  SELECT part, p AS p0, q AS q0
  FROM m WHERE ym = (SELECT MIN(ym) FROM m)),
j AS (
  SELECT m.ym, m.part, m.p, m.q, b.p0, b.q0
  FROM m JOIN base b USING (part)
  WHERE m.ym > (SELECT MIN(ym) FROM m)),
agg AS (
  SELECT ym,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         ROUND(SUM(p * q0), 6) AS ptq0,
         ROUND(SUM(p0 * q0), 6) AS p0q0,
         ROUND(SUM(p * q), 6) AS ptqt,
         ROUND(SUM(p0 * q), 6) AS p0qt
  FROM j GROUP BY 1)
SELECT CAST(ym AS BIGINT) AS ym, n_parts,
       ROUND(ptq0 / p0q0, 6) AS laspeyres,
       ROUND(ptqt / p0qt, 6) AS paasche,
       ROUND(sqrt((ptq0 / p0q0) * (ptqt / p0qt)), 6) AS fisher
FROM agg
"""


@register("orders_price_index", _IDX_SQL)
def orders_price_index(spark, sf_dir):
    """Monthly Laspeyres/Paasche/Fisher price indexes over lineitem
    unit values, base = the first shipping month, computed over the
    parts present in both the base and the current month (the
    matched-sample convention). Fisher sits between its two bounds
    by construction (geometric mean — pinned in tests/test_ext66.py
    together with a numpy reimplementation and the homogeneity
    property: doubling all current prices doubles L and P exactly).

    Scale shape: one (part, month) aggregate over the fact table
    (map-side combinable), a broadcast-sized base join (parts
    table), and a months-sized rollup. TPC-H prices are synthetic
    and flat, so the indexes hover near 1 — the engine contract is
    the construction, and the oracle hash-checks every month."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        "l_extendedprice",
        "l_quantity",
    )
    m = li.groupBy("part", "ym").agg(
        (
            F.round(F.sum("l_extendedprice"), 6) / F.sum("l_quantity")
        ).alias("p"),
        F.round(F.sum("l_quantity"), 6).alias("q"),
    )
    first = m.agg(F.min("ym").alias("ym0"))
    base = (
        m.crossJoin(F.broadcast(first))
        .filter(F.col("ym") == F.col("ym0"))
        .select("part", F.col("p").alias("p0"), F.col("q").alias("q0"))
    )
    j = (
        m.crossJoin(F.broadcast(first))
        .filter(F.col("ym") > F.col("ym0"))
        .join(base, "part")
    )
    agg = j.groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(F.sum(F.col("p") * F.col("q0")), 6).alias("ptq0"),
        F.round(F.sum(F.col("p0") * F.col("q0")), 6).alias("p0q0"),
        F.round(F.sum(F.col("p") * F.col("q")), 6).alias("ptqt"),
        F.round(F.sum(F.col("p0") * F.col("q")), 6).alias("p0qt"),
    )
    las = F.col("ptq0") / F.col("p0q0")
    paa = F.col("ptqt") / F.col("p0qt")
    return agg.select(
        F.col("ym").cast("long").alias("ym"),
        "n_parts",
        F.round(las, 6).alias("laspeyres"),
        F.round(paa, 6).alias("paasche"),
        F.round(F.sqrt(las * paa), 6).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# ABC/XYZ inventory classification.
#
# The planner's two-axis part segmentation: ABC splits the catalog by
# cumulative revenue share (A = the head that earns 80%, B to 95%,
# C the tail — orders_pareto's construction applied to parts), XYZ by
# demand REGULARITY — the coefficient of variation of monthly demand
# (X < 0.5 steady, Y < 1.0 variable, Z erratic). The cross matrix
# (AX = automate restocking ... CZ = stock to order) is the textbook
# output. Everything is rounded-moment arithmetic plus explicit-rank
# prefix shares; the boundary values are pinned by rounding BEFORE
# classification (the orders_pareto discipline).
# ---------------------------------------------------------------------------
_ABC_SQL = """
WITH pm AS (
  SELECT l_partkey AS part,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS ym,
         ROUND(SUM(l_quantity), 6) AS q,
         ROUND(SUM(l_extendedprice), 2) AS rev
  FROM lineitem GROUP BY 1, 2),
months AS (SELECT CAST(COUNT(DISTINCT ym) AS DOUBLE) AS nm FROM pm),
p AS (
  SELECT part, ROUND(SUM(rev), 2) AS rev,
         ROUND(SUM(q), 6) AS sq, ROUND(SUM(q * q), 6) AS sqq
  FROM pm GROUP BY 1),
x AS (
  SELECT part, rev,
         sq / nm AS mu,
         sqrt(GREATEST(sqq / nm - (sq / nm) * (sq / nm), 0)) AS sigma
  FROM p CROSS JOIN months),
cum AS (
  SELECT part, rev, mu, sigma,
         ROUND(SUM(rev) OVER (ORDER BY rev DESC, part), 2) AS crev,
         ROUND(SUM(rev) OVER (), 2) AS trev
  FROM x),
cls AS (
  SELECT part,
         CASE WHEN crev <= 0.80 * trev THEN 'A'
              WHEN crev <= 0.95 * trev THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN ROUND(sigma / mu, 6) < 0.5 THEN 'X'
              WHEN ROUND(sigma / mu, 6) < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM cum)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM cls GROUP BY 1, 2
"""


@register("orders_abc_xyz", _ABC_SQL)
def orders_abc_xyz(spark, sf_dir):
    """ABC x XYZ census of the part catalog: revenue prefix shares
    in (rev desc, part) order with 2dp-rounded running totals
    (orders_pareto's flip-proofing), demand CV from 6dp-rounded
    monthly moments over the FULL month grid (a part absent in a
    month counts as zero demand — the sums divide by the calendar
    month count, not the part's active months; that zero-inclusion
    is what makes intermittent demand read as erratic). CV bands are
    compared after 6dp rounding. Matrix semantics pinned in
    tests/test_ext76.py against a pandas recomputation plus
    constructed steady/erratic series.

    Scale shape: one (part, month) aggregate, one part rollup, one
    ranked prefix window over the part table (catalog-sized — the
    global-order parity convention; the two-phase distributed form
    is pipeline_token_pack's), one 9-cell census."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        "l_quantity",
        "l_extendedprice",
    )
    pm = li.groupBy("part", "ym").agg(
        F.round(F.sum("l_quantity"), 6).alias("q"),
        F.round(F.sum("l_extendedprice"), 2).alias("rev"),
    )
    months = pm.agg(
        F.countDistinct("ym").cast("double").alias("nm")
    )
    p = pm.groupBy("part").agg(
        F.round(F.sum("rev"), 2).alias("rev"),
        F.round(F.sum("q"), 6).alias("sq"),
        F.round(F.sum(F.col("q") * F.col("q")), 6).alias("sqq"),
    )
    x = p.crossJoin(F.broadcast(months)).select(
        "part",
        "rev",
        (F.col("sq") / F.col("nm")).alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sqq") / F.col("nm")
                - (F.col("sq") / F.col("nm")) * (F.col("sq") / F.col("nm")),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    w = Window.orderBy(F.col("rev").desc(), "part")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = x.select(
        "part",
        "mu",
        "sigma",
        F.round(F.sum("rev").over(w), 2).alias("crev"),
        F.round(F.sum("rev").over(wall), 2).alias("trev"),
    )
    cv = F.round(F.col("sigma") / F.col("mu"), 6)
    cls = cum.select(
        F.when(F.col("crev") <= 0.80 * F.col("trev"), "A")
        .when(F.col("crev") <= 0.95 * F.col("trev"), "B")
        .otherwise("C")
        .alias("abc"),
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias("xyz"),
    )
    return cls.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# orders_customer_npv — discounted customer value
# ---------------------------------------------------------------------------
_NPV_RATE = 0.1  # annual discount rate


_NPV_SQL = f"""
WITH t0 AS (SELECT MIN(o_orderdate) AS d0 FROM orders),
cf AS (SELECT o_custkey,
              o_totalprice
                / pow(1 + {_NPV_RATE},
                      date_diff('day', d0, o_orderdate) / 365.0) AS pv
       FROM orders CROSS JOIN t0),
npv AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(pv), 2) AS npv
        FROM cf GROUP BY 1)
SELECT o_custkey, n_orders, npv
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY npv DESC, o_custkey) AS rnk
      FROM npv)
WHERE rnk <= 50
"""


@register("orders_customer_npv", _NPV_SQL)
def orders_customer_npv(spark, sf_dir):
    """Top-50 customers by net present value: every order's total
    discounted back to the first order date at 10%/year (continuous
    day-resolution compounding — the standard CLV denominator),
    summed per customer. Complements orders_cohort_ltv (undiscounted
    cohort curves) with the time-value-correct ranking. Ranking is
    on the 2dp-ROUNDED npv with custkey tie-break (quantized-winner
    rule).

    Shape: one scalar min-date broadcast, one map-side discount, one
    per-customer aggregate, TakeOrdered top-50."""
    o = _t(spark, sf_dir, "orders")
    t0 = o.agg(F.min("o_orderdate").alias("d0"))
    cf = o.crossJoin(F.broadcast(t0)).select(
        "o_custkey",
        (
            F.col("o_totalprice")
            / F.pow(
                F.lit(1 + _NPV_RATE),
                F.datediff(F.col("o_orderdate"), F.col("d0")) / 365.0,
            )
        ).alias("pv"),
    )
    npv = cf.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("pv"), 2).alias("npv"),
    )
    return (
        npv.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("npv").desc(), "o_custkey")),
        )
        .filter(F.col("rnk") <= 50)
        .select("o_custkey", "n_orders", "npv")
    )


# ---------------------------------------------------------------------------
# Scoring-model evaluation + heavy
# tails + centroid classification.
#
# WOE/IV binning (the credit-scorecard / feature-selection standard),
# AUC via the Mann-Whitney rank identity (with Gini = 2·AUC − 1 — the
# ranking half of model evaluation next to ml_calibration_ece's
# probability half), the Hill estimator of a power-law tail exponent
# (the degree-distribution diagnostic behind every skew-policy
# decision in this repo), and a nearest-centroid (Rocchio) classifier
# over the labelled embeddings.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# orders_credit_scorecard — WOE / information value by price decile
# ---------------------------------------------------------------------------
_WOE_SQL = """
WITH d AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
         o_totalprice AS x
  FROM orders),
rk AS (SELECT bad, x, NTILE(10) OVER (ORDER BY x, bad) AS bucket FROM d),
b AS (SELECT bucket,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(bad) AS DOUBLE) AS nbad,
             CAST(COUNT(*) - SUM(bad) AS DOUBLE) AS ngood
      FROM rk GROUP BY bucket),
t AS (SELECT SUM(nbad) AS tbad, SUM(ngood) AS tgood FROM b)
SELECT bucket,
       CAST(n AS BIGINT) AS n,
       ROUND(nbad / tbad, 6) AS pct_bad,
       ROUND(ngood / tgood, 6) AS pct_good,
       ROUND(ln((ngood / tgood) / (nbad / tbad)), 6) AS woe,
       ROUND(SUM((ngood / tgood - nbad / tbad)
                 * ln((ngood / tgood) / (nbad / tbad))) OVER (), 6) AS iv
FROM b CROSS JOIN t
"""


@register("orders_credit_scorecard", _WOE_SQL)
def orders_credit_scorecard(spark, sf_dir, _debug: dict | None = None):
    """Weight-of-evidence scorecard binning of total price against
    the F-status "bad" flag: 10 equal-count buckets (NTILE with the
    deterministic (x, bad) tie-break so both engines cut identical
    bins), per-bucket WOE = ln(%good/%bad), and the feature's
    information value IV = Σ(%good − %bad)·WOE — the credit-risk /
    feature-screening standard (IV < 0.02 useless, > 0.3 strong).
    Counts are exact integers; only the ratios round.

    Shape (r14 rewrite, operators/ranks.py): NO full-table NTILE
    window. Every (x, bad) group is homogeneous in the label, so
    NTILE's per-bucket counts depend only on which global positions
    a group's rows occupy — minrank..cum from the distinct-value
    prefix-sum — intersected with the 10 bucket fences (exact
    ⌈n/10⌉/⌊n/10⌋ spans from the one-row total). One parallel
    groupBy over the fact, a |distinct|-row prefix-sum, a
    broadcast-10-row interval-overlap join; identical counts to the
    NTILE form (ties split across fences contribute the same label
    either way), hash-equal to the unchanged oracle."""
    from stockify_spark.operators.ranks import (
        distinct_value_ranks,
        ntile_bucket_bounds,
    )

    d = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
        F.col("o_totalprice").alias("x"),
    )
    g = distinct_value_ranks(
        d.select(F.struct(F.col("x"), F.col("bad")).alias("k")), "k"
    )
    if _debug is not None:
        _debug["rank_frame"] = g
    fences = ntile_bucket_bounds(
        spark, d.agg(F.count(F.lit(1)).cast("long").alias("n_total")), 10
    )
    take = (
        F.least(F.col("cum"), F.col("b_end"))
        - F.greatest(F.col("minrank"), F.col("b_start"))
        + 1
    )
    ov = g.join(
        F.broadcast(fences),
        (F.col("minrank") <= F.col("b_end"))
        & (F.col("cum") >= F.col("b_start")),
    ).select("bucket", F.col("k.bad").alias("bad"), take.alias("take"))
    b = ov.groupBy("bucket").agg(
        F.sum("take").cast("double").alias("n"),
        F.sum(F.col("take") * F.col("bad")).cast("double").alias("nbad"),
        (F.sum("take") - F.sum(F.col("take") * F.col("bad")))
        .cast("double")
        .alias("ngood"),
    )
    t = b.agg(F.sum("nbad").alias("tbad"), F.sum("ngood").alias("tgood"))
    pg = F.col("ngood") / F.col("tgood")
    pb = F.col("nbad") / F.col("tbad")
    woe = F.log(pg / pb)
    scored = b.crossJoin(F.broadcast(t))
    return scored.select(
        "bucket",
        F.col("n").cast("bigint").alias("n"),
        F.round(pb, 6).alias("pct_bad"),
        F.round(pg, 6).alias("pct_good"),
        F.round(woe, 6).alias("woe"),
        F.round(
            F.sum((pg - pb) * woe).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            6,
        ).alias("iv"),
    )


# ---------------------------------------------------------------------------
# orders_price_elasticity — log-log demand regression per brand
# ---------------------------------------------------------------------------
_ELAST_SQL = """
WITH d AS (
  SELECT p_brand AS brand,
         ln(l_extendedprice / l_quantity) AS lp,
         ln(l_quantity) AS lq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_quantity > 0)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COVAR_POP(lp, lq) / VAR_POP(lp), 6) AS elasticity,
       ROUND(AVG(lq) - (COVAR_POP(lp, lq) / VAR_POP(lp)) * AVG(lp), 6)
         AS log_intercept
FROM d GROUP BY brand
"""


@register("orders_price_elasticity", _ELAST_SQL)
def orders_price_elasticity(spark, sf_dir):
    """Own-price elasticity of demand per brand by the log-log OLS
    identity: ε = cov(ln p, ln q)/var(ln p) — the constant-elasticity
    regression every pricing team fits first (unit price from the
    extended/quantity ratio). The slope-as-moments form needs ONE
    aggregate per brand, no iterative fit (the ml_linreg_group
    identity applied to the econ question).

    Shape: one broadcast dim join (part), one per-brand moment
    aggregate with map-side combine — a single fact scan."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
        F.log("l_quantity").alias("lq"),
    )
    slope = F.covar_pop("lp", "lq") / F.var_pop("lp")
    return d.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(slope, 6).alias("elasticity"),
        F.round(F.avg("lq") - slope * F.avg("lp"), 6).alias("log_intercept"),
    )
