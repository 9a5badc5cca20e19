"""Statistics: hypothesis tests, effect sizes, agreement and reliability
coefficients, regression, resampling and sampling.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F, Window

from stockify_spark.queries.text import _PRED_SQL
from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import RAMP_SERIES_LEN, RAMP_SQL, stocks_ramp


@register(
    "sample_seeded",
    # Seed-independent-invariant oracle: the RNG stream is engine-
    # specific, so each engine samples with ITS OWN seeded Bernoulli
    # and emits booleans over shared invariants — sample size inside
    # 6-sigma binomial bounds (p=0.2: flake odds ~1e-9), ids distinct,
    # ids inside the corpus id range — plus the exact corpus count.
    # Hash-exact comparison that still verifies the sampler behaves.
    "WITH t AS (SELECT COUNT(*) AS n_total, MIN(doc_id) AS dmn, MAX(doc_id) AS dmx"
    " FROM documents),"
    " s AS (SELECT doc_id FROM documents USING SAMPLE 20 PERCENT (bernoulli, 42)),"
    " ss AS (SELECT COUNT(*) AS n_sample, COUNT(DISTINCT doc_id) AS n_distinct,"
    " MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM s)"
    " SELECT n_total,"
    " ABS(n_sample - 0.2 * n_total) <= 6 * SQRT(n_total * 0.16) AS count_in_bounds,"
    " n_distinct = n_sample AS ids_distinct,"
    " mn >= dmn AND mx <= dmx AS ids_in_range"
    " FROM t, ss",
)
def sample_seeded(spark, sf_dir):
    """Seeded Bernoulli sampling — the corpus-downsampling primitive
    (every training-data pipeline ends in one). Deterministic for a
    fixed seed + input layout; the RNG stream is engine-specific, so
    the oracle checks seed-independent invariants (see SQL) instead
    of raw ids. The sample itself is map-side only: no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.sample(fraction=0.2, seed=42).select("doc_id")
    stats = s.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.min("doc_id").alias("dmn"),
        F.max("doc_id").alias("dmx"),
    )
    return tot.crossJoin(stats).select(
        "n_total",
        (F.abs(F.col("n_sample") - 0.2 * F.col("n_total"))
         <= 6 * F.sqrt(F.col("n_total") * 0.16)).alias("count_in_bounds"),
        (F.col("n_distinct") == F.col("n_sample")).alias("ids_distinct"),
        ((F.col("mn") >= F.col("dmn")) & (F.col("mx") <= F.col("dmx"))).alias("ids_in_range"),
    )


@register(
    "sample_stratified",
    # Same seed-independent-invariant treatment as sample_seeded, per
    # stratum: each engine draws its OWN Bernoulli sample at the
    # per-language fraction and emits (lang, exact stratum size,
    # sample-count-within-6-sigma, ids-distinct) — hash-exact while
    # verifying the stratified sampler per group.
    "WITH f AS (SELECT lang, doc_id,"
    " CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END AS p FROM documents),"
    " s AS (SELECT lang, doc_id, p FROM f WHERE random() < p),"
    " t AS (SELECT lang, COUNT(*) AS n_docs,"
    " CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END AS p FROM documents GROUP BY lang),"
    " ss AS (SELECT lang, COUNT(*) AS n_sample,"
    " COUNT(DISTINCT doc_id) AS n_distinct FROM s GROUP BY lang)"
    " SELECT t.lang, n_docs,"
    " ABS(COALESCE(n_sample, 0) - t.p * n_docs)"
    "  <= 6 * SQRT(n_docs * t.p * (1 - t.p)) AS count_in_bounds,"
    " COALESCE(n_distinct, 0) = COALESCE(n_sample, 0) AS ids_distinct"
    " FROM t LEFT JOIN ss ON t.lang = ss.lang",
)
def sample_stratified(spark, sf_dir):
    """Stratified sampling by language — per-stratum fractions keep
    low-resource languages from vanishing under uniform sampling.
    The oracle checks per-stratum seed-independent invariants (see
    SQL): the RNG stream is engine-specific, the binomial bounds are
    not."""
    docs = _t(spark, sf_dir, "documents")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    fractions = {lg: (0.5 if lg != "en" else 0.1) for lg in langs}
    s = docs.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")
    p = F.when(F.col("lang") == "en", 0.1).otherwise(0.5)
    t = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).withColumn("p", p)
    ss = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )
    joined = t.join(ss, "lang", "left")
    return joined.select(
        "lang",
        "n_docs",
        (
            F.abs(F.coalesce(F.col("n_sample"), F.lit(0)) - F.col("p") * F.col("n_docs"))
            <= 6 * F.sqrt(F.col("n_docs") * F.col("p") * (1 - F.col("p")))
        ).alias("count_in_bounds"),
        (
            F.coalesce(F.col("n_distinct"), F.lit(0))
            == F.coalesce(F.col("n_sample"), F.lit(0))
        ).alias("ids_distinct"),
    )


# ---------------------------------------------------------------------------
# sample_weighted — Efraimidis-Spirakis A-Res, deterministic source
# ---------------------------------------------------------------------------
_WS_SQL = """
WITH keyed AS (
  SELECT o_orderkey, o_totalprice,
         ln((CAST(CONCAT('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
            / 4503599627370497.0) / o_totalprice AS akey
  FROM orders
)
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM (SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY akey DESC, o_orderkey) AS rn
      FROM keyed)
WHERE rn <= 32
"""


@register("sample_weighted", _WS_SQL)
def sample_weighted(spark, sf_dir):
    """Weighted sample WITHOUT replacement (Efraimidis-Spirakis
    A-Res): each row draws u in (0,1) and keeps key = ln(u)/w; the
    top-k keys are the sample, with inclusion probability
    proportional to weight. The uniform is a SEEDED md5-derived
    value, so both engines draw identical u and the sample is
    hash-exact — the same deterministic-randomness policy as the
    MinHash family. One map-side key expression + a top-k (no global
    sort: TakeOrdered merges per-partition heaps)."""
    o = _t(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / 4503599627370497.0  # 2^52 + 1 keeps u in (0, 1]
    akey = F.ln(u) / F.col("o_totalprice")
    return (
        o.select("o_orderkey", "o_totalprice", akey.alias("akey"))
        .orderBy(F.col("akey").desc(), "o_orderkey")
        .limit(32)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# sample_weighted_group — per-group A-Res weighted sampling
# ---------------------------------------------------------------------------
_WSG_SQL = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln((CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
            / 4503599627370497.0) / n_chars AS akey
  FROM documents
)
SELECT source, doc_id, n_chars
FROM (SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY akey DESC, doc_id) AS rn
      FROM keyed)
WHERE rn <= 8
"""


@register("sample_weighted_group", _WSG_SQL)
def sample_weighted_group(spark, sf_dir):
    """Per-GROUP weighted sample without replacement: 8 documents per
    source, inclusion probability proportional to n_chars —
    Efraimidis-Spirakis A-Res keys (same seeded md5 uniform as the
    global sample_weighted) ranked inside each source partition.
    This is the partition-friendly form a stratified 100 TB corpus
    draw uses: one window per group (per-partition heaps, no global
    sort), keys computed map-side, hash-exact cross-engine."""
    from pyspark.sql import Window as W2

    d = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / 4503599627370497.0
    akey = F.ln(u) / F.col("n_chars")
    w = W2.partitionBy("source").orderBy(F.col("akey").desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", akey.alias("akey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("source", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Statistical hypothesis tests (chi-square
# independence, Welch's t), marketing attribution, typo-tolerant name
# joining (pigeonhole-banded edit distance), a Count-Min sketch with
# cross-engine-reproducible hashing, CUSUM changepoint scoring,
# seasonal decomposition (STL-lite), an inverted text index, a
# haversine range join via latitude banding, Pareto/ABC revenue
# classification, and higher-order array lambdas.
#
# Each query has an exact DuckDB oracle (driver contract,
# __spark_entry__.py). Reference attribution: the reference engine
# (stockify.cu) stops at filters/aggregates/windows (stockify.cu:
# 89-193, 513-634); this module extends the warehouse + training-data
# pipeline surface mandated by SURVEY §2.6/§7.6 with the analytics a
# stock/event platform runs downstream of those primitives.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_chi2 — chi-square test of independence (priority × status)
# ---------------------------------------------------------------------------
_CHI2_SQL = """
WITH obs AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
                    CAST(COUNT(*) AS DOUBLE) AS n
             FROM orders GROUP BY 1, 2),
rm AS (SELECT pri, SUM(n) AS rn FROM obs GROUP BY 1),
cm AS (SELECT st, SUM(n) AS cn FROM obs GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM obs)
SELECT ROUND(SUM((n - rn * cn / t) * (n - rn * cn / t) / (rn * cn / t)), 6) AS chi2,
       CAST((COUNT(DISTINCT pri) - 1) * (COUNT(DISTINCT st) - 1) AS INT) AS dof
FROM obs JOIN rm USING (pri) JOIN cm USING (st) CROSS JOIN tot
"""


@register("stats_chi2", _CHI2_SQL)
def stats_chi2(spark, sf_dir):
    """Pearson chi-square independence test over the priority×status
    contingency table. One groupBy over the fact table builds the
    observed counts; marginals and the grand total are rollups of
    that tiny (|pri|·|st| rows) table, broadcast back — the fact
    table is scanned ONCE and everything after the first shuffle is
    kilobytes regardless of scale. The statistic sums ~15 doubles, so
    cross-engine accumulation drift is ~1e-12 against a 5e-7
    rounding boundary."""
    obs = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    rm = obs.groupBy("pri").agg(F.sum("n").alias("rn"))
    cm = obs.groupBy("st").agg(F.sum("n").alias("cn"))
    tot = obs.agg(F.sum("n").alias("t"))
    e = F.col("rn") * F.col("cn") / F.col("t")
    return (
        obs.join(F.broadcast(rm), "pri")
        .join(F.broadcast(cm), "st")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((F.col("n") - e) * (F.col("n") - e) / e), 6).alias("chi2"),
            (
                (F.countDistinct("pri") - 1) * (F.countDistinct("st") - 1)
            ).cast("int").alias("dof"),
        )
    )


# ---------------------------------------------------------------------------
# stats_ttest — Welch's unequal-variance t-test (click vs view value)
# ---------------------------------------------------------------------------

_TTEST_SQL = """
WITH s AS (SELECT
  AVG(CASE WHEN event_type = 'click' THEN value END) AS m1,
  AVG(CASE WHEN event_type = 'view' THEN value END) AS m2,
  VAR_SAMP(CASE WHEN event_type = 'click' THEN value END) AS v1,
  VAR_SAMP(CASE WHEN event_type = 'view' THEN value END) AS v2,
  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE) AS n1,
  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS n2
 FROM events)
SELECT ROUND((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2) AS df_welch
FROM s
"""


@register("stats_ttest", _TTEST_SQL)
def stats_ttest(spark, sf_dir):
    """Welch two-sample t on event values, click vs view, as ONE
    conditional-aggregation pass — no per-group subqueries, no second
    scan: means/variances/counts for both samples come out of a
    single partial→final aggregate, the same shape at 100 TB. The
    Welch–Satterthwaite df is rounded to 2 (it sums thousands of
    squared terms through VAR_SAMP, whose cross-engine accumulation
    drift is ~1e-9 relative — 6 decimals of a ~4e3 value would sit
    inside the noise)."""
    ev = _t(spark, sf_dir, "events")
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    s = ev.agg(
        F.avg(click).alias("m1"),
        F.avg(view).alias("m2"),
        F.var_samp(click).alias("v1"),
        F.var_samp(view).alias("v2"),
        F.count(click).cast("double").alias("n1"),
        F.count(view).cast("double").alias("n2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return s.select(
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)),
            2,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# stats_ks — two-sample Kolmogorov–Smirnov statistic (click vs view)
# ---------------------------------------------------------------------------
_KS_SQL = """
WITH s AS (SELECT value,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g2
           FROM events WHERE event_type IN ('click', 'view')
             AND value IS NOT NULL),
v AS (SELECT value, CAST(SUM(g1) AS DOUBLE) AS n1, CAST(SUM(g2) AS DOUBLE) AS n2
      FROM s GROUP BY value),
c AS (SELECT SUM(n1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS c1,
             SUM(n2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS c2,
             SUM(n1) OVER () AS t1, SUM(n2) OVER () AS t2
      FROM v)
SELECT ROUND(MAX(ABS(c1 / t1 - c2 / t2)), 6) AS ks_d
FROM c
"""


@register("stats_ks", _KS_SQL)
def stats_ks(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov D: the max ECDF gap between the
    click and view value distributions. Values are grouped to
    DISTINCT points first (so ties contribute to both ECDFs at the
    same step — evaluating mid-tie would overstate D), then one
    ordered prefix sum walks the merged support. The prefix counts
    are INTEGER-exact (sums of 0/1 cast after grouping), so the only
    float ops are one division and one subtraction per distinct
    value — bit-identical across engines, no accumulation drift.
    The global ordered window is the documented single-partition
    parity shape (PLAN_AUDIT.md): correct because the input has
    been reduced to distinct values; the recursable two-phase
    prefix scan (pipeline_token_pack) is the swap-in at scales
    where even the distinct support outgrows one task. NULL values
    are filtered on BOTH faces: Spark's Window.orderBy sorts NULLS
    FIRST while DuckDB's ORDER BY defaults NULLS LAST, so a NULL
    event value would join the ECDF walk at opposite ends and shift
    every prefix — excluding it makes the contract data-independent
    (a NULL observation carries no distributional information
    anyway)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view") & F.col("value").isNotNull()
    )
    v = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("n2"),
    )
    wo = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = v.select(
        F.sum("n1").over(wo).alias("c1"),
        F.sum("n2").over(wo).alias("c2"),
        F.sum("n1").over(wall).alias("t1"),
        F.sum("n2").over(wall).alias("t2"),
    )
    return c.agg(
        F.round(
            F.max(F.abs(F.col("c1") / F.col("t1") - F.col("c2") / F.col("t2"))), 6
        ).alias("ks_d")
    )


# ---------------------------------------------------------------------------
# stats_psi — population stability index (distribution drift)
# ---------------------------------------------------------------------------
_PSI_SQL = """
WITH b AS (SELECT LEAST(CAST(FLOOR(o_totalprice / 60000) AS INT), 9) AS bucket,
                  CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                       THEN 'ref' ELSE 'cur' END AS period
           FROM orders),
c AS (SELECT bucket,
             CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS DOUBLE) AS n_ref,
             CAST(SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS DOUBLE) AS n_cur
      FROM b GROUP BY 1),
t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur,
             CAST(COUNT(*) AS DOUBLE) AS nb FROM c)
SELECT ROUND(SUM(((n_ref + 1) / (t_ref + nb) - (n_cur + 1) / (t_cur + nb))
             * ln(((n_ref + 1) / (t_ref + nb))
                  / ((n_cur + 1) / (t_cur + nb)))), 6) AS psi,
       CAST(MAX(nb) AS INT) AS n_buckets
FROM c CROSS JOIN t
"""


@register("stats_psi", _PSI_SQL)
def stats_psi(spark, sf_dir):
    """Population Stability Index between pre- and post-1998 order
    totals — the drift metric every model-monitoring pipeline
    computes between a reference window and production traffic.
    Fixed-width buckets (data-independent edges, so the bucketing
    needs no quantile pass and two DIFFERENT datasets bucket
    identically — the property that makes PSI mergeable across
    days); add-one smoothing keeps empty buckets finite without a
    data-dependent epsilon. One data-sized groupBy; the PSI itself
    sums ≤10 doubles over the broadcast bucket table."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 60000).cast("int"), F.lit(9)).alias(
            "bucket"
        ),
        F.when(
            F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")), "ref"
        )
        .otherwise("cur")
        .alias("period"),
    )
    c = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0))
        .cast("double")
        .alias("n_ref"),
        F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
        .cast("double")
        .alias("n_cur"),
    )
    t = c.agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count(F.lit(1)).cast("double").alias("nb"),
    )
    p = (F.col("n_ref") + 1) / (F.col("t_ref") + F.col("nb"))
    q = (F.col("n_cur") + 1) / (F.col("t_cur") + F.col("nb"))
    return (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
            F.max("nb").cast("int").alias("n_buckets"),
        )
    )


# ---------------------------------------------------------------------------
# Rank statistics, classical inference,
# rolling regression, URL structure, and a stochastic oscillator.
#
# Design rule shared by every query here: all cross-engine
# accumulations are INTEGER-EXACT in double precision before any
# division or sqrt — ranks are doubled into integers, prices are
# turned into cents, frame sums stay under 2^53 — so the only
# engine-order-sensitive step is a deterministic scalar formula
# written textually identically on both faces, and ROUND(...,6) is a
# display choice, not a tolerance. This is the same exactness
# discipline as stats_ks (integer ECDF prefix sums) and
# window_seasonal (round-before-decide), extended to U tests, ANOVA,
# and Spearman rho.
#
# Reference parity: the oscillator extends the reference's rolling
# min/max family (stockify.cu:142-193, 513-634) with the canonical
# %K/%D composition on the same ramp table; the remaining queries are
# north-star LLM/analytics surface (SURVEY §2 extensions), each with
# a full-value DuckDB oracle.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_mannwhitney — two-sample rank-sum test with tie correction
# ---------------------------------------------------------------------------
_MWU_SQL = """
WITH base AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
ranked AS (
  SELECT event_type,
         CAST(RANK() OVER (ORDER BY value) AS DOUBLE)
           + (CAST(COUNT(*) OVER (PARTITION BY value) AS DOUBLE) - 1) / 2.0
           AS avg_rank
  FROM base
),
ties AS (
  SELECT SUM(c * c * c - c) AS tie_sum
  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM base GROUP BY value) g
),
agg AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
           AS n1,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS n2,
         SUM(CASE WHEN event_type = 'click' THEN avg_rank ELSE 0 END) AS r1
  FROM ranked
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND(r1 - n1 * (n1 + 1) / 2.0, 6) AS u1,
       ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
             / SQRT(n1 * n2 * ((n1 + n2 + 1)
                               - tie_sum / ((n1 + n2) * (n1 + n2 - 1)))
                    / 12.0), 6) AS z
FROM agg, ties
"""


@register("stats_mannwhitney", _MWU_SQL)
def stats_mannwhitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) test: are click and
    purchase event values drawn from the same distribution?
    Average-rank assignment (min-rank + (ties-1)/2) makes the rank
    of every row independent of engine sort-tie order; rank sums are
    half-integer-exact (2*R1 is an integer <= n^2 ~ 1.6e7), and the
    tie-corrected normal approximation z = (U1 - n1*n2/2) /
    sqrt(n1*n2*((n+1) - sum(c^3-c)/(n(n-1)))/12) is a deterministic
    scalar formula written identically on both faces. Completes the
    two-sample family next to stats_ttest (parametric) and stats_ks
    (distribution-free supremum): one rank shuffle + one tiny agg,
    NULL values filtered on both faces (stats_ks ADVICE precedent).
    Scale: a single sort-based rank over the filtered pair of
    cohorts; no per-row Python."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    rw = Window.orderBy("value")
    tw = Window.partitionBy("value")
    ranked = base.select(
        "event_type",
        (
            F.rank().over(rw).cast("double")
            + (F.count(F.lit(1)).over(tw).cast("double") - 1) / 2.0
        ).alias("avg_rank"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("n2"),
        F.sum(
            F.when(F.col("event_type") == "click", F.col("avg_rank")).otherwise(
                0.0
            )
        ).alias("r1"),
    )
    ties = (
        base.groupBy("value")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .agg(
            F.sum(
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            ).alias("tie_sum")
        )
    )
    j = agg.crossJoin(F.broadcast(ties))  # two 1-row frames
    n1, n2, r1, ts = (F.col(c) for c in ("n1", "n2", "r1", "tie_sum"))
    u1 = r1 - n1 * (n1 + 1) / 2.0
    n = n1 + n2
    var = n1 * n2 * ((n + 1) - ts / (n * (n - 1))) / 12.0
    return j.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(u1, 6).alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_anova — one-way ANOVA F across part brands
# ---------------------------------------------------------------------------

_ANOVA_SQL = """
WITH cents AS (
  SELECT p_brand, CAST(ROUND(p_retailprice * 100) AS DOUBLE) AS v
  FROM part WHERE p_retailprice IS NOT NULL
),
grp AS (
  SELECT p_brand, CAST(COUNT(*) AS DOUBLE) AS ng, SUM(v) AS sg,
         SUM(v * v) AS qg
  FROM cents GROUP BY p_brand
),
tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(ng) AS n, SUM(sg) AS s,
         SUM(qg) AS q, SUM(sg * sg / ng) AS w
  FROM grp
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_rows,
       ROUND((w - s * s / n) / 10000.0, 2) AS ss_between,
       ROUND((q - w) / 10000.0, 2) AS ss_within,
       ROUND(((w - s * s / n) / (k - 1)) / ((q - w) / (n - k)), 6) AS f_stat
FROM tot
"""


@register("stats_anova", _ANOVA_SQL)
def stats_anova(spark, sf_dir):
    """One-way ANOVA: does mean retail price differ across the 25
    part brands? Prices become integer cents (exact in double:
    per-group sum of squares <= ~8e14 < 2^53), so the group
    statistics (n_g, S_g, Q_g) are identical integers on both
    engines and the only inexact steps are the S_g^2/n_g divisions
    and the final F — deterministic scalar arithmetic, displayed at
    6dp (sums of squares rescaled back to price^2 units at 2dp).
    F = (SSB/(k-1)) / (SSW/(n-k)) with SSB = sum S_g^2/n_g - S^2/n,
    SSW = Q - sum S_g^2/n_g. Two-level aggregation: one partial
    agg per brand (map-side combine), then a 25-row final — the
    partial->final reduce shape of SURVEY §2.3 A4 applied to
    inference."""
    from pyspark.sql import functions as F

    v = F.round(F.col("p_retailprice") * 100).cast("double")
    grp = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_retailprice").isNotNull())
        .select("p_brand", v.alias("v"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("double").alias("ng"),
            F.sum("v").alias("sg"),
            F.sum(F.col("v") * F.col("v")).alias("qg"),
        )
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(F.col("sg") * F.col("sg") / F.col("ng")).alias("w"),
    )
    k, n, s, q, w = (F.col(c) for c in ("k", "n", "s", "q", "w"))
    ssb = w - s * s / n
    ssw = q - w
    return tot.select(
        k.cast("bigint").alias("k_groups"),
        n.cast("bigint").alias("n_rows"),
        F.round(ssb / 10000.0, 2).alias("ss_between"),
        F.round(ssw / 10000.0, 2).alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# stats_spearman — rank correlation via doubled average ranks
# ---------------------------------------------------------------------------

_SPEARMAN_SQL = """
WITH base AS (
  SELECT p_retailprice AS xv, CAST(p_size AS DOUBLE) AS yv
  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
),
ranked AS (
  SELECT CAST(2 * RANK() OVER (ORDER BY xv)
              + COUNT(*) OVER (PARTITION BY xv) - 1 AS DOUBLE) AS rx,
         CAST(2 * RANK() OVER (ORDER BY yv)
              + COUNT(*) OVER (PARTITION BY yv) - 1 AS DOUBLE) AS ry
  FROM base
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
         AS spearman_rho
FROM s
"""


@register("stats_spearman", _SPEARMAN_SQL)
def stats_spearman(spark, sf_dir):
    """Spearman rank correlation between part retail price and part
    size — the tie-robust monotone-association measure next to
    agg_stddev_corr's Pearson. Doubled average ranks (2*minrank +
    ties - 1) are INTEGERS, so every accumulated sum (sx, sxy <=
    ~3.2e13) is exact in double and engine sum order cannot drift;
    rho is then one deterministic Pearson formula over six exact
    scalars, rho being invariant to the x2 rank scaling. Heavy
    p_size tie groups (~50 distinct sizes over 20k rows) are
    exactly what average-ranking is for.

    Shape (r14 rewrite, operators/ranks.py): the two global rank
    windows became distinct-value prefix-sums — the doubled average
    rank 2·RANK + ties − 1 = 2·minrank + cnt − 1 is a per-VALUE
    constant, so each axis ranks its distinct-value table
    (single-partition stage bounded by value cardinality, ~cents
    for price / ~50 for size) and joins back by value: two parallel
    equi-joins instead of two full-table sorts."""
    from pyspark.sql import functions as F

    from stockify_spark.operators.ranks import distinct_value_ranks

    base = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select(
            F.col("p_retailprice").alias("xv"),
            F.col("p_size").cast("double").alias("yv"),
        )
    )

    def drank_table(col):
        return distinct_value_ranks(base.select(col), col).select(
            col,
            (2 * F.col("minrank") + F.col("cnt") - 1)
            .cast("double")
            .alias("r" + col[0]),
        )

    ranked = (
        base.join(drank_table("xv"), "xv")
        .join(drank_table("yv"), "yv")
        .select("rx", "ry")
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select(
        n.cast("bigint").alias("n_rows"),
        F.round(rho, 6).alias("spearman_rho"),
    )


_THEILSEN_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
pairs AS (
  SELECT a.symbol,
         (b.close - a.close) / (b.pos - a.pos) AS slope
  FROM base a JOIN base b ON b.symbol = a.symbol AND b.pos > a.pos
),
rk AS (
  SELECT symbol, slope,
         row_number() OVER (PARTITION BY symbol ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY symbol) AS n
  FROM pairs
)
SELECT CAST(symbol AS BIGINT) AS symbol, CAST(MAX(n) AS BIGINT) AS n_pairs,
       ROUND(AVG(slope), 6) AS ts_slope
FROM rk
WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
GROUP BY symbol
"""


@register("stats_theil_sen", _THEILSEN_SQL)
def stats_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend estimator per series: the median of
    all C(L,2) pairwise slopes (close_j - close_i)/(j - i). The
    median is taken by EXPLICIT rank selection — row_number the
    slopes, average the rows at ranks (n+1)//2 and (n+2)//2 — so
    both engines average the SAME two middle doubles instead of
    relying on matching quantile-interpolation formulas (the
    documented window_rolling_median fragility). Per-series cost is
    O(L²) with L bounded by the series length — the standard
    pair-explosion trade for a 29.3%-breakdown-point estimator; the
    pair join and both windows are partitioned on symbol, so series
    parallelism carries scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    a = base.select("symbol", F.col("pos").alias("pa"), F.col("close").alias("ca"))
    b = base.select("symbol", F.col("pos").alias("pb"), F.col("close").alias("cb"))
    pairs = a.join(b, "symbol").filter(F.col("pb") > F.col("pa")).select(
        "symbol",
        ((F.col("cb") - F.col("ca")) / (F.col("pb") - F.col("pa"))).alias("slope"),
    )
    w = Window.partitionBy("symbol")
    rk = pairs.select(
        "symbol",
        "slope",
        F.row_number().over(w.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mid = rk.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.groupBy("symbol").agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(F.avg("slope"), 6).alias("ts_slope"),
    )


_MK_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
s AS (
  SELECT a.symbol, SUM(SIGN(b.close - a.close)) AS s_stat
  FROM base a JOIN base b ON b.symbol = a.symbol AND b.pos > a.pos
  GROUP BY a.symbol
),
ties AS (
  SELECT symbol, close, COUNT(*) AS t FROM base GROUP BY symbol, close
),
vt AS (
  SELECT symbol,
         SUM(CAST(t * (t - 1) * (2 * t + 5) AS DOUBLE)) AS tie_term,
         CAST(SUM(t) AS DOUBLE) AS n
  FROM ties GROUP BY symbol
),
v AS (
  SELECT symbol, (n * (n - 1.0) * (2.0 * n + 5.0) - tie_term) / 18.0 AS var_s
  FROM vt
)
SELECT CAST(s.symbol AS BIGINT) AS symbol,
       CAST(s.s_stat AS BIGINT) AS s_stat,
       ROUND(v.var_s, 6) AS var_s,
       ROUND(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1.0) / sqrt(v.var_s)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1.0) / sqrt(v.var_s)
                  ELSE 0.0 END, 6) AS z
FROM s JOIN v ON v.symbol = s.symbol
"""


@register("stats_mann_kendall", _MK_SQL)
def stats_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test per series: S = Σ_{{i<j}}
    sign(x_j − x_i), tie-corrected Var(S) = [n(n−1)(2n+5) −
    Σ_g t(t−1)(2t+5)]/18 over tie groups, continuity-corrected
    Z = (S∓1)/√Var. The nonparametric companion to stats_theil_sen
    (same pair explosion, same symbol partitioning): S and the tie
    counts are INTEGER sums, so the only floats are final closed
    forms on identical operands. The ramp's 18-value period makes
    ties heavy (t = 10 per value per series) — exercising the
    correction term for real."""
    from pyspark.sql import functions as F

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    a = base.select("symbol", F.col("pos").alias("pa"), F.col("close").alias("ca"))
    b = base.select("symbol", F.col("pos").alias("pb"), F.col("close").alias("cb"))
    s = (
        a.join(b, "symbol")
        .filter(F.col("pb") > F.col("pa"))
        .groupBy("symbol")
        .agg(F.sum(F.signum(F.col("cb") - F.col("ca")).cast("long")).alias("s_stat"))
    )
    ties = base.groupBy("symbol", "close").agg(F.count(F.lit(1)).alias("t"))
    vt = ties.groupBy("symbol").agg(
        F.sum(
            (F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).cast("double")
        ).alias("tie_term"),
        F.sum("t").cast("double").alias("n"),
    )
    v = vt.select(
        "symbol",
        (
            (F.col("n") * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5.0) - F.col("tie_term"))
            / 18.0
        ).alias("var_s"),
    )
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1.0) / F.sqrt("var_s"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1.0) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    return s.join(v, "symbol").select(
        "symbol",
        F.col("s_stat").cast("long").alias("s_stat"),
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("z"),
    )


_MI_SQL = """
WITH j AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM j),
mx AS (SELECT event_type, CAST(SUM(c) AS DOUBLE) AS cx FROM j GROUP BY 1),
my AS (SELECT hr, CAST(SUM(c) AS DOUBLE) AS cy FROM j GROUP BY 1)
SELECT ROUND(SUM((j.c / tot.n)
               * ln((j.c / tot.n) / ((mx.cx / tot.n) * (my.cy / tot.n)))), 6)
         AS mutual_info,
       ROUND(-SUM((j.c / tot.n) * ln(j.c / tot.n)), 6) AS joint_entropy,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM j
JOIN mx ON mx.event_type = j.event_type
JOIN my ON my.hr = j.hr
CROSS JOIN tot
"""


@register("stats_mutual_info", _MI_SQL)
def stats_mutual_info(spark, sf_dir):
    """Mutual information between event type and hour-of-day, plus
    the joint entropy (nats): I(X;Y) = Σ p_xy ln(p_xy/(p_x p_y))
    over the 5×24 contingency table. All probabilities are integer
    counts over one total, so both engines feed ln identical
    rationals; the 120-term sum's order drift is absorbed at 6dp.
    The contingency table is one shuffle; marginals are reductions
    of it — the dependence-mining shape for any pair of categorical
    columns at scale."""
    ev = _t(spark, sf_dir, "events")
    j = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)
    tot = j.agg(F.sum("c").cast("double").alias("n"))
    mx = j.groupBy("event_type").agg(F.sum("c").cast("double").alias("cx"))
    my = j.groupBy("hr").agg(F.sum("c").cast("double").alias("cy"))
    c = F.col
    p = c("c") / c("n")
    px = c("cx") / c("n")
    py = c("cy") / c("n")
    return (
        j.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hr")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(p * F.log(p / (px * py))), 6).alias("mutual_info"),
            F.round(-F.sum(p * F.log(p)), 6).alias("joint_entropy"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
    )


# ---------------------------------------------------------------------------
# Multiple-testing control (BH-FDR).
#
# A fleet of per-group hypothesis tests is only as good as its
# multiple-comparisons story: at m=25 groups and alpha=0.05, one
# false positive per screen is the EXPECTED outcome. The
# Benjamini-Hochberg step-up procedure (Benjamini & Hochberg 1995)
# controls the false-discovery rate: sort p-values ascending, find the
# largest k with p_(k) <= q*k/m, reject hypotheses 1..k.
#
# The engine-side trick that makes this exactly reproducible across
# Spark and DuckDB: the test statistic is a z-score, and p_(i) <=
# q*i/(2m) (two-sided) is equivalent to |z|_(i) >= Phi^-1(1 -
# q*i/(2m)) — so instead of computing p-values (no erf/normal-CDF
# builtin in either engine), both faces compare the rank-i |z| against
# a LITERAL threshold ladder computed once at authoring time
# (statistics.NormalDist().inv_cdf, stdlib). BH on p ascending is BH
# on |z| descending; no special functions ever run inside a query.
#
# Family under test: for each of the 25 nations, does its customers'
# mean account balance differ from the global mean? One-sample z
# against the global moments (null: the nation is an exchangeable
# sample of the population).
# ---------------------------------------------------------------------------

# Phi^-1(1 - 0.10*i/(2*25)) for i = 1..25 — BH step-up fence for
# two-sided z at FDR q=0.10, m=25 (see module docstring)
_BH_THR = [
    2.878162, 2.65207, 2.512144, 2.408916, 2.326348, 2.257129,
    2.197286, 2.144411, 2.096927, 2.053749, 2.014091, 1.977368,
    1.943134, 1.911036, 1.880794, 1.85218, 1.825007, 1.799118,
    1.774382, 1.750686, 1.727934, 1.706043, 1.684941, 1.664563,
    1.644854,
]


_THR_VALUES = ", ".join(
    f"({i + 1}, {t})" for i, t in enumerate(_BH_THR)
)


_FDR_SQL = f"""
WITH g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         ROUND(SUM(c_acctbal), 6) AS s1_all,
         ROUND(SUM(c_acctbal * c_acctbal), 6) AS s2_all
  FROM customer
),
per AS (
  SELECT c_nationkey AS nationkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(c_acctbal), 6) AS s1
  FROM customer GROUP BY 1
),
z AS (
  SELECT nationkey, n,
         ROUND((s1 / n - s1_all / n_all)
               / sqrt((s2_all / n_all - (s1_all / n_all) * (s1_all / n_all))
                      / n), 6) AS zscore
  FROM per CROSS JOIN g
),
r AS (
  SELECT nationkey, n, zscore,
         ROW_NUMBER() OVER (ORDER BY abs(zscore) DESC, nationkey) AS rnk
  FROM z
),
thr(rnk, thr) AS (VALUES {_THR_VALUES}),
hit AS (
  SELECT r.nationkey, r.n, r.zscore, r.rnk,
         CAST(thr.thr AS DOUBLE) AS thr,
         abs(r.zscore) >= CAST(thr.thr AS DOUBLE) AS over_fence
  FROM r JOIN thr USING (rnk)
),
kstar AS (
  SELECT COALESCE(MAX(CASE WHEN over_fence THEN rnk END), 0) AS k
  FROM hit
)
SELECT nationkey, n, zscore, CAST(rnk AS BIGINT) AS rnk, thr,
       rnk <= k AS rejected
FROM hit CROSS JOIN kstar
"""


@register("stats_fdr_bh", _FDR_SQL)
def stats_fdr_bh(spark, sf_dir):
    """Benjamini-Hochberg FDR screen over the 25 per-nation
    mean-balance z-tests: z-scores from globally-rounded moment sums
    (round-before-decide, the repo's cross-engine float policy),
    ranked by |z| descending with a nationkey tie-break, compared to
    the literal Phi^-1 fence ladder, and step-up rejected (every
    rank <= the deepest fence crossing, including any non-crossing
    ranks above it — the step-up property that distinguishes BH from
    per-test thresholding; pinned in tests/test_ext38.py).

    Scale shape: two aggregates over the fact table (one global, one
    per-group, both map-side combinable), then every remaining op
    runs on m=25 rows — the threshold ladder is a VALUES literal,
    the rank window and the k* maximum are group-count-sized. At
    100 TB the plan is still two scans (or one, with a grouping-sets
    rewrite) over customer and a driver-negligible tail."""
    cust = _t(spark, sf_dir, "customer")
    g = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.round(F.sum("c_acctbal"), 6).alias("s1_all"),
        F.round(F.sum(F.col("c_acctbal") * F.col("c_acctbal")), 6).alias(
            "s2_all"
        ),
    )
    per = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("c_acctbal"), 6).alias("s1"),
    )
    mu = F.col("s1_all") / F.col("n_all")
    var = F.col("s2_all") / F.col("n_all") - mu * mu
    z = per.crossJoin(F.broadcast(g)).select(
        "nationkey",
        "n",
        F.round(
            (F.col("s1") / F.col("n") - mu) / F.sqrt(var / F.col("n")), 6
        ).alias("zscore"),
    )
    r = z.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("zscore")).desc(), F.col("nationkey"))
        ),
    )
    thr = F.element_at(
        F.array(*[F.lit(t) for t in _BH_THR]), F.col("rnk").cast("int")
    )
    hit = r.select(
        "nationkey",
        "n",
        "zscore",
        "rnk",
        thr.alias("thr"),
        (F.abs(F.col("zscore")) >= thr).alias("over_fence"),
    )
    k = hit.agg(
        F.coalesce(
            F.max(F.when(F.col("over_fence"), F.col("rnk"))), F.lit(0)
        ).alias("k")
    )
    return hit.crossJoin(F.broadcast(k)).select(
        "nationkey",
        "n",
        "zscore",
        F.col("rnk").cast("long").alias("rnk"),
        "thr",
        (F.col("rnk") <= F.col("k")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals.
#
# The classical bootstrap resamples n rows WITH replacement per
# replicate — a join against random indexes, unusable at 100 TB. The
# Poisson bootstrap (the public large-scale variant — Chamandy,
# Muralidharan, Najmi & Naidu 2012, "Estimating uncertainty for
# massive data streams") replaces the multinomial resample with an
# independent Poisson(1) weight per (row, replicate): single pass, no
# coordination, each replicate's weighted mean converges to the same
# bootstrap distribution. Weights here are fully deterministic — the
# repo's seeded-md5 uniform inverted through the Poisson(1) CDF as a
# literal threshold ladder — so Spark and DuckDB draw bit-identical
# resamples and the CI is exact-hash comparable.
# ---------------------------------------------------------------------------
_B = 100  # bootstrap replicates

# cumulative Poisson(1) CDF, 12dp literals (module docstring)
_POIS_CDF = [
    0.367879441171, 0.735758882343, 0.919698602929, 0.981011843124,
    0.996340153173, 0.999405815182, 0.999916758851, 0.999989750803,
    0.999998874797,
]

# alpha = 5%: explicit-rank fences over the B sorted replicate means
_LO_RANK, _HI_RANK = 3, 98


def _case_sql(u: str) -> str:
    out = "CASE "
    for k, c in enumerate(_POIS_CDF):
        out += f"WHEN {u} < {c} THEN {k} "
    return out + f"ELSE {len(_POIS_CDF)} END"


_BOOT_SQL = f"""
WITH d AS (SELECT o_orderpriority AS pri, o_totalprice AS x, o_orderkey AS k
           FROM orders),
e AS (SELECT pri, x, k, unnest(range(1, {_B + 1})) AS b FROM d),
w AS (SELECT pri, x, b,
             {_case_sql(
                 "(CAST(CONCAT('0x', substr(md5(CONCAT(CAST(b AS VARCHAR),"
                 " '|', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT)"
                 " / 4294967296.0)"
             )} AS wt
      FROM e),
rep AS (SELECT pri, b,
               ROUND(SUM(wt * x), 6) / SUM(wt) AS mean_b
        FROM w GROUP BY 1, 2 HAVING SUM(wt) > 0),
rk AS (SELECT pri, mean_b,
              ROW_NUMBER() OVER (PARTITION BY pri ORDER BY mean_b, b) AS r
       FROM rep),
pt AS (SELECT pri, ROUND(SUM(x), 6) / COUNT(*) AS point, COUNT(*) AS n
       FROM d GROUP BY 1)
SELECT pt.pri AS priority,
       CAST(pt.n AS BIGINT) AS n,
       ROUND(pt.point, 6) AS point_mean,
       ROUND(MAX(CASE WHEN r = {_LO_RANK} THEN mean_b END), 6) AS ci_lo,
       ROUND(MAX(CASE WHEN r = {_HI_RANK} THEN mean_b END), 6) AS ci_hi
FROM pt JOIN rk ON rk.pri = pt.pri
GROUP BY 1, 2, 3
"""


@register("stats_bootstrap_ci", _BOOT_SQL)
def stats_bootstrap_ci(spark, sf_dir):
    """95% Poisson-bootstrap CI for the mean order value per
    priority: 100 replicates, weight of row k in replicate b =
    PoissonCDF^-1(md5int(b|k) / 2^32) via the literal ladder, CI
    fences at explicit ranks 3 and 98 of the sorted replicate means
    (the agg_histogram_equidepth rank discipline — no interpolation
    ambiguity). Replicate numerators round to 6dp before the divide;
    the weight sum is integer-exact.

    Scale shape: the replicate explode multiplies rows by B but
    stays a narrow map; the only shuffle is the (priority, b)
    aggregate — B*groups cells, map-side combinable — and the rank
    window runs on B rows per group. No join against a resample
    index, no multinomial coordination: that single-pass property is
    the entire reason this bootstrap variant exists. Coverage
    calibration (the CI catching the true mean of held-out
    re-draws) is pinned statistically in tests/test_ext46.py."""
    from stockify_spark.functions.scale import spread_small_scan

    d = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    # spread the single-row-group orders scan BEFORE the ×B explode:
    # the md5-per-(row, replicate) map is B× the scan bytes in CPU,
    # and a one-file scan otherwise runs all of it in ONE task (the
    # agg_countmin_sketch case, functions/scale §doc; no-op at scale)
    e = spread_small_scan(d).select(
        "pri", "x", "k",
        F.explode(F.sequence(F.lit(1), F.lit(_B))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    wt = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        wt = F.when(u < _POIS_CDF[k], F.lit(k)).otherwise(wt)
    w = e.select("pri", "x", "b", wt.alias("wt"))
    rep = (
        w.groupBy("pri", "b")
        .agg(
            F.round(F.sum(F.col("wt") * F.col("x")), 6).alias("num"),
            F.sum("wt").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select("pri", "b", (F.col("num") / F.col("den")).alias("mean_b"))
    )
    rk = rep.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("pri").orderBy("mean_b", "b")
        ),
    )
    pt = d.groupBy("pri").agg(
        (F.round(F.sum("x"), 6) / F.count(F.lit(1))).alias("point"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        pt.join(rk, "pri")
        .groupBy(
            F.col("pri").alias("priority"),
            F.col("n").cast("long").alias("n"),
            F.round("point", 6).alias("point_mean"),
        )
        .agg(
            F.round(
                F.max(F.when(F.col("r") == _LO_RANK, F.col("mean_b"))), 6
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("r") == _HI_RANK, F.col("mean_b"))), 6
            ).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction.
#
# The standard online-experimentation estimator (Deng, Xu, Kohavi &
# Walker 2013, "Improving the sensitivity of online controlled
# experiments"): adjust each unit's experiment-period metric with its
# PRE-period covariate, y_cuped = y - theta * (x - mean(x)), theta =
# cov(x, y) / var(x). The adjustment subtracts the predictable
# between-user variance, shrinking the A/B test's CI by the squared
# pre/post correlation — the cheapest sensitivity win in experiment
# analytics, and a pure moments computation: two aggregates and a map.
# ---------------------------------------------------------------------------
_SPLIT = "2024-01-16 00:00:00"


_CUPED_SQL = f"""
WITH u AS (
  SELECT user_id,
         ROUND(SUM(CASE WHEN ts < TIMESTAMP '{_SPLIT}'
                        THEN value ELSE 0 END), 6) AS x,
         ROUND(SUM(CASE WHEN ts >= TIMESTAMP '{_SPLIT}'
                        THEN value ELSE 0 END), 6) AS y,
         user_id % 2 AS arm
  FROM events GROUP BY user_id),
m AS (
  SELECT COUNT(*) AS n,
         ROUND(SUM(x), 6) AS sx, ROUND(SUM(y), 6) AS sy,
         ROUND(SUM(x * x), 6) AS sxx, ROUND(SUM(x * y), 6) AS sxy
  FROM u),
t AS (
  SELECT n, sx / n AS xbar,
         (sxy / n - (sx / n) * (sy / n))
         / (sxx / n - (sx / n) * (sx / n)) AS theta
  FROM m),
adj AS (
  SELECT u.arm, u.y, u.y - t.theta * (u.x - t.xbar) AS yc
  FROM u CROSS JOIN t)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(ROUND(SUM(y), 6) / COUNT(*), 6) AS mean_y,
       ROUND(ROUND(SUM(yc), 6) / COUNT(*), 6) AS mean_y_cuped,
       ROUND(ROUND(SUM(y * y), 6) / COUNT(*)
             - POW(ROUND(SUM(y), 6) / COUNT(*), 2), 6) AS var_y,
       ROUND(ROUND(SUM(yc * yc), 6) / COUNT(*)
             - POW(ROUND(SUM(yc), 6) / COUNT(*), 2), 6) AS var_y_cuped
FROM adj GROUP BY arm
"""


@register("stats_cuped", _CUPED_SQL)
def stats_cuped(spark, sf_dir):
    """CUPED over the events stream: pre-period (Jan 1-15) per-user
    value sum as the covariate, post-period (Jan 16-30) sum as the
    metric, arms synthesized as user_id parity, theta pooled across
    arms (the standard form — theta is a nuisance parameter, not a
    per-arm estimate). Emits per-arm n, raw and adjusted means, raw
    and adjusted population variances; the variance drop equals the
    squared pre/post correlation (pinned in tests/test_ext47.py,
    along with mean preservation — CUPED must not move the pooled
    mean, only shrink the spread).

    Float policy: per-user sums round at 6dp (first order-sensitive
    reduction), the user-level moments round again at 6dp, and every
    derived quantity (theta, xbar, adjusted values) is then identical
    IEEE arithmetic on identical doubles in both engines.

    Scale shape: one user-level aggregate over the fact stream
    (map-side combinable), one 5-number moment aggregate, one scalar
    broadcast back over the user table, one per-arm rollup — the
    same two-pass moments layout as ml_ridge_closed_form, linear
    end to end."""
    split = F.lit(_SPLIT).cast("timestamp")
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    u = ev.groupBy("user_id").agg(
        F.round(
            F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)),
            6,
        ).alias("x"),
        F.round(
            F.sum(
                F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)
            ),
            6,
        ).alias("y"),
        (F.first("user_id") % 2).alias("arm"),
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"),
    )
    t = m.select(
        (F.col("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")))
            / (F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n")))
        ).alias("theta"),
    )
    adj = u.crossJoin(F.broadcast(t)).select(
        "arm",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))).alias(
            "yc"
        ),
    )
    cnt = F.count(F.lit(1))
    return adj.groupBy(F.col("arm").cast("long").alias("arm")).agg(
        cnt.cast("long").alias("n_users"),
        F.round(F.round(F.sum("y"), 6) / cnt, 6).alias("mean_y"),
        F.round(F.round(F.sum("yc"), 6) / cnt, 6).alias("mean_y_cuped"),
        F.round(
            F.round(F.sum(F.col("y") * F.col("y")), 6) / cnt
            - F.pow(F.round(F.sum("y"), 6) / cnt, 2),
            6,
        ).alias("var_y"),
        F.round(
            F.round(F.sum(F.col("yc") * F.col("yc")), 6) / cnt
            - F.pow(F.round(F.sum("yc"), 6) / cnt, 2),
            6,
        ).alias("var_y_cuped"),
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test.
#
# Wald's SPRT (1945) — the original always-valid sequential test:
# observe a stream, accumulate the log-likelihood ratio between two
# simple hypotheses, stop the moment it crosses ln(B) (accept H0) or
# ln(A) (accept H1); error rates alpha = beta = 0.05 give the classic
# fences A = 19, B = 1/19. Modern experimentation platforms run
# exactly this shape for early stopping.
#
# Determinism by construction: for a Bernoulli stream the LLR after n
# observations is k*c1 + (n-k)*c0 where k is the success PREFIX COUNT
# and c1/c0 are literals — so both engines derive every partial LLR
# from two integers and two literals, and no float accumulation order
# exists to drift.
# ---------------------------------------------------------------------------
_P0, _P1 = 0.5, 0.6

_THRESH = 10.0  # success := value > 10.0

_C1 = math.log(_P1 / _P0)  # LLR per success

_C0 = math.log((1 - _P1) / (1 - _P0))  # LLR per failure

_LN_A = math.log(19.0)

_LN_B = -math.log(19.0)


_SPRT_SQL = f"""
WITH s AS (
  SELECT event_type,
         CASE WHEN value > {_THRESH} THEN 1 ELSE 0 END AS x,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS n
  FROM events),
c AS (
  SELECT event_type, n,
         SUM(x) OVER (PARTITION BY event_type ORDER BY n) AS k
  FROM s),
l AS (
  SELECT event_type, n, k,
         k * CAST({_C1!r} AS DOUBLE)
         + (n - k) * CAST({_C0!r} AS DOUBLE) AS llr
  FROM c),
hit AS (
  SELECT event_type, n, k, llr,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS hitrank
  FROM l WHERE llr >= CAST({_LN_A!r} AS DOUBLE)
     OR llr <= CAST({_LN_B!r} AS DOUBLE))
SELECT event_type, CAST(n AS BIGINT) AS n_at_decision,
       CAST(k AS BIGINT) AS successes,
       ROUND(llr, 6) AS llr,
       CASE WHEN llr >= CAST({_LN_A!r} AS DOUBLE) THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM hit WHERE hitrank = 1
"""


@register("stats_sprt", _SPRT_SQL)
def stats_sprt(spark, sf_dir):
    """SPRT per event type on the Bernoulli stream 1{{value > 10}}
    in (ts, event_id) order — H0: p=.5 vs H1: p=.6, fences at
    ±ln 19 (alpha = beta = .05). Emits the first crossing: sample
    size, success count, the LLR, and the verdict. The first-
    crossing row is found by ranking the crossing set, not by a
    sequential scan — the prefix-count formulation makes every
    partial LLR independently computable, which is also what makes
    the operator one window pass at 100 TB (and is pinned against a
    literal step-by-step walk in tests/test_ext56.py, including
    that no earlier prefix crosses either fence).

    Wald's guarantee is about ERROR RATES under the hypotheses, not
    this data; what the engine owes the user — and what the oracle
    checks — is the exact stopping time and verdict for the stream
    as ordered."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.when(F.col("value") > _THRESH, 1).otherwise(0).alias("x"),
        F.row_number().over(w).alias("n"),
    )
    wn = Window.partitionBy("event_type").orderBy("n")
    c = s.select(
        "event_type", "n", F.sum("x").over(wn).alias("k")
    )
    llr = F.col("k") * F.lit(_C1) + (F.col("n") - F.col("k")) * F.lit(_C0)
    l = c.select("event_type", "n", "k", llr.alias("llr"))
    hit = l.filter(
        (F.col("llr") >= _LN_A) | (F.col("llr") <= _LN_B)
    ).withColumn("hitrank", F.row_number().over(wn))
    return hit.filter(F.col("hitrank") == 1).select(
        "event_type",
        F.col("n").cast("long").alias("n_at_decision"),
        F.col("k").cast("long").alias("successes"),
        F.round("llr", 6).alias("llr"),
        F.when(F.col("llr") >= _LN_A, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals.
#
# Conformal prediction (Vovk et al. 2005; Lei et al. 2018 split form)
# is the distribution-free answer to "how wrong is my model": fit on a
# train split, score absolute residuals on a held-out calibration
# split, and inflate every prediction by the ceil((n+1)(1-alpha))-th
# smallest calibration residual. The resulting intervals cover the
# truth with probability >= 1-alpha under exchangeability alone — no
# Gaussian assumption, any model. It is pure order statistics, so the
# engine form is exact: an explicit-rank quantile (the
# agg_histogram_equidepth discipline) over the calibration scores,
# broadcast to the test rows.
#
# Model under test: predict o_totalprice by the train-split mean of
# the order's priority class — deliberately crude, because conformal's
# guarantee holds regardless and the WIDTH exposes model quality.
# ---------------------------------------------------------------------------
_ALPHA = 0.1


_CONF_SQL = f"""
WITH d AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS y,
         o_orderkey % 4 AS fold
  FROM orders),
model AS (
  SELECT pri, ROUND(SUM(y), 6) / COUNT(*) AS pred
  FROM d WHERE fold IN (0, 2) GROUP BY 1),
calib AS (
  SELECT abs(d.y - m.pred) AS score
  FROM d JOIN model m USING (pri) WHERE d.fold = 1),
q AS (
  SELECT score AS qhat
  FROM (SELECT score, ROW_NUMBER() OVER (ORDER BY score) AS r,
               COUNT(*) OVER () AS n
        FROM calib)
  WHERE r = CAST(ceil((n + 1) * {1 - _ALPHA}) AS BIGINT)),
test AS (
  SELECT d.k, d.pri, d.y, m.pred
  FROM d JOIN model m USING (pri) WHERE d.fold = 3)
SELECT k AS o_orderkey, pri AS priority,
       ROUND(pred, 6) AS pred,
       ROUND(pred - qhat, 6) AS lo,
       ROUND(pred + qhat, 6) AS hi,
       (y >= pred - qhat AND y <= pred + qhat) AS covered
FROM test CROSS JOIN q
"""


@register("stats_conformal_interval", _CONF_SQL)
def stats_conformal_interval(spark, sf_dir):
    """Split-conformal 90% intervals for order totals: train on folds
    0/2 (per-priority mean), calibrate on fold 1 (absolute
    residuals), emit per-test-row (fold 3) intervals and coverage
    flags. qhat is the explicit-rank ceil((n+1)*0.9) order statistic
    — no interpolation, so both engines pick the same calibration
    row. The finite-sample guarantee (empirical coverage >= ~90% on
    the exchangeable synthetic data) and the rank rule itself are
    pinned in tests/test_ext61.py.

    Scale shape: one train aggregate (groups-sized), one calibration
    scoring pass, one rank window over calibration scores (at 100 TB
    the explicit-rank quantile is a two-phase distributed selection
    — the agg_exact_median machinery — or calibration subsamples,
    which conformal theory explicitly permits), then a map over test
    rows with two broadcast scalars."""
    d = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderkey") % 4).alias("fold"),
    )
    model = (
        d.filter(F.col("fold").isin(0, 2))
        .groupBy("pri")
        .agg((F.round(F.sum("y"), 6) / F.count(F.lit(1))).alias("pred"))
    )
    calib = (
        d.filter(F.col("fold") == 1)
        .join(F.broadcast(model), "pri")
        .select(F.abs(F.col("y") - F.col("pred")).alias("score"))
    )
    from pyspark.sql import Window

    ranked = calib.select(
        "score",
        F.row_number().over(Window.orderBy("score")).alias("r"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    q = ranked.filter(
        F.col("r")
        == F.ceil((F.col("n") + 1) * F.lit(1 - _ALPHA)).cast("long")
    ).select(F.col("score").alias("qhat"))
    test = d.filter(F.col("fold") == 3).join(F.broadcast(model), "pri")
    return test.crossJoin(F.broadcast(q)).select(
        F.col("k").alias("o_orderkey"),
        F.col("pri").alias("priority"),
        F.round("pred", 6).alias("pred"),
        F.round(F.col("pred") - F.col("qhat"), 6).alias("lo"),
        F.round(F.col("pred") + F.col("qhat"), 6).alias("hi"),
        (
            (F.col("y") >= F.col("pred") - F.col("qhat"))
            & (F.col("y") <= F.col("pred") + F.col("qhat"))
        ).alias("covered"),
    )


# ---------------------------------------------------------------------------
# Granger causality (lag-1).
#
# Granger's test (1969): x "Granger-causes" y if lagged x improves the
# prediction of y beyond lagged y alone — an F-test between the
# restricted model y_t ~ y_{t-1} and the full model y_t ~ y_{t-1} +
# x_{t-1}. With one added regressor the whole test is closed-form
# linear algebra over centered second moments (a 2x2 Cramer solve —
# the ml_ridge_closed_form discipline), so both engines derive the
# F statistic from ten rounded sums and identical IEEE arithmetic.
#
# Series under test: monthly order COUNT (x, hundreds) vs monthly
# revenue (y, millions) — mechanically coupled in the synthetic data
# (revenue is a sum over orders). The unit scaling is load-bearing for
# cross-engine exactness: raw revenue moments reach 1e18, where a
# double's ulp (~128) dwarfs 6dp rounding and engine accumulation
# order leaks into the centered differences; at millions the moments
# sit near 1e6 and the rounding policy actually pins them. The F
# statistic is invariant under the rescaling (both RSS scale by the
# same factor squared).
# ---------------------------------------------------------------------------
_GRANGER_SQL = """
WITH m AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
         CAST(COUNT(*) AS DOUBLE) / 100 AS x,
         ROUND(SUM(o_totalprice), 2) / 1000000 AS y
  FROM orders GROUP BY 1),
l AS (
  SELECT y,
         LAG(y) OVER (ORDER BY ym) AS y1,
         LAG(x) OVER (ORDER BY ym) AS x1
  FROM m),
d AS (SELECT y, y1, x1 FROM l WHERE y1 IS NOT NULL),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(y), 6) AS sy, ROUND(SUM(y1), 6) AS sy1,
         ROUND(SUM(x1), 6) AS sx1,
         ROUND(SUM(y * y), 6) AS syy,
         ROUND(SUM(y1 * y1), 6) AS sy1y1,
         ROUND(SUM(x1 * x1), 6) AS sx1x1,
         ROUND(SUM(y1 * x1), 6) AS sy1x1,
         ROUND(SUM(y * y1), 6) AS syy1,
         ROUND(SUM(y * x1), 6) AS syx1
  FROM d),
c AS (
  SELECT n,
         syy - sy * sy / n AS cyy,
         sy1y1 - sy1 * sy1 / n AS c11,
         sx1x1 - sx1 * sx1 / n AS c22,
         sy1x1 - sy1 * sx1 / n AS c12,
         syy1 - sy * sy1 / n AS r1,
         syx1 - sy * sx1 / n AS r2
  FROM s),
f AS (
  SELECT n, cyy, c11, c22, c12, r1, r2,
         (r1 * c22 - r2 * c12) / (c11 * c22 - c12 * c12) AS bf,
         (r2 * c11 - r1 * c12) / (c11 * c22 - c12 * c12) AS cf,
         r1 / c11 AS br
  FROM c)
SELECT n,
       ROUND(br, 6) AS beta_restricted,
       ROUND(bf, 6) AS beta_y_lag,
       ROUND(cf, 6) AS beta_x_lag,
       ROUND(cyy - br * r1, 6) AS rss_restricted,
       ROUND(cyy - bf * r1 - cf * r2, 6) AS rss_full,
       ROUND(((cyy - br * r1) - (cyy - bf * r1 - cf * r2))
             * (n - 3) / (cyy - bf * r1 - cf * r2), 6) AS f_stat
FROM f
"""


@register("stats_granger", _GRANGER_SQL)
def stats_granger(spark, sf_dir):
    """Lag-1 Granger test of monthly order count on monthly revenue:
    centered moments from ten 6dp-rounded sums, restricted and full
    OLS in closed form (demeaning absorbs the intercept, so the full
    model is a 2x2 Cramer solve), F = (RSS_r - RSS_f)(n-3)/RSS_f.
    Pinned against numpy lstsq in tests/test_ext64.py, including
    the two structural identities the algebra must satisfy: RSS_f <=
    RSS_r always (an extra regressor never hurts in-sample) and
    F >= 0.

    Scale shape: one monthly aggregate over the fact table, a lag
    window over the months-sized series, one 10-sum aggregate, and
    scalar arithmetic — the ml_ridge/ml_logreg moments layout; the
    data-sized work is a single map-side-combinable groupBy however
    large orders grows."""
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
        )
        .agg(
            (F.count(F.lit(1)).cast("double") / 100).alias("x"),
            (F.round(F.sum("o_totalprice"), 2) / 1000000).alias("y"),
        )
    )
    w = Window.orderBy("ym")
    d = (
        m.select(
            "y",
            F.lag("y").over(w).alias("y1"),
            F.lag("x").over(w).alias("x1"),
        )
        .filter(F.col("y1").isNotNull())
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum("y1"), 6).alias("sy1"),
        F.round(F.sum("x1"), 6).alias("sx1"),
        F.round(F.sum(F.col("y") * F.col("y")), 6).alias("syy"),
        F.round(F.sum(F.col("y1") * F.col("y1")), 6).alias("sy1y1"),
        F.round(F.sum(F.col("x1") * F.col("x1")), 6).alias("sx1x1"),
        F.round(F.sum(F.col("y1") * F.col("x1")), 6).alias("sy1x1"),
        F.round(F.sum(F.col("y") * F.col("y1")), 6).alias("syy1"),
        F.round(F.sum(F.col("y") * F.col("x1")), 6).alias("syx1"),
    )
    c = s.select(
        "n",
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("sy1y1") - F.col("sy1") * F.col("sy1") / F.col("n")).alias("c11"),
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / F.col("n")).alias("c22"),
        (F.col("sy1x1") - F.col("sy1") * F.col("sx1") / F.col("n")).alias("c12"),
        (F.col("syy1") - F.col("sy") * F.col("sy1") / F.col("n")).alias("r1"),
        (F.col("syx1") - F.col("sy") * F.col("sx1") / F.col("n")).alias("r2"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    f = c.select(
        "n",
        "cyy",
        "r1",
        "r2",
        ((F.col("r1") * F.col("c22") - F.col("r2") * F.col("c12")) / det).alias(
            "bf"
        ),
        ((F.col("r2") * F.col("c11") - F.col("r1") * F.col("c12")) / det).alias(
            "cf"
        ),
        (F.col("r1") / F.col("c11")).alias("br"),
    )
    rss_r = F.col("cyy") - F.col("br") * F.col("r1")
    rss_f = F.col("cyy") - F.col("bf") * F.col("r1") - F.col("cf") * F.col("r2")
    return f.select(
        "n",
        F.round("br", 6).alias("beta_restricted"),
        F.round("bf", 6).alias("beta_y_lag"),
        F.round("cf", 6).alias("beta_x_lag"),
        F.round(rss_r, 6).alias("rss_restricted"),
        F.round(rss_f, 6).alias("rss_full"),
        F.round((rss_r - rss_f) * (F.col("n") - 3) / rss_f, 6).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap.
#
# Comparing two RANKINGS (two retrieval models, two scoring functions,
# yesterday's top-N vs today's) needs a measure that weights the top
# more than the tail and tolerates non-conjoint lists — Webber,
# Moffat & Zobel 2010's RBO: with persistence p,
#
#   RBO@k = (1 - p) * sum_{d=1..k} p^(d-1) * |A_d n B_d| / d
#
# (A_d = the first d items of ranking A). The prefix-overlap series
# |A_d n B_d| is one pass over the merged position table: an item
# contributes to every depth >= max(rank_A, rank_B), so overlap@d is a
# running count of items whose WORSE rank is <= d.
#
# Rankings under test: parts by revenue vs parts by quantity — two
# plausible "importance" orderings of the same catalog.
# ---------------------------------------------------------------------------
_P = 0.9

_DEPTH = 20

# (1-p) * p^(d-1) as literals: engine pow() implementations differ by
# an ulp, which flips 6dp rounding of the running sum; identical
# literal weights parse to identical doubles on both engines
_W = [(1 - _P) * _P ** (d - 1) for d in range(1, _DEPTH + 1)]

_W_VALUES = ", ".join(f"({d + 1}, {w!r})" for d, w in enumerate(_W))


_RBO_SQL = f"""
WITH s AS (
  SELECT l_partkey AS part,
         ROUND(SUM(l_extendedprice), 2) AS rev,
         CAST(SUM(l_quantity) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1),
ra AS (SELECT part, ROW_NUMBER() OVER (ORDER BY rev DESC, part) AS r
       FROM s),
rb AS (SELECT part, ROW_NUMBER() OVER (ORDER BY qty DESC, part) AS r
       FROM s),
j AS (
  SELECT ra.part, GREATEST(ra.r, rb.r) AS worse
  FROM ra JOIN rb USING (part)
  WHERE ra.r <= {_DEPTH} AND rb.r <= {_DEPTH}),
d(depth, w) AS (VALUES {_W_VALUES}),
ov AS (
  SELECT d.depth, CAST(d.w AS DOUBLE) AS w,
         CAST(COUNT(j.part) AS BIGINT) AS overlap
  FROM d LEFT JOIN j ON j.worse <= d.depth
  GROUP BY 1, 2)
SELECT CAST(depth AS BIGINT) AS depth, overlap,
       ROUND(CAST(overlap AS DOUBLE) / depth, 6) AS agreement,
       ROUND(SUM(w * CAST(overlap AS DOUBLE) / depth)
             OVER (ORDER BY depth), 7) AS rbo_at_depth
FROM ov
"""


@register("stats_rbo", _RBO_SQL)
def stats_rbo(spark, sf_dir):
    """Rank-biased overlap (p=0.9, depth 20) between the
    revenue-ranked and quantity-ranked part lists, emitted as the
    whole prefix curve (depth, overlap, agreement, cumulative RBO) —
    the diagnostic form, not just the scalar. Identities pinned in
    tests/test_ext71.py: identical rankings give agreement 1 at
    every depth and RBO -> 1 - p^k normalization, disjoint prefixes
    give 0, and the top-weighting property (an inversion at depth 2
    costs more RBO than one at depth 20).

    Scale shape: one part-level aggregate (map-side combinable), two
    top-DEPTH rankings (TakeOrdered at scale — never a full sort),
    and a DEPTH-sized overlap table; the depth join and running sum
    touch 20 rows."""
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
    )
    ra = s.select(
        "part",
        F.row_number().over(Window.orderBy(F.col("rev").desc(), "part")).alias(
            "r_a"
        ),
    ).filter(F.col("r_a") <= _DEPTH)
    rb = s.select(
        "part",
        F.row_number().over(Window.orderBy(F.col("qty").desc(), "part")).alias(
            "r_b"
        ),
    ).filter(F.col("r_b") <= _DEPTH)
    j = ra.join(rb, "part").select(
        "part", F.greatest("r_a", "r_b").alias("worse")
    )
    spark_sess = _t(spark, sf_dir, "region").sparkSession
    d = spark_sess.createDataFrame(
        [(i + 1, w) for i, w in enumerate(_W)], "depth long, w double"
    )
    ov = (
        d.join(F.broadcast(j), F.col("worse") <= F.col("depth"), "left")
        .groupBy("depth", "w")
        .agg(F.count("part").alias("overlap"))
    )
    win = Window.orderBy("depth")
    return ov.select(
        F.col("depth").cast("long").alias("depth"),
        F.col("overlap").cast("long").alias("overlap"),
        F.round(F.col("overlap").cast("double") / F.col("depth"), 6).alias(
            "agreement"
        ),
        # 7dp, not the house 6dp: the p=0.9 weights are exact
        # decimals, so the running sum can land DEAD ON a 6dp
        # half-tie (0.0411885 at depth 6 on this data), where Spark's
        # shortest-repr HALF_UP and DuckDB's binary-exact rounding
        # disagree; at 7dp the value is exact and both emit it as-is
        F.round(
            F.sum(
                F.col("w") * F.col("overlap").cast("double") / F.col("depth")
            ).over(win),
            7,
        ).alias("rbo_at_depth"),
    )


# ---------------------------------------------------------------------------
# Kendall's tau-b.
#
# The third rank-correlation in the classical trio (Pearson:
# ml-family, Spearman: stats_spearman): tau counts CONCORDANT minus
# DISCORDANT pairs — monotone association measured directly on pair
# orderings, with the tau-b tie correction dividing by the geometric
# mean of the untied pair counts. Everything is integer pair counting,
# so the statistic is exact by construction; stats_mann_kendall uses
# the same S internally for trend-vs-time, this measures two SERIES
# against each other.
#
# Series: monthly order count vs monthly revenue (the stats_granger
# pair) — mechanically associated, so tau must land strongly positive.
# ---------------------------------------------------------------------------
_TAU_SQL = """
WITH m AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
         CAST(COUNT(*) AS BIGINT) AS x,
         ROUND(SUM(o_totalprice), 2) AS y
  FROM orders GROUP BY 1),
p AS (
  SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                         OR (a.x > b.x AND a.y > b.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                         OR (a.x > b.x AND a.y < b.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         CAST(SUM(CASE WHEN a.x = b.x AND a.y <> b.y
                       THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN a.y = b.y AND a.x <> b.x
                       THEN 1 ELSE 0 END) AS BIGINT) AS ty,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM m a JOIN m b ON a.ym < b.ym)
SELECT nc, nd, tx, ty, n_pairs,
       ROUND((nc - nd)
             / sqrt(CAST((nc + nd + tx) AS DOUBLE) * (nc + nd + ty)),
             6) AS tau_b
FROM p
"""


@register("stats_kendall_tau", _TAU_SQL)
def stats_kendall_tau(spark, sf_dir):
    """Tau-b between monthly order count and revenue: one pair join
    over the months-sized series table, five integer pair counts,
    one closed-form division. Pinned in tests/test_ext78.py against
    an O(n^2) reimplementation and the axioms (tau(x,x)=1,
    tau(x,-x)=-1, tie-correction reducing to plain tau when no ties
    exist).

    Scale shape: the pair join is months-squared over the ROLLED-UP
    series (80 rows -> 3160 pairs), never over orders; for very long
    series the O(n log n) merge-sort inversion count drops into an
    applyInPandas without changing the contract. The fact-table work
    is one map-side-combinable aggregate."""
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.round(F.sum("o_totalprice"), 2).alias("y"),
        )
    )
    a = m.select(
        F.col("ym").alias("ym_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = m.select(
        F.col("ym").alias("ym_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("ym_a") < F.col("ym_b"))
    conc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb")))
    )
    disc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb")))
    )
    p = pairs.agg(
        F.sum(F.when(conc, 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("nd"),
        F.sum(
            F.when((F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1).otherwise(0)
        ).cast("long").alias("tx"),
        F.sum(
            F.when((F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1).otherwise(0)
        ).cast("long").alias("ty"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return p.select(
        "nc",
        "nd",
        "tx",
        "ty",
        "n_pairs",
        F.round(
            (F.col("nc") - F.col("nd"))
            / F.sqrt(
                (F.col("nc") + F.col("nd") + F.col("tx")).cast("double")
                * (F.col("nc") + F.col("nd") + F.col("ty"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test.
#
# The nonparametric randomness check (Wald & Wolfowitz 1940): code
# each observation as above/below the median, count RUNS (maximal
# same-sign streaks); too few runs means clustering/trend, too many
# means oscillation. Under randomness the run count is asymptotically
# normal with
#
#   mu = 2 n1 n2 / n + 1,
#   var = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n - 1)),
#
# all INTEGER-derived, so the z statistic is exact arithmetic — the
# ideal differential-oracle shape. Complements the sequential family
# (SPRT stops streams, Ljung-Box pools correlations, this one reads
# the sign pattern).
# ---------------------------------------------------------------------------
_RUNS_SQL = """
WITH s AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events),
med AS (
  SELECT event_type, value AS median
  FROM (SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, rn) AS vr,
               n
        FROM s)
  WHERE vr = (n + 1) // 2),
x AS (
  SELECT s.event_type, s.rn,
         CASE WHEN s.value > m.median THEN 1 ELSE 0 END AS above
  FROM s JOIN med m USING (event_type)),
runs AS (
  SELECT event_type,
         CAST(SUM(above) AS BIGINT) AS n1,
         CAST(SUM(1 - above) AS BIGINT) AS n2,
         CAST(1 + SUM(CASE WHEN above <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM (SELECT event_type, above,
               LAG(above) OVER (PARTITION BY event_type ORDER BY rn) AS prev
        FROM x)
  GROUP BY 1)
SELECT event_type, n1, n2, r,
       ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                       * (n1 + n2 - 1))), 6) AS z
FROM runs
"""


@register("stats_runs_test", _RUNS_SQL)
def stats_runs_test(spark, sf_dir):
    """Runs test per event-type value series in (ts, event_id)
    order, dichotomized at the explicit-rank median ((n+1)//2-th by
    (value, position) — the agg_exact_median rank discipline, with
    ties going to the 'not above' side). Emits the above/below
    counts, the run count, and the normal z. The closed-form moments
    and both failure directions (a sorted series -> huge negative z,
    an alternating series -> huge positive z, a shuffled one -> |z|
    small) are pinned in tests/test_ext81.py.

    Scale shape: one rank window for the median fence, one lag
    window for run boundaries, one integer aggregate — the
    stats_sprt layout, one pass per series at any scale."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        "value",
        F.row_number().over(wt).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    med = (
        s.withColumn(
            "vr",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("value", "rn")
            ),
        )
        .filter(F.col("vr") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("median"))
    )
    x = s.join(F.broadcast(med), "event_type").select(
        "event_type",
        "rn",
        F.when(F.col("value") > F.col("median"), 1).otherwise(0).alias("above"),
    )
    lagd = x.withColumn(
        "prev",
        F.lag("above").over(Window.partitionBy("event_type").orderBy("rn")),
    )
    runs = lagd.groupBy("event_type").agg(
        F.sum("above").cast("long").alias("n1"),
        F.sum(1 - F.col("above")).cast("long").alias("n2"),
        (
            1
            + F.sum(
                F.when(F.col("above") != F.col("prev"), 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
    )
    n = (F.col("n1") + F.col("n2")).cast("double")
    mu = 2.0 * F.col("n1") * F.col("n2") / n + 1
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - n)
        / (n * n * (n - 1))
    )
    return runs.select(
        "event_type",
        "n1",
        "n2",
        "r",
        F.round((F.col("r") - mu) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_runs_test_chunked — the chunked-prefix-scan rewrite of the
# per-series window statistic (r12 verdict item 7): ordered-series
# statistics normally partition their windows by the SERIES key, so
# a single 100 TB series lands in one task (the documented SURVEY
# §7.4.1 class). This variant proves the class is rewritable when a
# series outgrows a task: range-chunk the order, window only within
# (series, chunk), and merge the bounded boundary terms driver-side.
# Same oracle as stats_runs_test — the two plans are hash-equal.
# ---------------------------------------------------------------------------

_N_CHUNKS = 64


def _bucketed(col, lo, hi, n=_N_CHUNKS):
    """Deterministic range bucket of ``col`` into [0, n): floor over
    the series' own [lo, hi] span; a zero-width span (constant
    column) degenerates to one bucket — the recursion case a second
    chunking level would split."""
    width = (hi - lo) / F.lit(float(n))
    return (
        F.when(width <= 0, F.lit(0))
        .otherwise(F.least(F.floor((col - lo) / width), F.lit(n - 1)))
        .cast("int")
    )


@register("stats_runs_test_chunked", _RUNS_SQL)
def stats_runs_test_chunked(spark, sf_dir, _debug: dict | None = None):
    """Wald-Wolfowitz runs test with NO per-series window anywhere in
    the plan — every row_number/lag partitions by (event_type,
    chunk), where chunks are deterministic range buckets of the
    (ts, event_id) order (and of the value domain for the median
    rank). The three cross-chunk merges are driver-side over BOUNDED
    state (series × 64 chunks):

      1. global position rn = within-chunk row_number + the chunk's
         cumulative row-count offset (the chunked prefix scan);
      2. the median — the (n+1)//2-th element by (value, rn) — found
         by locating the value-chunk whose cumulative count straddles
         the target rank, then rank-indexing INSIDE that one chunk;
      3. the run count — within-chunk sign flips summed per chunk,
         plus one boundary term per consecutive non-empty chunk pair
         (last flag of one vs first flag of the next).

    Identical output to stats_runs_test (same SQL oracle; parity and
    the no-series-window plan shape pinned in tests/test_ext91.py).
    Scale shape: shuffles key on (series, chunk) so a hot series
    spreads over 64 tasks; the driver merge is O(series × chunks)
    scalars — at 10¹² rows/series raise _N_CHUNKS or add a second
    chunk level, the same recursion the sequential-state window
    queries use."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", F.col("value").cast("double").alias("value")
    ).withColumn("_tsd", F.col("ts").cast("double"))

    # --- phase A: global rn via chunked prefix scan -----------------
    spans = ev.groupBy("event_type").agg(
        F.min("_tsd").alias("_tlo"), F.max("_tsd").alias("_thi"),
        F.min("value").alias("_vlo"), F.max("value").alias("_vhi"),
    )
    # materialize the bucketed frame ONCE: phases A/B/C each run a
    # bounded collect at construction time, and without this every
    # collect would re-run the scan + span join + window chain from
    # the source (measured 10-15 s vs ~1 s; the localCheckpoint
    # fault-tolerance trade is documented at
    # llm/dedup.repeated_substring_spans)
    x = ev.join(F.broadcast(spans), "event_type").select(
        "event_type", "ts", "event_id", "value",
        _bucketed(F.col("_tsd"), F.col("_tlo"), F.col("_thi")).alias("_ck"),
        _bucketed(F.col("value"), F.col("_vlo"), F.col("_vhi")).alias("_vc"),
    ).localCheckpoint()
    w_ck = Window.partitionBy("event_type", "_ck").orderBy("ts", "event_id")
    x = x.withColumn("_lrn", F.row_number().over(w_ck))
    if _debug is not None:
        _debug["rn_frame"] = x
    # bounded collect: series × chunks row counts -> prefix offsets
    ck_counts = (
        x.groupBy("event_type", "_ck").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets: dict[tuple, int] = {}
    per_series: dict[str, list] = {}
    for r in ck_counts:
        per_series.setdefault(r["event_type"], []).append((r["_ck"], r["c"]))
    n_by_series: dict[str, int] = {}
    for s, lst in per_series.items():
        acc = 0
        for ck, c in sorted(lst):
            offsets[(s, ck)] = acc
            acc += c
        n_by_series[s] = acc  # series length, no extra job
    off_df = spark.createDataFrame(
        [(s, ck, o) for (s, ck), o in offsets.items()],
        "event_type string, _ck int, _off long",
    )
    # second materialization: the rn frame feeds the median rank, the
    # median filter join, and the flag/lag pass below
    x = (
        x.join(F.broadcast(off_df), ["event_type", "_ck"])
        .withColumn("rn", F.col("_lrn") + F.col("_off"))
        .localCheckpoint()
    )

    # --- phase B: median rank located inside ONE value chunk --------
    w_vc = Window.partitionBy("event_type", "_vc").orderBy("value", "rn")
    xv = x.withColumn("_lvr", F.row_number().over(w_vc))
    if _debug is not None:
        _debug["vr_frame"] = xv
    vc_counts = (
        xv.groupBy("event_type", "_vc").agg(F.count(F.lit(1)).alias("c")).collect()
    )  # bounded: series × chunks
    targets = []
    per_series = {}
    for r in vc_counts:
        per_series.setdefault(r["event_type"], []).append((r["_vc"], r["c"]))
    for s, lst in per_series.items():
        k = (n_by_series[s] + 1) // 2
        acc = 0
        for vc, c in sorted(lst):
            if acc + c >= k:
                targets.append((s, vc, k - acc))
                break
            acc += c
    tgt_df = spark.createDataFrame(
        targets, "event_type string, _vc int, _tgt long"
    )
    med = (
        xv.join(F.broadcast(tgt_df), ["event_type", "_vc"])
        .filter(F.col("_lvr") == F.col("_tgt"))
        .select("event_type", F.col("value").alias("median"))
    )

    # --- phase C: run count from per-chunk partials + boundaries ----
    flags = x.join(F.broadcast(med), "event_type").select(
        "event_type", "_ck", "rn",
        F.when(F.col("value") > F.col("median"), 1).otherwise(0).alias("above"),
    )
    w_ck_rn = Window.partitionBy("event_type", "_ck").orderBy("rn")
    lagd = flags.withColumn("prev", F.lag("above").over(w_ck_rn))
    if _debug is not None:
        _debug["lag_frame"] = lagd
    parts = (
        lagd.groupBy("event_type", "_ck")
        .agg(
            F.sum("above").alias("n1"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("above") != F.col("prev"), 1).otherwise(0)
            ).alias("flips"),
            F.min_by("above", "rn").alias("first_above"),
            F.max_by("above", "rn").alias("last_above"),
        )
        .collect()
    )  # bounded: series × chunks scalar rows
    per_series = {}
    for r in parts:
        per_series.setdefault(r["event_type"], []).append(r)
    rows = []
    for s, lst in per_series.items():
        lst.sort(key=lambda r: r["_ck"])
        n1 = sum(r["n1"] for r in lst)
        n = sum(r["n"] for r in lst)
        flips = sum(r["flips"] for r in lst)
        for a, b in zip(lst, lst[1:]):  # boundary terms
            flips += int(b["first_above"] != a["last_above"])
        rows.append((s, n1, n - n1, 1 + flips))
    runs = spark.createDataFrame(
        rows, "event_type string, n1 long, n2 long, r long"
    )
    n = (F.col("n1") + F.col("n2")).cast("double")
    mu = 2.0 * F.col("n1") * F.col("n2") / n + 1
    var = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - n)
        / (n * n * (n - 1))
    )
    return runs.select(
        "event_type",
        "n1",
        "n2",
        "r",
        F.round((F.col("r") - mu) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa.
#
# Raw accuracy flatters any classifier on skewed labels (predict the
# majority class, score the majority share); Cohen's kappa (1960)
# corrects for chance agreement: kappa = (po - pe) / (1 - pe), pe =
# the agreement two independent raters with these marginals would
# reach by luck. Applied to text_langid_eval's matrix it tells the
# truth about the stopword heuristic on this corpus: high raw hit
# rate on the majority 'en' label, kappa near zero because the
# marginals explain nearly all of it. Pure ratios of integer counts.
# ---------------------------------------------------------------------------
_KAPPA_SQL = f"""
WITH pred AS (
  SELECT lang AS t, {_PRED_SQL} AS p FROM documents),
cm AS (SELECT t, p, CAST(COUNT(*) AS BIGINT) AS k FROM pred GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n FROM cm),
marg AS (
  SELECT COALESCE(r.lbl, c.lbl) AS lbl,
         COALESCE(r.rk, 0) AS rk, COALESCE(c.ck, 0) AS ck
  FROM (SELECT t AS lbl, SUM(k) AS rk FROM cm GROUP BY 1) r
  FULL OUTER JOIN (SELECT p AS lbl, SUM(k) AS ck FROM cm GROUP BY 1) c
    ON r.lbl = c.lbl),
agree AS (
  SELECT (SELECT CAST(COALESCE(SUM(k), 0) AS BIGINT)
          FROM cm WHERE t = p) AS diag,
         (SELECT SUM(CAST(rk AS DOUBLE) * ck) FROM marg) AS cross_mass,
         tot.n
  FROM tot)
SELECT n,
       ROUND(CAST(diag AS DOUBLE) / n, 6) AS po,
       ROUND(cross_mass / (CAST(n AS DOUBLE) * n), 6) AS pe,
       ROUND((CAST(diag AS DOUBLE) / n - cross_mass / (CAST(n AS DOUBLE) * n))
             / (1 - cross_mass / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM agree
"""


@register("stats_cohens_kappa", _KAPPA_SQL)
def stats_cohens_kappa(spark, sf_dir):
    """Chance-corrected agreement between documents.lang and the
    stopword classifier: observed agreement po, expected-by-marginals
    pe, and kappa — all ratios of the confusion matrix's integer
    counts (marginals from a full outer join so labels that appear
    on only one side still contribute their mass). The algebra
    (kappa = 1 on perfect agreement, 0 when agreement equals the
    marginal product, negative when below chance) and the corpus
    truth (po materially above pe only through the majority label;
    kappa far below po) are pinned in tests/test_ext82.py.

    Scale shape: one classifier pass (per-row expression), a
    labels-squared-bounded matrix, label-sized marginals, scalar
    arithmetic."""
    from stockify_spark.functions.text import lang_id

    pred = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("t"), lang_id("text").alias("p")
    )
    cm = pred.groupBy("t", "p").agg(F.count(F.lit(1)).alias("k"))
    n_df = cm.agg(F.sum("k").cast("long").alias("n"))
    rmarg = cm.groupBy(F.col("t").alias("lbl")).agg(F.sum("k").alias("rk"))
    cmarg = cm.groupBy(F.col("p").alias("lbl")).agg(F.sum("k").alias("ck"))
    marg = rmarg.join(cmarg, "lbl", "full_outer").select(
        F.coalesce("rk", F.lit(0)).alias("rk"),
        F.coalesce("ck", F.lit(0)).alias("ck"),
    )
    cross = marg.agg(
        F.sum(F.col("rk").cast("double") * F.col("ck")).alias("cross_mass")
    )
    diag = cm.filter(F.col("t") == F.col("p")).agg(
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("diag")
    )
    j = n_df.crossJoin(F.broadcast(cross)).crossJoin(F.broadcast(diag))
    po = F.col("diag").cast("double") / F.col("n")
    pe = F.col("cross_mass") / (F.col("n").cast("double") * F.col("n"))
    return j.select(
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# A/B power analysis (MDE).
#
# Before an experiment runs, the design question: at this sample size
# and variance, what's the smallest effect we could detect? The
# minimum detectable effect at alpha = .05 (two-sided) and 80% power:
#
#   MDE = (z_{alpha/2} + z_beta) * sqrt(sigma_A^2/n_A + sigma_B^2/n_B)
#
# with z literals 1.959964 and 0.841621 (inverse-normal constants —
# the stats_fdr_bh literal-fence discipline, no distribution function
# in-engine). Closes the experimentation loop the repo already ships:
# CUPED shrinks sigma, SPRT stops early, this one says whether the
# test was worth starting — and quantifies CUPED's payoff as a
# directly comparable MDE drop.
# ---------------------------------------------------------------------------
_ZA, _ZB = 1.959964, 0.841621  # Phi^-1(.975), Phi^-1(.80)


_MDE_SQL = f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         ROUND(SUM(value), 6) AS y
  FROM events GROUP BY 1),
m AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(y), 6) AS s1, ROUND(SUM(y * y), 6) AS s2
  FROM u GROUP BY 1),
v AS (
  SELECT arm, n, s1 / n AS mean,
         (s2 - s1 * s1 / n) / (n - 1) AS var
  FROM m),
w AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
         MAX(CASE WHEN arm = 1 THEN n END) AS n1,
         MAX(CASE WHEN arm = 0 THEN mean END) AS mean0,
         MAX(CASE WHEN arm = 1 THEN mean END) AS mean1,
         MAX(CASE WHEN arm = 0 THEN var END) AS var0,
         MAX(CASE WHEN arm = 1 THEN var END) AS var1
  FROM v)
SELECT n0, n1,
       ROUND(mean0, 6) AS mean_a, ROUND(mean1, 6) AS mean_b,
       ROUND(({_ZA!r} + {_ZB!r}) * sqrt(var0 / n0 + var1 / n1), 6) AS mde,
       ROUND(({_ZA!r} + {_ZB!r}) * sqrt(var0 / n0 + var1 / n1)
             / (0.5 * (mean0 + mean1)), 6) AS mde_relative
FROM w
"""


@register("stats_power_mde", _MDE_SQL)
def stats_power_mde(spark, sf_dir):
    """Minimum detectable effect for the user-parity A/B split on
    per-user total event value: sample-variance arms (6dp-rounded
    moment sums, n-1 denominator), Welch-form standard error, the
    (z_.975 + z_.80) literal multiplier, absolute and
    relative-to-grand-mean MDE. The closed form is pinned against a
    numpy recomputation and a simulation in tests/test_ext84.py: an
    injected effect of exactly one MDE is detected by the z-test in
    ~80% of resampled replicates, the definition of power.

    Scale shape: one per-user aggregate, one two-row arm rollup,
    scalar arithmetic — the stats_cuped layout minus the
    adjustment."""
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("y"))
        .select((F.col("user_id") % 2).alias("arm"), "y")
    )
    m = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("y"), 6).alias("s1"),
        F.round(F.sum(F.col("y") * F.col("y")), 6).alias("s2"),
    )
    v = m.select(
        "arm",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    w = v.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("mean"))).alias("mean0"),
        F.max(F.when(F.col("arm") == 1, F.col("mean"))).alias("mean1"),
        F.max(F.when(F.col("arm") == 0, F.col("var"))).alias("var0"),
        F.max(F.when(F.col("arm") == 1, F.col("var"))).alias("var1"),
    )
    se = F.sqrt(F.col("var0") / F.col("n0") + F.col("var1") / F.col("n1"))
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.round("mean0", 6).alias("mean_a"),
        F.round("mean1", 6).alias("mean_b"),
        F.round((_ZA + _ZB) * se, 6).alias("mde"),
        F.round(
            (_ZA + _ZB) * se / (0.5 * (F.col("mean0") + F.col("mean1"))), 6
        ).alias("mde_relative"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences — the two-period, two-group causal
# estimator: DiD = (treat_post - treat_pre) - (ctrl_post - ctrl_pre),
# with the classic four cell means and a pooled standard error. The
# one causal-inference table every experimentation platform computes
# when randomization is absent and a parallel-trends assumption is on
# the table. Treatment: even user_id; post: ts at or after the
# midpoint of the observed window.
# ---------------------------------------------------------------------------
_DID_SQL = """
WITH span AS (
  SELECT epoch_ms(MIN(ts)) AS lo, epoch_ms(MAX(ts)) AS hi FROM events),
cells AS (
  SELECT CAST(user_id % 2 = 0 AS INTEGER) AS treated,
         CAST(epoch_ms(ts) >= (span.lo + span.hi) / 2 AS INTEGER) AS post,
         value
  FROM events, span),
m AS (
  SELECT treated, post,
         CAST(COUNT(*) AS BIGINT) AS n,
         AVG(value) AS mean_v,
         VAR_SAMP(value) AS var_v
  FROM cells GROUP BY treated, post),
w AS (
  SELECT
    MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END) AS tp,
    MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END) AS tq,
    MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END) AS cp,
    MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END) AS cq,
    SUM(var_v / n) AS var_did
  FROM m)
SELECT CAST(m.treated AS BIGINT) AS treated,
       CAST(m.post AS BIGINT) AS post,
       m.n,
       ROUND(m.mean_v, 6) AS mean_v,
       ROUND((w.tp - w.tq) - (w.cp - w.cq), 6) AS did,
       ROUND(SQRT(w.var_did), 6) AS se_did
FROM m, w
"""


@register("stats_diff_in_diff", _DID_SQL)
def stats_diff_in_diff(spark, sf_dir):
    """2x2 DiD over events.value: four group-period cell means in ONE
    map-side-combined aggregate (the window midpoint is a 2-scalar
    broadcast from a min/max pre-pass), the estimate and its pooled
    SE = sqrt(Σ var_i/n_i) derived on the 4-row model table and
    repeated per cell row so the full table hashes. Nothing beyond
    the two scans and one 4-group shuffle at any corpus size."""

    ev = _t(spark, sf_dir, "events")
    span = ev.agg(
        F.unix_millis(F.min("ts")).alias("lo"),
        F.unix_millis(F.max("ts")).alias("hi"),
    )
    cells = ev.crossJoin(F.broadcast(span)).select(
        (F.col("user_id") % 2 == 0).cast("int").alias("treated"),
        (
            F.unix_millis(F.col("ts")) >= (F.col("lo") + F.col("hi")) / 2
        ).cast("int").alias("post"),
        "value",
    )
    m = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean_v"),
        F.var_samp("value").alias("var_v"),
    )
    w = m.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("mean_v"))).alias("tp"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("mean_v"))).alias("tq"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("mean_v"))).alias("cp"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("mean_v"))).alias("cq"),
        F.sum(F.col("var_v") / F.col("n")).alias("var_did"),
    )
    return m.crossJoin(F.broadcast(w)).select(
        F.col("treated").cast("long").alias("treated"),
        F.col("post").cast("long").alias("post"),
        F.col("n").cast("long").alias("n"),
        F.round("mean_v", 6).alias("mean_v"),
        F.round((F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")), 6).alias("did"),
        F.round(F.sqrt("var_did"), 6).alias("se_did"),
    )


# ---------------------------------------------------------------------------
# stats_jackknife — delete-one jackknife standard error from
# SUFFICIENT STATISTICS: for a statistic that is a function of
# group-level counts (here: proportion of high-value orders), the n
# leave-one-out estimates take only two distinct values, so the
# jackknife collapses to closed-form algebra on (n, s) — the 100 TB
# story: no per-row resample materialization, ever. The oracle runs
# the BRUTE per-row jackknife (a real leave-one-out estimate per
# order via window sums) to prove the closed form IS the definition.
# ---------------------------------------------------------------------------
_JACK_CUT = 150_000.0


_JACK_SQL = f"""
WITH base AS (
  SELECT o_orderpriority,
         CASE WHEN o_totalprice > {_JACK_CUT} THEN 1 ELSE 0 END AS b
  FROM orders
),
g AS (
  SELECT o_orderpriority, b,
         SUM(b) OVER (PARTITION BY o_orderpriority) AS s,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM base
),
loo AS (
  SELECT o_orderpriority, n, s,
         CAST(s - b AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS theta_i
  FROM g
),
agg AS (
  -- θ̄ = s/n exactly (Σθ_(i) = s), carried per-row into the
  -- deviation so no aggregate nests another
  SELECT o_orderpriority,
         ANY_VALUE(n) AS n, ANY_VALUE(s) AS s,
         SUM((theta_i - CAST(s AS DOUBLE) / n)
             * (theta_i - CAST(s AS DOUBLE) / n)) AS ss
  FROM loo GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS prop,
       ROUND(sqrt((CAST(n - 1 AS DOUBLE) / n) * ss), 6) AS jack_se,
       CAST(n AS BIGINT) AS n
FROM agg ORDER BY o_orderpriority
"""


@register("stats_jackknife", _JACK_SQL)
def stats_jackknife(spark, sf_dir):
    """Delete-one jackknife SE of a per-group proportion (orders
    above {cut} by priority). The n leave-one-out estimates
    θ_(i) = (s − b_i)/(n − 1) take exactly TWO distinct values
    (b_i ∈ {{0, 1}}), and Σθ_(i) = s, so the whole resample collapses
    to sufficient statistics:

        θ̄ = s/n,  SS = s·((s−1)/(n−1) − s/n)² + (n−s)·(s/(n−1) − s/n)²,
        SE = √((n−1)/n · SS)

    ONE count aggregate per group — a delete-one resample over
    100 TB with zero per-row resample materialization (the same
    sufficient-statistic discipline as the Gram/PCA family). The
    oracle deliberately runs the BRUTE definition instead — a real
    θ_(i) per order via window sums, then the deviation aggregate —
    so the driver hash proves closed form == definition on every
    group."""
    cut = _JACK_CUT
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_totalprice") > cut, 1).otherwise(0)
            ).alias("s"),
        )
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    d1 = (s - 1.0) / (n - 1.0) - s / n          # θ_(i) deviation, b_i = 1
    d0 = s / (n - 1.0) - s / n                  # θ_(i) deviation, b_i = 0
    ss = s * d1 * d1 + (n - s) * d0 * d0
    return agg.select(
        "o_orderpriority",
        F.round(s / n, 6).alias("prop"),
        F.round(F.sqrt(((n - 1.0) / n) * ss), 6).alias("jack_se"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# stats_permutation_test — randomization test for a difference in
# proportions, completing the repo's resampling trio (Poisson
# bootstrap = stats_bootstrap_ci, delete-one jackknife =
# stats_jackknife, reassignment test = here). The statistic is
# INTEGER-derived (counts), so replicate statistics and the p-value
# are exact cross-engine arithmetic — no float-sum drift anywhere.
# ---------------------------------------------------------------------------

_PERM_P = 200          # replicates

_PERM_CUT = 150_000.0  # high-value order threshold


_PERM_SQL = f"""
WITH d AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS treat,
         CASE WHEN o_totalprice > {_PERM_CUT} THEN 1 ELSE 0 END AS y
  FROM orders
),
tot AS (
  SELECT CAST(SUM(treat) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(treat) AS BIGINT) AS n0,
         CAST(SUM(treat * y) AS BIGINT) AS s1,
         CAST(SUM((1 - treat) * y) AS BIGINT) AS s0,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM d
),
obs AS (
  SELECT n1, n0,
         CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 AS t_obs
  FROM tot
),
e AS (SELECT k, y, unnest(range(1, {_PERM_P + 1})) AS b FROM d),
flags AS (
  SELECT b, y,
         CASE WHEN CAST(CONCAT('0x', substr(md5(CONCAT(CAST(b AS VARCHAR),
                    '|', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT)
                   / 4294967296.0
              < CAST((SELECT n1 FROM tot) AS DOUBLE) / (SELECT n FROM tot)
         THEN 1 ELSE 0 END AS a
  FROM e
),
rep AS (
  SELECT b,
         CAST(SUM(a * y) AS DOUBLE) / SUM(a)
         - CAST(SUM((1 - a) * y) AS DOUBLE) / (COUNT(*) - SUM(a)) AS t_b
  FROM flags GROUP BY b
  HAVING SUM(a) > 0 AND SUM(a) < COUNT(*)
),
pv AS (
  SELECT COUNT(*) AS n_perm,
         CAST(SUM(CASE WHEN abs(t_b) >= abs((SELECT t_obs FROM obs))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM rep
)
SELECT obs.n1, obs.n0, ROUND(obs.t_obs, 6) AS t_obs,
       pv.n_extreme,
       ROUND(CAST(1 + pv.n_extreme AS DOUBLE) / (pv.n_perm + 1), 6) AS p_value
FROM obs, pv
"""


@register("stats_permutation_test", _PERM_SQL)
def stats_permutation_test(spark, sf_dir):
    """Randomization (permutation) test: is the urgent-priority
    high-value-order rate different from everyone else's? Statistic
    T = s1/n1 − s0/n0 over INTEGER counts; null replicates reassign
    each order to the treatment arm with the deterministic seeded
    Bernoulli(n1/n) draw (md5(b|k)/2³² — the stats_bootstrap_ci
    randomness discipline; the unconditional-randomization variant
    that needs NO per-replicate global rank, so it is one narrow
    map pass at any scale). Two-sided p = (1 + #{|T_b| ≥ |T_obs|})
    / (P + 1), the add-one Monte-Carlo estimator.

    Every quantity is a ratio of exact integers — replicate
    statistics, the comparison, and the p-value are bit-identical
    cross-engine with NO float-summation exposure (contrast the
    bootstrap's rounded weighted sums). Scale shape: the replicate
    explode is a narrow map ×P; the only shuffle is the P-group
    integer aggregate, map-side combinable."""
    d = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("treat"),
        F.when(F.col("o_totalprice") > _PERM_CUT, 1).otherwise(0).alias("y"),
    )
    tot = d.agg(
        F.sum("treat").alias("n1"),
        (F.count(F.lit(1)) - F.sum("treat")).alias("n0"),
        F.sum(F.col("treat") * F.col("y")).alias("s1"),
        F.sum((1 - F.col("treat")) * F.col("y")).alias("s0"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n1, n0, s1, s0, n = (int(tot[c]) for c in ("n1", "n0", "s1", "s0", "n"))
    t_obs = s1 / n1 - s0 / n0
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    # spread the single-row-group orders scan BEFORE the ×P explode —
    # the md5-per-(row, replicate) map otherwise runs serially in the
    # one scan task (the agg_countmin_sketch case; no-op at scale)
    from stockify_spark.functions.scale import spread_small_scan

    e = spread_small_scan(d).select(
        "k", "y", F.explode(F.sequence(F.lit(1), F.lit(_PERM_P))).alias("b")
    )
    flags = e.select(
        "b", "y", F.when(u < F.lit(n1 / n), 1).otherwise(0).alias("a")
    )
    rep = (
        flags.groupBy("b")
        .agg(
            F.sum(F.col("a") * F.col("y")).alias("sa"),
            F.sum("a").alias("na"),
            F.sum((1 - F.col("a")) * F.col("y")).alias("sb"),
            (F.count(F.lit(1)) - F.sum("a")).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            (
                F.col("sa").cast("double") / F.col("na")
                - F.col("sb").cast("double") / F.col("nb")
            ).alias("t_b")
        )
    )
    pv = rep.agg(
        F.count(F.lit(1)).alias("n_perm"),
        F.sum(
            F.when(F.abs(F.col("t_b")) >= F.lit(abs(t_obs)), 1).otherwise(0)
        ).alias("n_extreme"),
    ).collect()[0]
    n_perm, n_extreme = int(pv["n_perm"]), int(pv["n_extreme"])
    return spark.createDataFrame(
        [
            (
                n1,
                n0,
                float(_round6(t_obs)),
                n_extreme,
                float(_round6((1 + n_extreme) / (n_perm + 1))),
            )
        ],
        "n1 long, n0 long, t_obs double, n_extreme long, p_value double",
    )


def _round6(x: float) -> float:
    from stockify_spark.llm.pca import _round_half_up

    return _round_half_up(x, 6)


# ---------------------------------------------------------------------------
# Robust/classical statistics a data
# platform's experimentation + time-series layer still lacked.
#
# Six closed-form statistics, each with an exact ANSI-SQL oracle:
# a Savitzky-Golay smoother (the polynomial-preserving filter lab and
# sensor pipelines run before peak detection), PACF via the
# Durbin-Levinson recursion (the AR-order diagnostic next to
# window_acf's MA-side), a negative-binomial method-of-moments fit
# (overdispersed count modelling — per-user event counts are the
# canonical NB example), a two-sample Poisson rate test (the
# conditional-binomial form used for incident/defect rate comparison),
# bias-corrected Cramér's V (effect size where stats_chi2 only gives
# significance), and Brown-Forsythe (the robust variance-homogeneity
# gate run before trusting stats_anova).
#
# All six follow the registry float policy: aggregate statistics are
# ROUND()ed identically on both sides; per-row arithmetic written in
# the same IEEE order is left exact.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_negbinom_mom — NB method-of-moments fit on per-user counts
# ---------------------------------------------------------------------------
_NB_SQL = """
WITH k AS (SELECT event_type, user_id, CAST(COUNT(*) AS DOUBLE) AS k
           FROM events GROUP BY 1, 2),
s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
             AVG(k) AS m, VAR_POP(k) AS v
      FROM k GROUP BY 1)
SELECT event_type, n_users, ROUND(m, 6) AS mean_k, ROUND(v, 6) AS var_k,
       CASE WHEN v > m THEN ROUND(m * m / (v - m), 6) END AS nb_r,
       CASE WHEN v > m THEN ROUND(m / v, 6) END AS nb_p
FROM s
ORDER BY event_type
"""


@register("stats_negbinom_mom", _NB_SQL)
def stats_negbinom_mom(spark, sf_dir):
    """Negative-binomial method-of-moments fit of the per-user event
    count distribution, one fit per event_type: r = m^2/(v - m),
    p = m/v (the Poisson-gamma overdispersion parameterisation;
    NULL where the data is NOT overdispersed, v <= m, and the NB
    degenerates to Poisson). Per-user activity counts are the
    textbook NB workload — a pipeline uses the fit to pick sampling
    temperature / cap heavy users.

    Shape: one exact count shuffle (user, type) with map-side
    combine, then a per-type moment aggregate over the user-sized
    table; the fit itself is scalar arithmetic per group. Moment
    sums add ~users doubles in engine order → rounded at 6dp."""
    k = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("double").alias("k"))
    )
    s = k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.avg("k").alias("m"),
        F.var_pop("k").alias("v"),
    )
    over = F.col("v") > F.col("m")
    return s.select(
        "event_type",
        "n_users",
        F.round("m", 6).alias("mean_k"),
        F.round("v", 6).alias("var_k"),
        F.when(over, F.round(F.col("m") * F.col("m") / (F.col("v") - F.col("m")), 6)).alias("nb_r"),
        F.when(over, F.round(F.col("m") / F.col("v"), 6)).alias("nb_p"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stats_cramers_v — bias-corrected effect size for a contingency table
# ---------------------------------------------------------------------------
_CRAMER_SQL = """
WITH obs AS (SELECT o_orderpriority AS pri,
                    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
                    CAST(COUNT(*) AS DOUBLE) AS n
             FROM orders GROUP BY 1, 2),
rm AS (SELECT pri, SUM(n) AS rn FROM obs GROUP BY 1),
cm AS (SELECT yr, SUM(n) AS cn FROM obs GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM obs),
chi AS (
  SELECT SUM((n - rn * cn / t) * (n - rn * cn / t) / (rn * cn / t)) AS chi2,
         CAST(COUNT(DISTINCT pri) AS DOUBLE) AS r,
         CAST(COUNT(DISTINCT yr) AS DOUBLE) AS c,
         MAX(t) AS t
  FROM obs JOIN rm USING (pri) JOIN cm USING (yr) CROSS JOIN tot)
SELECT ROUND(chi2, 6) AS chi2,
       CAST(t AS BIGINT) AS n,
       CAST(r AS INT) AS n_rows,
       CAST(c AS INT) AS n_cols,
       ROUND(sqrt(chi2 / (t * least(r - 1, c - 1))), 6) AS cramers_v,
       ROUND(sqrt(
         greatest(0, chi2 / t - (r - 1) * (c - 1) / (t - 1))
         / least(r - (r - 1) * (r - 1) / (t - 1) - 1,
                 c - (c - 1) * (c - 1) / (t - 1) - 1)), 6)
         AS cramers_v_corrected
FROM chi
"""


@register("stats_cramers_v", _CRAMER_SQL)
def stats_cramers_v(spark, sf_dir):
    """Cramér's V for priority × order-year — the EFFECT SIZE the
    chi-square (stats_chi2) doesn't give — plus the Bergsma (2013)
    bias-corrected variant (phi^2 shrunk by its independence-case
    expectation, category counts shrunk likewise) that stays near 0
    on independent data where raw V inflates on many-celled tables.

    Same single-scan shape as stats_chi2: one groupBy builds the
    contingency table, marginals are rollups of that tiny table
    broadcast back, everything after the first shuffle is
    kilobytes."""
    o = _t(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    rm = obs.groupBy("pri").agg(F.sum("n").alias("rn"))
    cm = obs.groupBy("yr").agg(F.sum("n").alias("cn"))
    tot = obs.agg(F.sum("n").alias("t"))
    e = F.col("rn") * F.col("cn") / F.col("t")
    chi = (
        obs.join(F.broadcast(rm), "pri")
        .join(F.broadcast(cm), "yr")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum((F.col("n") - e) * (F.col("n") - e) / e).alias("chi2"),
            F.countDistinct("pri").cast("double").alias("r"),
            F.countDistinct("yr").cast("double").alias("c"),
            F.max("t").alias("t"),
        )
    )
    r, c, t, chi2 = F.col("r"), F.col("c"), F.col("t"), F.col("chi2")
    phi2c = F.greatest(F.lit(0), chi2 / t - (r - 1) * (c - 1) / (t - 1))
    rc = r - (r - 1) * (r - 1) / (t - 1)
    cc = c - (c - 1) * (c - 1) / (t - 1)
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        t.cast("bigint").alias("n"),
        r.cast("int").alias("n_rows"),
        c.cast("int").alias("n_cols"),
        F.round(F.sqrt(chi2 / (t * F.least(r - 1, c - 1))), 6).alias("cramers_v"),
        F.round(F.sqrt(phi2c / F.least(rc - 1, cc - 1)), 6).alias(
            "cramers_v_corrected"
        ),
    )


# ---------------------------------------------------------------------------
# stats_brown_forsythe — robust variance-homogeneity test
# ---------------------------------------------------------------------------

_BF_SQL = """
WITH med AS (SELECT o_orderpriority AS g, median(o_totalprice) AS md
             FROM orders GROUP BY 1),
z AS (SELECT g, abs(o_totalprice - md) AS z
      FROM orders JOIN med ON o_orderpriority = g),
grp AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS n, AVG(z) AS zbar,
               SUM(z) AS zsum, SUM(z * z) AS zsq
        FROM z GROUP BY 1),
gl AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS nt,
              SUM(zsum) / SUM(n) AS zg,
              SUM(zsq - n * zbar * zbar) AS den,
              SUM(n * zbar * zbar) AS s2
       FROM grp)
SELECT ROUND((nt - k) / (k - 1) * (s2 - nt * zg * zg) / den, 6) AS w_stat,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(nt - k AS BIGINT) AS df2
FROM gl
"""


@register("stats_brown_forsythe", _BF_SQL)
def stats_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe test of variance homogeneity across order
    priorities (Levene's test with the MEDIAN center — the robust
    form): z_ij = |y_ij - median_j|, then the one-way-ANOVA F on the
    z's. This is the assumption gate a pipeline runs BEFORE trusting
    stats_anova's equal-variance F.

    Shape: exact group medians over a bounded-cardinality key (5
    priorities — the same sort-based percentile aggregate
    agg_exact_median already pins; per-group state is the group's
    values, acceptable only because k is tiny and documented as
    such), broadcast back for ONE |y - median| aggregation pass that
    carries (n, mean, Σz, Σz²) per group — the within-group sum of
    squares comes from the Σz² decomposition (Σ(z-z̄)² = Σz² - n·z̄²),
    so the fact table is scanned exactly twice (median pass +
    deviation pass), the floor for an exact-median center;
    mean-centered Levene would fuse to one scan at the cost of
    robustness."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("y")
    )
    med = o.groupBy("g").agg(F.percentile("y", 0.5).alias("md"))
    z = o.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("y") - F.col("md")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("z").alias("zbar"),
        F.sum("z").alias("zsum"),
        F.sum(F.col("z") * F.col("z")).alias("zsq"),
    )
    # between-group sum of squares by the same decomposition:
    # Σ n(z̄_g - z̄)² = Σ n·z̄_g² - nt·z̄², so the WHOLE statistic
    # folds out of ONE aggregate over the 5-row group table — no
    # second pass over grp, no cross join
    gl = grp.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("nt"),
        (F.sum("zsum") / F.sum("n")).alias("zg"),
        F.sum(F.col("zsq") - F.col("n") * F.col("zbar") * F.col("zbar")).alias(
            "den"
        ),
        F.sum(F.col("n") * F.col("zbar") * F.col("zbar")).alias("s2"),
    )
    return gl.select(
        F.round(
            (F.col("nt") - F.col("k"))
            / (F.col("k") - 1)
            * (F.col("s2") - F.col("nt") * F.col("zg") * F.col("zg"))
            / F.col("den"),
            6,
        ).alias("w_stat"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("nt") - F.col("k")).cast("bigint").alias("df2"),
    )


# ---------------------------------------------------------------------------
# stats_moments_merge — Chan et al. parallel variance merge identity
# ---------------------------------------------------------------------------
_MERGE_SQL = """
WITH part AS (
  SELECT event_type, user_id % 4 AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS n, AVG(value) AS m,
         VAR_POP(value) * COUNT(*) AS m2
  FROM events GROUP BY 1, 2),
merged AS (
  SELECT event_type,
         SUM(n) AS n, SUM(n * m) / SUM(n) AS mean
  FROM part GROUP BY 1),
m2m AS (
  SELECT p.event_type,
         (SUM(p.m2) + SUM(p.n * (p.m - g.mean) * (p.m - g.mean))) / g.n
           AS var_merged
  FROM part p JOIN merged g USING (event_type)
  GROUP BY p.event_type, g.n),
direct AS (
  SELECT event_type, VAR_POP(value) AS var_direct,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1)
SELECT d.event_type, d.n_rows,
       ROUND(d.var_direct, 6) AS var_direct,
       ROUND(m.var_merged, 6) AS var_merged,
       abs(d.var_direct - m.var_merged) < 1e-6 AS merge_exact
FROM direct d JOIN m2m m USING (event_type)
"""


@register("stats_moments_merge", _MERGE_SQL)
def stats_moments_merge(spark, sf_dir):
    """The parallel-variance merge identity (Chan, Golub & LeVeque
    1983): split each event type's values into 4 disjoint buckets,
    reduce each bucket to (n, mean, M2), merge with
    M2 = Σ M2_i + Σ n_i(mean_i − mean)², and show the merged
    variance EQUALS the direct single-pass variance. This is the
    algebra Spark's partial aggregation applies implicitly on every
    var/stddev in this registry — stated as a query, the contract is
    oracle-checked instead of assumed, and the merge_exact flag is
    the regression tripwire.

    Shape: one (type, bucket) aggregate with map-side combine, one
    type-level merge over the 20-row partial table, one direct
    aggregate for the comparison — the second scan exists only
    because the IDENTITY is the subject."""
    ev = _t(spark, sf_dir, "events")
    part = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        (F.var_pop("value") * F.count(F.lit(1))).alias("m2"),
    )
    merged = part.groupBy("event_type").agg(
        F.sum("n").alias("ng"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("mean"),
    )
    m2m = (
        part.join(F.broadcast(merged), "event_type")
        .groupBy("event_type", "ng")
        .agg(
            (
                (
                    F.sum("m2")
                    + F.sum(
                        F.col("n") * (F.col("m") - F.col("mean")) * (F.col("m") - F.col("mean"))
                    )
                )
                / F.first("ng")
            ).alias("var_merged")
        )
        .select("event_type", "var_merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.var_pop("value").alias("var_direct"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return direct.join(m2m, "event_type").select(
        "event_type",
        "n_rows",
        F.round("var_direct", 6).alias("var_direct"),
        F.round("var_merged", 6).alias("var_merged"),
        (F.abs(F.col("var_direct") - F.col("var_merged")) < 1e-6).alias(
            "merge_exact"
        ),
    )


# ---------------------------------------------------------------------------
# Agreement statistics, errors-in-
# variables regression, Fisher LDA, McNemar, and Matryoshka two-stage
# ANN.
#
# The measurement-science corner (Lin's concordance, Deming
# regression, McNemar's paired test) that method-comparison and
# model-comparison pipelines run, a second closed-form classifier
# next to ml_logreg_newton (Fisher's discriminant with the pooled
# 2×2 inverse), and the truncated-dimension retrieval pattern
# (Matryoshka representation learning: coarse rank on an embedding
# PREFIX, exact rerank of the shortlist) that modern embedding stacks
# use to cut first-stage FLOPs ~8×.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_lin_ccc — Lin's concordance correlation (repeatability)
# ---------------------------------------------------------------------------
_CCC_SQL = """
WITH p AS (
  SELECT value AS x, LAG(value) OVER w AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             AVG(x) AS mx, AVG(y) AS my,
             VAR_POP(x) AS sxx, VAR_POP(y) AS syy, COVAR_POP(x, y) AS sxy
      FROM p WHERE y IS NOT NULL)
SELECT n,
       ROUND(2 * sxy / (sxx + syy + (mx - my) * (mx - my)), 6) AS ccc,
       ROUND(sxy / sqrt(sxx * syy), 6) AS pearson_r,
       ROUND((2 * sxy / (sxx + syy + (mx - my) * (mx - my)))
             / (sxy / sqrt(sxx * syy)), 6) AS c_b
FROM s
"""


@register("stats_lin_ccc", _CCC_SQL)
def stats_lin_ccc(spark, sf_dir):
    """Lin's concordance correlation coefficient (Lin 1989) between
    consecutive measurements of the same user series — the
    repeatability/agreement statistic: CCC = 2·s_xy /
    (s_xx + s_yy + (x̄-ȳ)²), which penalizes both scatter (like
    Pearson) AND location/scale shift (unlike Pearson; the ratio
    c_b = CCC/r isolates that bias term). Method-comparison
    pipelines report exactly this trio.

    Shape: one windowed lag (one shuffle on the series key), one
    global moment aggregate — scalar arithmetic after that; the
    moment sums are rounded at 6dp per the float policy."""
    t = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    p = t.select(
        F.col("value").alias("x"), F.lag("value").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_pop("x").alias("sxx"),
        F.var_pop("y").alias("syy"),
        F.covar_pop("x", "y").alias("sxy"),
    )
    ccc = 2 * F.col("sxy") / (
        F.col("sxx")
        + F.col("syy")
        + (F.col("mx") - F.col("my")) * (F.col("mx") - F.col("my"))
    )
    r = F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy"))
    return s.select(
        "n",
        F.round(ccc, 6).alias("ccc"),
        F.round(r, 6).alias("pearson_r"),
        F.round(ccc / r, 6).alias("c_b"),
    )


# ---------------------------------------------------------------------------
# stats_deming_regression — errors-in-variables fit (λ = 1)
# ---------------------------------------------------------------------------

_DEMING_SQL = """
WITH pair AS (
  SELECT c_acctbal AS x, AVG(o_totalprice) AS y
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey, c_acctbal),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS mx, AVG(y) AS my,
             VAR_POP(x) AS sxx, VAR_POP(y) AS syy, COVAR_POP(x, y) AS sxy
      FROM pair)
SELECT n,
       ROUND((syy - sxx + sqrt((syy - sxx) * (syy - sxx) + 4 * sxy * sxy))
             / (2 * sxy), 6) AS slope,
       ROUND(my - ((syy - sxx + sqrt((syy - sxx) * (syy - sxx) + 4 * sxy * sxy))
             / (2 * sxy)) * mx, 2) AS intercept
FROM s
"""


@register("stats_deming_regression", _DEMING_SQL)
def stats_deming_regression(spark, sf_dir):
    """Deming regression (λ=1) of mean order value on account
    balance — the errors-in-variables fit for when BOTH axes are
    noisy measurements of the same latent quantity (customer size),
    where OLS is attenuation-biased toward zero. Closed form:
    b = (s_yy − s_xx + √((s_yy − s_xx)² + 4 s_xy²)) / (2 s_xy); the
    orthogonal-regression workhorse of method-comparison labs.

    Shape: one aggregate join (per-customer mean — shuffle on the
    join key with partial aggregation), one global moment reduce,
    scalar arithmetic. The customer dimension broadcasts into the
    join at any realistic scale."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    pair = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.avg("o_totalprice").alias("y"))
        .select(F.col("c_acctbal").alias("x"), "y")
    )
    s = pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_pop("x").alias("sxx"),
        F.var_pop("y").alias("syy"),
        F.covar_pop("x", "y").alias("sxy"),
    )
    slope = (
        F.col("syy")
        - F.col("sxx")
        + F.sqrt(
            (F.col("syy") - F.col("sxx")) * (F.col("syy") - F.col("sxx"))
            + 4 * F.col("sxy") * F.col("sxy")
        )
    ) / (2 * F.col("sxy"))
    return s.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 2).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# stats_mcnemar — paired comparison of two classifiers
# ---------------------------------------------------------------------------
_MCNEMAR_SQL = """
WITH med AS (SELECT median(o_totalprice) AS md FROM orders),
p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CASE WHEN o_totalprice > md THEN 1 ELSE 0 END AS pa,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS pb
      FROM orders CROSS JOIN med)
SELECT CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
       CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
       ROUND(AVG(CASE WHEN pa = y THEN 1.0 ELSE 0.0 END), 6) AS acc_a,
       ROUND(AVG(CASE WHEN pb = y THEN 1.0 ELSE 0.0 END), 6) AS acc_b,
       ROUND(pow(abs(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                   - SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)) - 1, 2)
             / (SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                + SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)), 6)
         AS chi2_cc
FROM p
"""


@register("stats_mcnemar", _MCNEMAR_SQL)
def stats_mcnemar(spark, sf_dir):
    """McNemar's test with continuity correction between two
    rule classifiers of order status (price-above-median vs
    high-priority): χ² = (|b−c|−1)²/(b+c) over the DISAGREEMENT
    cells only — the correct paired comparison of two models
    evaluated on the same rows, where comparing raw accuracies
    ignores the pairing (Dietterich 1998's recommendation for
    classifier comparison). All cells are exact integer counts; one
    scalar median broadcast is the only preliminary.

    Shape: one percentile aggregate (scalar), one conditional-
    aggregate scan — two scans, no join wider than a broadcast."""
    o = _t(spark, sf_dir, "orders")
    med = o.agg(F.percentile("o_totalprice", 0.5).alias("md"))
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    pa = F.when(F.col("o_totalprice") > F.col("md"), 1).otherwise(0)
    pb = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    p = o.crossJoin(F.broadcast(med)).select(
        y.alias("y"), pa.alias("pa"), pb.alias("pb")
    )
    b = F.sum(F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0))
    c = F.sum(F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0))
    return p.agg(
        b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"),
        F.round(F.avg(F.when(F.col("pa") == F.col("y"), 1.0).otherwise(0.0)), 6).alias("acc_a"),
        F.round(F.avg(F.when(F.col("pb") == F.col("y"), 1.0).otherwise(0.0)), 6).alias("acc_b"),
        F.round(F.pow(F.abs(b - c) - 1, 2) / (b + c), 6).alias("chi2_cc"),
    )


# ---------------------------------------------------------------------------
# Directional statistics, collinearity
# audit, Katz centrality, and decomposition strength.
#
# ``window_circular_stats`` opens the directional-statistics family
# (time-of-day is an angle; an arithmetic mean of hours puts 23:00 and
# 01:00 "far apart"). ``stats_vif`` is the multicollinearity gate run
# before trusting ml_linreg_group/ml_ridge coefficients, via the
# closed-form 3×3 correlation inverse. ``graph_katz_centrality``
# completes the centrality trio next to pagerank (random-surfer) and
# HITS (mutual reinforcement) with the attenuation-weighted walk
# count. ``stats_seasonal_strength`` reduces window_seasonal's
# decomposition to Hyndman-Wang trend/seasonal strength — the scalar a
# forecasting pipeline actually branches on.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_vif — variance inflation factors via the correlation inverse
# ---------------------------------------------------------------------------
_VIF_SQL = """
WITH f AS (
  SELECT CAST(n_chars AS DOUBLE) AS x1,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
         CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)
           AS x3
  FROM documents),
r AS (SELECT corr(x1, x2) AS r12, corr(x1, x3) AS r13, corr(x2, x3) AS r23
      FROM f),
d AS (SELECT r12, r13, r23,
             1 + 2 * r12 * r13 * r23 - r12 * r12 - r13 * r13 - r23 * r23
               AS det
      FROM r)
SELECT ROUND((1 - r23 * r23) / det, 6) AS vif_x1,
       ROUND((1 - r13 * r13) / det, 6) AS vif_x2,
       ROUND((1 - r12 * r12) / det, 6) AS vif_x3,
       ROUND(r12, 6) AS r12, ROUND(r13, 6) AS r13, ROUND(r23, 6) AS r23
FROM d
"""


@register("stats_vif", _VIF_SQL)
def stats_vif(spark, sf_dir):
    """Variance inflation factors for the document feature triple
    (n_chars, token count, mean token length): VIF_i is the i-th
    diagonal of the inverse CORRELATION matrix — 1/(1−R²_i) of
    regressing feature i on the others — the collinearity audit run
    before trusting any linear model's coefficients on these
    features (rule of thumb: VIF > 5 means the coefficient is
    unstable). The 3×3 inverse is closed-form off three corr
    aggregates; dq_mahalanobis_outliers uses the same features'
    COVARIANCE inverse for row-level outliers — VIF is the
    column-level companion.

    Shape: one scan, three corr aggregates, scalar arithmetic."""
    d = _t(spark, sf_dir, "documents")
    x2 = F.size(F.split(F.col("text"), " ")).cast("double")
    f = d.select(
        F.col("n_chars").cast("double").alias("x1"),
        x2.alias("x2"),
        (F.col("n_chars").cast("double") / x2).alias("x3"),
    )
    r = f.agg(
        F.corr("x1", "x2").alias("r12"),
        F.corr("x1", "x3").alias("r13"),
        F.corr("x2", "x3").alias("r23"),
    )
    det = (
        1
        + 2 * F.col("r12") * F.col("r13") * F.col("r23")
        - F.col("r12") * F.col("r12")
        - F.col("r13") * F.col("r13")
        - F.col("r23") * F.col("r23")
    )
    return r.select(
        F.round((1 - F.col("r23") * F.col("r23")) / det, 6).alias("vif_x1"),
        F.round((1 - F.col("r13") * F.col("r13")) / det, 6).alias("vif_x2"),
        F.round((1 - F.col("r12") * F.col("r12")) / det, 6).alias("vif_x3"),
        F.round("r12", 6).alias("r12"),
        F.round("r13", 6).alias("r13"),
        F.round("r23", 6).alias("r23"),
    )


# ---------------------------------------------------------------------------
# stats_seasonal_strength — Hyndman-Wang decomposition strength
# ---------------------------------------------------------------------------
_STRENGTH_SQL = """
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
  FROM tr WHERE trend IS NOT NULL GROUP BY 1),
dec AS (
  SELECT tr.rev, tr.trend, se.seasonal,
         tr.rev - tr.trend - se.seasonal AS resid
  FROM tr JOIN se ON CAST(EXTRACT(dow FROM tr.d) + 1 AS INT) = se.dow
  WHERE tr.trend IS NOT NULL)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(greatest(0, 1 - VAR_POP(resid) / VAR_POP(rev - seasonal)), 6)
         AS f_trend,
       ROUND(greatest(0, 1 - VAR_POP(resid) / VAR_POP(rev - trend)), 6)
         AS f_seasonal
FROM dec
"""


@register("stats_seasonal_strength", _STRENGTH_SQL)
def stats_seasonal_strength(spark, sf_dir):
    """Hyndman-Wang strength of trend and seasonality (the tsfeatures
    measures): F_T = max(0, 1 − Var(resid)/Var(rev − seasonal)),
    F_S = max(0, 1 − Var(resid)/Var(rev − trend)) over
    window_seasonal's STL-lite decomposition of daily revenue — the
    two scalars a forecasting pipeline branches on (seasonal model
    or not; detrend or not). Reuses the decomposition EXACTLY
    (rounded daily totals, 7-day centered trend, dow seasonal index,
    Spark's 1=Sunday convention reconciled in the oracle).

    Shape: the daily rollup is the only data-sized shuffle; the
    decomposition is one ordered window over ~years-of-days rows, a
    7-row broadcast, and one variance aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 6).alias("rev")
    )
    from pyspark.sql import Window

    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.withColumn(
        "trend",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("rev").over(w)),
    )
    se = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy(F.dayofweek("d").alias("dow"))
        .agg(F.avg(F.col("rev") - F.col("trend")).alias("seasonal"))
    )
    dec = (
        tr.filter(F.col("trend").isNotNull())
        .join(F.broadcast(se), F.dayofweek(tr["d"]) == se["dow"])
        .select(
            "rev",
            "trend",
            "seasonal",
            (F.col("rev") - F.col("trend") - F.col("seasonal")).alias("resid"),
        )
    )
    return dec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1 - F.var_pop("resid") / F.var_pop(F.col("rev") - F.col("seasonal")),
            ),
            6,
        ).alias("f_trend"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1 - F.var_pop("resid") / F.var_pop(F.col("rev") - F.col("trend")),
            ),
            6,
        ).alias("f_seasonal"),
    )


# ---------------------------------------------------------------------------
# stats_gini_auc — AUC by the Mann-Whitney rank identity
# ---------------------------------------------------------------------------
_AUC_SQL = """
WITH m AS (SELECT AVG(o_totalprice) AS mu, STDDEV_POP(o_totalprice) AS sd
           FROM orders),
p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             ROUND((o_totalprice - mu) / sd, 6) AS score
      FROM orders CROSS JOIN m),
r AS (SELECT y, RANK() OVER (ORDER BY score) AS rnk,
             COUNT(*) OVER (PARTITION BY score) AS ties
      FROM p),
s AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN rnk + (ties - 1) / 2.0 END)
               AS DOUBLE) AS rsum,
             CAST(SUM(y) AS DOUBLE) AS n1,
             CAST(COUNT(*) - SUM(y) AS DOUBLE) AS n0
      FROM r)
SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
       ROUND((rsum - n1 * (n1 + 1) / 2) / (n1 * n0), 6) AS auc,
       ROUND(2 * ((rsum - n1 * (n1 + 1) / 2) / (n1 * n0)) - 1, 6) AS gini
FROM s
"""


@register("stats_gini_auc", _AUC_SQL)
def stats_gini_auc(spark, sf_dir, _debug: dict | None = None):
    """ROC AUC of the z-scored price against the F-status label via
    the Mann-Whitney identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) with
    MIDRANKS for ties (RANK + (ties−1)/2 — the tie treatment that
    makes rank-AUC equal trapezoidal ROC area exactly), plus
    Gini = 2·AUC − 1, the scorecard industry's headline number. The
    score is 6dp-quantized first so both engines rank identical
    values (the quantize-then-derive rule). Complements
    ml_confusion_metrics (one threshold) and ml_calibration_ece
    (probability quality): AUC is the threshold-FREE ranking metric.

    Shape (r14 rewrite, operators/ranks.py): NO full-table rank.
    R₁ = Σ_values npos(v)·midrank(v), so one parallel
    groupBy(score) carries the fact; the only single-partition
    stage is the prefix-sum over the distinct 6dp-score table
    (≤ 2M rows regardless of fact size). All sums are exact
    half-integers in double, so the result is hash-equal to the
    per-row rank form and the unchanged DuckDB oracle."""
    from stockify_spark.operators.ranks import distinct_value_ranks

    o = _t(spark, sf_dir, "orders")
    m = o.agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_pop("o_totalprice").alias("sd"),
    )
    p = o.crossJoin(F.broadcast(m)).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.round((F.col("o_totalprice") - F.col("mu")) / F.col("sd"), 6).alias(
            "score"
        ),
    )
    g = distinct_value_ranks(
        p, "score", {"npos": F.sum("y").cast("long")}
    )
    if _debug is not None:
        _debug["rank_frame"] = g
    s = g.agg(
        F.sum(F.col("npos") * F.col("midrank")).cast("double").alias("rsum"),
        F.sum("npos").cast("double").alias("n1"),
        F.sum(F.col("cnt") - F.col("npos")).cast("double").alias("n0"),
    )
    auc = (F.col("rsum") - F.col("n1") * (F.col("n1") + 1) / 2) / (
        F.col("n1") * F.col("n0")
    )
    return s.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Paired/blocked nonparametrics,
# stratified odds, elasticity, M4 downsampling, business-day
# arithmetic.
#
# Wilcoxon signed-rank (the PAIRED complement to stats_mannwhitney),
# Friedman's blocked rank test (k related samples), the
# Mantel-Haenszel pooled odds ratio (the stratified-confounding
# standard), log-log price elasticity (the econ regression identity),
# M4 downsampling (the min/max/first/last-per-pixel time-series
# rendering standard next to window_lttb), and calendar business-day
# arithmetic as a pure column expression.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank — paired nonparametric test
# ---------------------------------------------------------------------------
_WSR_SQL = """
WITH p AS (
  SELECT value - LAG(value) OVER w AS d
  FROM events WHERE event_type IN ('click', 'view')
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
nz AS (SELECT d, abs(d) AS ad FROM p WHERE d IS NOT NULL AND d <> 0),
r AS (SELECT d, RANK() OVER (ORDER BY ad) AS rnk,
             COUNT(*) OVER (PARTITION BY ad) AS ties
      FROM nz),
s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CASE WHEN d > 0 THEN rnk + (ties - 1) / 2.0 ELSE 0 END)
               AS wplus
      FROM r)
SELECT CAST(n AS BIGINT) AS n_pairs,
       ROUND(wplus, 2) AS w_plus,
       ROUND((wplus - n * (n + 1) / 4)
             / sqrt(n * (n + 1) * (2 * n + 1) / 24), 6) AS z
FROM s
"""


@register("stats_wilcoxon_signed_rank", _WSR_SQL)
def stats_wilcoxon_signed_rank(spark, sf_dir, _debug: dict | None = None):
    """Wilcoxon signed-rank test on consecutive-measurement
    differences within each user's click/view series — the PAIRED
    nonparametric location test (stats_mannwhitney is the unpaired
    one; stats_ttest the parametric paired-adjacent): zero diffs
    drop (the standard treatment), |d| gets MIDRANKS (the
    stats_gini_auc tie rule), W⁺ sums positive-diff ranks, z is the
    large-sample normal score. Diffs are per-row exact; only the
    rank-sum statistics round.

    Shape (r14 rewrite, operators/ranks.py): the per-user lag
    window shuffles on user_id (parallel, unchanged); the |d|
    MIDRANK — the r13-flagged full-table global rank — now comes
    from the distinct-|d| prefix-sum: W⁺ = Σ_values
    npos(v)·midrank(v), so only |distinct diffs| rows cross the
    single-partition stage. Exact-double diffs group identically on
    both faces (the oracle already partitions by raw ad); sums are
    exact half-integers, hash-equal to the unchanged oracle."""
    from stockify_spark.operators.ranks import distinct_value_ranks

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    p = ev.select((F.col("value") - F.lag("value").over(w)).alias("d")).filter(
        F.col("d").isNotNull() & (F.col("d") != 0)
    )
    nz = p.withColumn("ad", F.abs("d"))
    g = distinct_value_ranks(
        nz,
        "ad",
        {
            "npos": F.sum(
                F.when(F.col("d") > 0, 1).otherwise(0)
            ).cast("long")
        },
    )
    if _debug is not None:
        _debug["rank_frame"] = g
    s = g.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sum(F.col("npos") * F.col("midrank")).alias("wplus"),
    )
    n, wplus = F.col("n"), F.col("wplus")
    return s.select(
        n.cast("bigint").alias("n_pairs"),
        F.round(wplus, 2).alias("w_plus"),
        F.round(
            (wplus - n * (n + 1) / 4) / F.sqrt(n * (n + 1) * (2 * n + 1) / 24), 6
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_friedman — blocked rank test across event types
# ---------------------------------------------------------------------------

_FRIEDMAN_SQL = """
WITH cell AS (
  SELECT user_id, event_type, AVG(value) AS m
  FROM events GROUP BY 1, 2),
full_blocks AS (
  SELECT user_id FROM cell GROUP BY user_id HAVING COUNT(*) = 5),
rk AS (
  SELECT c.user_id, c.event_type,
         CAST(RANK() OVER (PARTITION BY c.user_id ORDER BY c.m, c.event_type)
              AS DOUBLE) AS r
  FROM cell c JOIN full_blocks USING (user_id)),
rs AS (SELECT event_type, AVG(r) AS rbar, CAST(COUNT(*) AS DOUBLE) AS n
       FROM rk GROUP BY 1)
SELECT CAST(MAX(n) AS BIGINT) AS n_blocks,
       CAST(COUNT(*) AS INT) AS k_treatments,
       ROUND(12 * MAX(n) / (COUNT(*) * (COUNT(*) + 1))
             * (SUM(rbar * rbar)
                - 2 * ((COUNT(*) + 1) / 2.0) * SUM(rbar)
                + COUNT(*) * ((COUNT(*) + 1) / 2.0) * ((COUNT(*) + 1) / 2.0)),
             6) AS chi2_f
FROM rs
"""


@register("stats_friedman", _FRIEDMAN_SQL)
def stats_friedman(spark, sf_dir):
    """Friedman's rank test of whether the five event types differ in
    typical value, BLOCKED by user (each user ranks their own five
    per-type means 1..5, so between-user level differences cancel —
    the repeated-measures design stats_anova ignores): χ²_F =
    12n/(k(k+1)) Σ_j (R̄_j − (k+1)/2)². Only users with all five
    types enter (complete blocks, the classical form); mean ties
    within a block break by event_type so both engines rank
    identically.

    Shape: one (user, type) aggregate, a HAVING-filtered
    completeness semi-join, per-block ranks over 5-row partitions,
    one 5-row fold."""
    cell = _t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.avg("value").alias("m")
    )
    full = cell.groupBy("user_id").agg(F.count(F.lit(1)).alias("kk")).filter(
        F.col("kk") == 5
    ).select("user_id")
    rk = cell.join(F.broadcast(full), "user_id").select(
        "user_id",
        "event_type",
        F.rank()
        .over(Window.partitionBy("user_id").orderBy("m", "event_type"))
        .cast("double")
        .alias("r"),
    )
    rs = rk.groupBy("event_type").agg(
        F.avg("r").alias("rbar"), F.count(F.lit(1)).cast("double").alias("n")
    )
    agg = rs.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("rbar") * F.col("rbar")).alias("r2"),
        F.sum("rbar").alias("r1"),
    )
    n, k = F.col("n"), F.col("k")
    ss = F.col("r2") - 2 * ((k + 1) / 2.0) * F.col("r1") + k * ((k + 1) / 2.0) * (
        (k + 1) / 2.0
    )
    return agg.select(
        n.cast("bigint").alias("n_blocks"),
        k.cast("int").alias("k_treatments"),
        F.round(12 * n / (k * (k + 1)) * ss, 6).alias("chi2_f"),
    )


# ---------------------------------------------------------------------------
# stats_odds_ratio_mh — Mantel-Haenszel pooled odds ratio
# ---------------------------------------------------------------------------
_MH_SQL = """
WITH med AS (SELECT median(o_totalprice) AS md FROM orders),
cell AS (
  SELECT o_orderpriority AS stratum,
         CAST(SUM(CASE WHEN o_totalprice > md AND o_orderstatus = 'F'
                       THEN 1 ELSE 0 END) AS DOUBLE) AS a,
         CAST(SUM(CASE WHEN o_totalprice > md AND o_orderstatus <> 'F'
                       THEN 1 ELSE 0 END) AS DOUBLE) AS b,
         CAST(SUM(CASE WHEN o_totalprice <= md AND o_orderstatus = 'F'
                       THEN 1 ELSE 0 END) AS DOUBLE) AS c,
         CAST(SUM(CASE WHEN o_totalprice <= md AND o_orderstatus <> 'F'
                       THEN 1 ELSE 0 END) AS DOUBLE) AS d,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM orders CROSS JOIN med GROUP BY 1)
SELECT stratum,
       ROUND((a * d) / (b * c), 6) AS stratum_or,
       ROUND(SUM(a * d / n) OVER () / SUM(b * c / n) OVER (), 6) AS mh_or
FROM cell
"""


@register("stats_odds_ratio_mh", _MH_SQL)
def stats_odds_ratio_mh(spark, sf_dir):
    """Mantel-Haenszel pooled odds ratio of (price above median) on
    (F status), STRATIFIED by order priority: OR_MH =
    Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) — the classic confounding-adjusted
    association measure; the per-stratum ORs ride along so Simpson
    reversals are visible in the same result. All cells are exact
    integer counts off ONE conditional-aggregate pass (plus the
    scalar median broadcast stats_mcnemar also uses).

    Shape: two scans (median + cells), then arithmetic on a 5-row
    table."""
    o = _t(spark, sf_dir, "orders")
    med = o.agg(F.percentile("o_totalprice", 0.5).alias("md"))
    hi = F.col("o_totalprice") > F.col("md")
    bad = F.col("o_orderstatus") == "F"
    cell = (
        o.crossJoin(F.broadcast(med))
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.sum(F.when(hi & bad, 1).otherwise(0)).cast("double").alias("a"),
            F.sum(F.when(hi & ~bad, 1).otherwise(0)).cast("double").alias("b"),
            F.sum(F.when(~hi & bad, 1).otherwise(0)).cast("double").alias("c"),
            F.sum(F.when(~hi & ~bad, 1).otherwise(0)).cast("double").alias("d"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
    )
    wfull = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cell.select(
        "stratum",
        F.round((F.col("a") * F.col("d")) / (F.col("b") * F.col("c")), 6).alias(
            "stratum_or"
        ),
        F.round(
            F.sum(F.col("a") * F.col("d") / F.col("n")).over(wfull)
            / F.sum(F.col("b") * F.col("c") / F.col("n")).over(wfull),
            6,
        ).alias("mh_or"),
    )


# ---------------------------------------------------------------------------
# Reliability coefficients.
#
# Cronbach's alpha and the one-way intraclass correlation over the
# same complete-block (user × event type) table stats_friedman ranks:
# alpha asks whether the five per-type means move together enough to
# be one scale (internal consistency); ICC(1) asks how much of the
# variance is BETWEEN users (rater/repeatability agreement). Together
# with Cohen's kappa (stats_cohens_kappa) and Lin's CCC
# (stats_lin_ccc) this completes the agreement/reliability family.
# ---------------------------------------------------------------------------
_K = 5  # event types = scale items / measurements per subject


_CELL_SQL = """
cell AS (
  SELECT user_id, event_type, AVG(value) AS m
  FROM events GROUP BY 1, 2),
full_blocks AS (
  SELECT user_id FROM cell GROUP BY user_id HAVING COUNT(*) = 5),
c AS (SELECT cell.* FROM cell JOIN full_blocks USING (user_id))
"""


_ALPHA_SQL = (
    "WITH "
    + _CELL_SQL
    + """,
item AS (SELECT event_type, VAR_POP(m) AS v FROM c GROUP BY 1),
tot AS (SELECT VAR_POP(s) AS vt FROM
        (SELECT user_id, SUM(m) AS s FROM c GROUP BY 1)),
k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(v) AS sv FROM item)
SELECT CAST(k AS INT) AS k_items,
       ROUND(k / (k - 1) * (1 - sv / vt), 6) AS cronbach_alpha,
       ROUND(sv, 6) AS sum_item_var,
       ROUND(vt, 6) AS total_var
FROM k CROSS JOIN tot
"""
)


@register("stats_cronbach_alpha", _ALPHA_SQL)
def stats_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha of the five per-type mean values treated as
    scale items, subjects = users with complete blocks:
    α = k/(k−1) · (1 − Σσ²ᵢ/σ²_total). The internal-consistency
    coefficient every survey/metric-battery pipeline reports; values
    near 0 here are CORRECT for synthetic independent items (α
    measures shared variance, and the test pins the equivalent
    variance identity rather than a magnitude).

    Shape: one (user, type) aggregate, the complete-block semi-join,
    a per-item variance over the block table and one row-sum
    variance — everything after the first shuffle is
    users×5-bounded."""
    ev = _t(spark, sf_dir, "events")
    cell = ev.groupBy("user_id", "event_type").agg(F.avg("value").alias("m"))
    full = (
        cell.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == _K)
        .select("user_id")
    )
    # the complete-block table is users×5 rows and feeds THREE
    # subtrees (item variances, row sums, and full's own lineage) —
    # one eager localCheckpoint keeps the plan linear (the pagerank
    # lineage discipline; kilobytes at any scale)
    c = cell.join(F.broadcast(full), "user_id").localCheckpoint(eager=True)
    item = c.groupBy("event_type").agg(F.var_pop("m").alias("v"))
    tot = (
        c.groupBy("user_id")
        .agg(F.sum("m").alias("s"))
        .agg(F.var_pop("s").alias("vt"))
    )
    k = item.agg(
        F.count(F.lit(1)).cast("double").alias("k"), F.sum("v").alias("sv")
    )
    return k.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("int").alias("k_items"),
        F.round(
            F.col("k") / (F.col("k") - 1) * (1 - F.col("sv") / F.col("vt")), 6
        ).alias("cronbach_alpha"),
        F.round("sv", 6).alias("sum_item_var"),
        F.round("vt", 6).alias("total_var"),
    )


_ICC_SQL = (
    "WITH "
    + _CELL_SQL
    + """,
g AS (SELECT AVG(m) AS gm FROM c),
blocks AS (SELECT user_id, AVG(m) AS bm, CAST(COUNT(*) AS DOUBLE) AS k
           FROM c GROUP BY 1),
msb AS (SELECT SUM(k * (bm - gm) * (bm - gm))
               / (COUNT(*) - 1) AS msb,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM blocks CROSS JOIN g),
msw AS (SELECT SUM((c.m - b.bm) * (c.m - b.bm)) AS ssw,
               CAST(COUNT(*) AS DOUBLE) AS nk
        FROM c JOIN blocks b USING (user_id))
SELECT CAST(msb.n AS BIGINT) AS n_subjects,
       ROUND(msb.msb, 6) AS ms_between,
       ROUND(msw.ssw / (msw.nk - msb.n), 6) AS ms_within,
       ROUND((msb.msb - msw.ssw / (msw.nk - msb.n))
             / (msb.msb + (5 - 1) * (msw.ssw / (msw.nk - msb.n))), 6)
         AS icc1
FROM msb CROSS JOIN msw
"""
)


@register("stats_icc", _ICC_SQL)
def stats_icc(spark, sf_dir):
    """One-way intraclass correlation ICC(1) (Shrout & Fleiss 1979)
    over the same complete blocks: MS_between from the k-weighted
    subject-mean deviations, MS_within from the within-subject sum
    of squares over n(k−1) degrees of freedom, ICC(1) =
    (MSB − MSW)/(MSB + (k−1)·MSW) — the repeatability coefficient
    (how much of the measurement variance is the SUBJECT rather
    than the occasion). Negative values are legitimate (less
    agreement than chance) and the synthetic data sits near zero —
    the test pins the ANOVA identity, not a magnitude.

    Shape: same skeleton as stats_cronbach_alpha; the within pass is
    one join of the 5-row-per-user table to its user means."""
    ev = _t(spark, sf_dir, "events")
    cell = ev.groupBy("user_id", "event_type").agg(F.avg("value").alias("m"))
    full = (
        cell.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == _K)
        .select("user_id")
    )
    # same three-consumer shape as stats_cronbach_alpha: checkpoint
    # the users×5 block table once
    c = cell.join(F.broadcast(full), "user_id").localCheckpoint(eager=True)
    g = c.agg(F.avg("m").alias("gm"))
    blocks = c.groupBy("user_id").agg(
        F.avg("m").alias("bm"), F.count(F.lit(1)).cast("double").alias("k")
    )
    msb = blocks.crossJoin(F.broadcast(g)).agg(
        (
            F.sum(F.col("k") * (F.col("bm") - F.col("gm")) * (F.col("bm") - F.col("gm")))
            / (F.count(F.lit(1)) - 1)
        ).alias("msb"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    msw = c.join(F.broadcast(blocks.select("user_id", "bm")), "user_id").agg(
        F.sum((F.col("m") - F.col("bm")) * (F.col("m") - F.col("bm"))).alias("ssw"),
        F.count(F.lit(1)).cast("double").alias("nk"),
    )
    j = msb.crossJoin(msw)
    ms_within = F.col("ssw") / (F.col("nk") - F.col("n"))
    return j.select(
        F.col("n").cast("bigint").alias("n_subjects"),
        F.round("msb", 6).alias("ms_between"),
        F.round(ms_within, 6).alias("ms_within"),
        F.round(
            (F.col("msb") - ms_within) / (F.col("msb") + (_K - 1) * ms_within), 6
        ).alias("icc1"),
    )


# ---------------------------------------------------------------------------
# Pipeline health reports.
#
# Two audit queries a curation pipeline runs before anything expensive:
# the dedup impact report (what exact dedup would remove, stated
# before/after so the run decision is one row), and the embedding
# health audit (norm distribution + degenerate-vector counts per
# label — the check that catches a broken encoder before an ANN index
# is built over garbage).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# stats_cohens_d — effect size for the click-vs-view comparison
# ---------------------------------------------------------------------------
_COHEN_SQL = """
WITH s AS (SELECT
  AVG(CASE WHEN event_type = 'click' THEN value END) AS m1,
  AVG(CASE WHEN event_type = 'view' THEN value END) AS m2,
  VAR_SAMP(CASE WHEN event_type = 'click' THEN value END) AS v1,
  VAR_SAMP(CASE WHEN event_type = 'view' THEN value END) AS v2,
  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE) AS n1,
  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS n2
 FROM events),
d AS (SELECT n1, n2,
             (m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
               AS d
      FROM s)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND(d, 6) AS cohens_d,
       ROUND(d * (1 - 3 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
       ROUND(sqrt((n1 + n2) / (n1 * n2) + d * d / (2 * (n1 + n2))), 6)
         AS se_d
FROM d
"""


@register("stats_cohens_d", _COHEN_SQL)
def stats_cohens_d(spark, sf_dir):
    """Cohen's d for the click-vs-view value comparison — the EFFECT
    SIZE stats_ttest's significance doesn't give (the same
    complement relationship as stats_cramers_v to stats_chi2):
    pooled-SD standardized mean difference, the small-sample Hedges'
    g correction (×(1 − 3/(4N−9))), and the standard error of d for
    interval construction. One conditional-aggregate scan; scalar
    arithmetic after.

    Shape: single scan, one reduce — the stats_ttest shape with a
    different numerator."""
    click = F.col("event_type") == "click"
    view = F.col("event_type") == "view"
    s = _t(spark, sf_dir, "events").agg(
        F.avg(F.when(click, F.col("value"))).alias("m1"),
        F.avg(F.when(view, F.col("value"))).alias("m2"),
        F.var_samp(F.when(click, F.col("value"))).alias("v1"),
        F.var_samp(F.when(view, F.col("value"))).alias("v2"),
        F.count(F.when(click, 1)).cast("double").alias("n1"),
        F.count(F.when(view, 1)).cast("double").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    d = (F.col("m1") - F.col("m2")) / F.sqrt(
        ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2)
    )
    dd = s.select("n1", "n2", d.alias("d"))
    return dd.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(F.col("d"), 6).alias("cohens_d"),
        F.round(F.col("d") * (1 - 3 / (4 * (n1 + n2) - 9)), 6).alias("hedges_g"),
        F.round(
            F.sqrt(
                (n1 + n2) / (n1 * n2) + F.col("d") * F.col("d") / (2 * (n1 + n2))
            ),
            6,
        ).alias("se_d"),
    )


# ---------------------------------------------------------------------------
# stats_bland_altman — limits of agreement
# ---------------------------------------------------------------------------

_BA_SQL = """
WITH p AS (
  SELECT value AS x, LAG(value) OVER w AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
d AS (SELECT x - y AS diff FROM p WHERE y IS NOT NULL),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(diff) AS bias,
             STDDEV_SAMP(diff) AS sd
      FROM d)
SELECT n,
       ROUND(bias, 6) AS bias,
       ROUND(sd, 6) AS sd_diff,
       ROUND(bias - 1.96 * sd, 6) AS loa_lower,
       ROUND(bias + 1.96 * sd, 6) AS loa_upper,
       ROUND((SELECT CAST(SUM(CASE WHEN diff >= bias - 1.96 * sd
                                    AND diff <= bias + 1.96 * sd
                                   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
              FROM d CROSS JOIN s), 6) AS frac_within
FROM s
"""


@register("stats_bland_altman", _BA_SQL)
def stats_bland_altman(spark, sf_dir):
    """Bland-Altman limits of agreement on the consecutive-pair
    differences stats_lin_ccc correlates: bias (mean difference),
    SD of differences, the 95% limits bias ± 1.96·SD, and the
    observed fraction of pairs inside them (≈0.95 when differences
    are near-normal — the check Bland & Altman 1986 prescribe before
    trusting the limits). Completes the method-comparison trio: CCC
    scores agreement, Deming fits it, Bland-Altman BOUNDS it.

    Shape: one series-key window shuffle, one moment aggregate, one
    counted second pass against the broadcast limits (the price of
    the within-limits diagnostic)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    d = (
        ev.select((F.col("value") - F.lag("value").over(w)).alias("diff"))
        .filter(F.col("diff").isNotNull())
    )
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("diff").alias("bias"),
        F.stddev_samp("diff").alias("sd"),
    )
    within = d.crossJoin(F.broadcast(s)).agg(
        F.round(
            F.sum(
                F.when(
                    (F.col("diff") >= F.col("bias") - 1.96 * F.col("sd"))
                    & (F.col("diff") <= F.col("bias") + 1.96 * F.col("sd")),
                    1,
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_within")
    )
    return s.crossJoin(within).select(
        "n",
        F.round("bias", 6).alias("bias"),
        F.round("sd", 6).alias("sd_diff"),
        F.round(F.col("bias") - 1.96 * F.col("sd"), 6).alias("loa_lower"),
        F.round(F.col("bias") + 1.96 * F.col("sd"), 6).alias("loa_upper"),
        "frac_within",
    )
