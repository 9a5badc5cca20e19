"""Machine learning: closed-form and iterative model fitting, PCA,
classifiers, clustering and model evaluation.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from stockify_spark.queries.text import _TOKS_SQL
from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import RAMP_SERIES_LEN, RAMP_SQL, _scratch_table, stocks_ramp


# ---------------------------------------------------------------------------
# ml_kmeans_assign — distributed Lloyd's k-means (seeded, 2 updates)
# ---------------------------------------------------------------------------
def _kmeans_oracle(k: int, updates: int) -> str:
    sql = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cluster, v AS cvec FROM e WHERE vec_id < {k})"""
    for i in range(1, updates + 1):
        sql += f""",
a{i} AS (SELECT vec_id, cluster FROM (
  SELECT e.vec_id, c.cluster,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY list_distance(e.v, c.cvec) ASC, c.cluster) AS rn
  FROM e CROSS JOIN c{i-1} c) WHERE rn = 1),
c{i} AS (
  SELECT cluster, list(m ORDER BY pos) AS cvec FROM (
    SELECT a.cluster, u.pos, ROUND(AVG(e.v[u.pos]), 6) AS m
    FROM a{i} a JOIN e USING (vec_id),
         LATERAL (SELECT unnest(range(1, len(e.v)+1)) AS pos) u
    GROUP BY a.cluster, u.pos)
  GROUP BY cluster)"""
    return sql + f"""
SELECT vec_id, cluster FROM (
  SELECT e.vec_id, c.cluster,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY list_distance(e.v, c.cvec) ASC, c.cluster) AS rn
  FROM e CROSS JOIN c{updates} c) WHERE rn = 1"""


@register("ml_kmeans_assign", _kmeans_oracle(8, 2))
def ml_kmeans_assign(spark, sf_dir):
    """Two Lloyd iterations of k=8 k-means over the embedding corpus
    (llm/clustering.py): map-side closure-model assignment (zero
    shuffle), k*d-key mean-update shuffle, ROUND(6) model boundary —
    the cross-engine-exact float policy. Output: final (vec_id,
    cluster) assignment."""
    from stockify_spark.llm.clustering import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, updates=2)


# ---------------------------------------------------------------------------
# ml_linreg_group — closed-form OLS per group
# ---------------------------------------------------------------------------

_LINREG_SQL = """
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       ROUND(corr(l_extendedprice, l_quantity) * corr(l_extendedprice, l_quantity), 6) AS r2,
       COUNT(*)::BIGINT AS n
FROM lineitem GROUP BY l_returnflag
"""


@register("ml_linreg_group", _LINREG_SQL)
def ml_linreg_group(spark, sf_dir):
    """Per-group simple linear regression (price ~ quantity) via the
    closed-form moment aggregates: slope = covar_pop/var_pop,
    intercept = mean(y) - slope*mean(x), r2 = corr^2 — one map-side-
    combined aggregation pass, no iteration, no UDF. The scalable way
    to fit millions of per-key models (one groupBy, k result rows)."""
    li = _t(spark, sf_dir, "lineitem")
    slope = F.covar_pop("l_extendedprice", "l_quantity") / F.var_pop("l_quantity")
    intercept = F.avg("l_extendedprice") - slope * F.avg("l_quantity")
    r2 = F.corr("l_extendedprice", "l_quantity") ** 2
    return li.groupBy("l_returnflag").agg(
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# ml_knn_classify — embedding-space k-NN label prediction
# ---------------------------------------------------------------------------
_KNN_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 20),
nn AS (SELECT qid, label,
       ROW_NUMBER() OVER (PARTITION BY qid
         ORDER BY list_cosine_similarity(qe, embedding) DESC, vec_id) AS rnk
       FROM q CROSS JOIN c),
votes AS (SELECT qid, label, COUNT(*)::BIGINT AS votes
          FROM nn WHERE rnk <= 5 GROUP BY 1, 2)
SELECT qid AS query_id, label AS pred_label, votes
FROM (SELECT qid, label, votes,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS r
      FROM votes)
WHERE r = 1
"""


@register("ml_knn_classify", _KNN_SQL)
def ml_knn_classify(spark, sf_dir):
    """k-NN label prediction over the embedding table: each query
    vector (vec_id < 20) takes the majority label of its 5 nearest
    labeled neighbors (vec_id >= 20) by exact cosine — the standard
    embedding-quality probe (label recovery) run over a corpus.

    Scale shape: neighbor search is cosine_topk_batched's map-side
    partial top-k (every corpus batch emits <= k rows per query; the
    window ranks Q*k*batches rows, never the cross product); the vote
    is a (query, label) count + one deterministic argmax window
    (votes DESC, label ASC — bit-free integer ordering). Scores stay
    bit-identical to the oracle's list_cosine_similarity loop via the
    dimension-sequential accumulation."""
    from stockify_spark.llm.similarity import cosine_topk_batched
    from pyspark.sql import Window as W2

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    nn = cosine_topk_batched(corpus, queries, k=5, exclude_self=False)
    votes = (
        nn.join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = W2.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


_NB_SQL = f"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
ttok AS (SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM train),
ccnt AS (SELECT lang, tok, COUNT(*) AS c FROM ttok GROUP BY lang, tok),
ctot AS (SELECT lang, COUNT(*) AS tot FROM ttok GROUP BY lang),
v AS (SELECT COUNT(DISTINCT tok) AS v FROM ttok),
prior AS (SELECT lang, COUNT(*) AS nd FROM train GROUP BY lang),
ndall AS (SELECT COUNT(*) AS nd FROM train),
stok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM test),
scored AS (
  SELECT s.doc_id, p.lang,
         ln(CAST(p.nd AS DOUBLE) / a.nd)
           + SUM(ln((COALESCE(c.c, 0) + 1.0) / (t.tot + v.v))) AS score
  FROM stok s
  CROSS JOIN prior p
  JOIN ctot t ON t.lang = p.lang
  CROSS JOIN v
  CROSS JOIN ndall a
  LEFT JOIN ccnt c ON c.lang = p.lang AND c.tok = s.tok
  GROUP BY s.doc_id, p.lang, p.nd, t.tot, v.v, a.nd
),
pick AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(score, 6) DESC, lang) AS rn
  FROM scored
)
SELECT doc_id, lang AS pred_lang, ROUND(score, 6) AS score
FROM pick WHERE rn = 1
"""


@register("ml_naive_bayes", _NB_SQL)
def ml_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes over the documents corpus: train on
    doc_id % 5 != 0 (label = lang), classify the held-out fifth.
    Laplace-smoothed log-likelihoods ln((count+1)/(total_c + V)) +
    ln(prior); argmax per doc ordered by the 6dp-ROUNDED score then
    lang, so cross-engine ulp drift in the unordered log-sum cannot
    flip the winner. The model is counts only — two aggregate tables
    (class-token counts, class totals) that BROADCAST at any corpus
    scale: training is one shuffle of the exploded token table,
    scoring is a map-side join per test token plus one groupBy
    (doc, class). The classic distributed text classifier with zero
    iterative state."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    # the exploded train tokens feed FOUR model aggregates
    # (class-token counts, class totals, vocabulary, priors) —
    # materialize once instead of four explode passes
    ttok = train.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    ).localCheckpoint(eager=False)
    ccnt = ttok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    ctot = ttok.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    v = ttok.select(F.countDistinct("tok").alias("v"))
    prior = train.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    ndall = train.select(F.count(F.lit(1)).alias("nd_all"))

    stok = test.select("doc_id", F.explode(tokens("text")).alias("tok"))
    # model side: 5 classes x vocab — broadcast by construction
    model = (
        prior.join(ctot, "lang")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(ndall))
    )
    cmodel = ccnt.select(
        F.col("lang").alias("clang"), F.col("tok").alias("ctok"), "c"
    )
    scored = (
        stok.crossJoin(F.broadcast(model.select("lang", "nd", "tot", "v", "nd_all")))
        .join(
            F.broadcast(cmodel),
            (F.col("clang") == F.col("lang")) & (F.col("ctok") == F.col("tok")),
            "left",
        )
        .groupBy("doc_id", "lang", "nd", "tot", "v", "nd_all")
        .agg(
            F.sum(
                F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("tot") + F.col("v")))
            ).alias("ll")
        )
        .select(
            "doc_id",
            "lang",
            (F.log(F.col("nd").cast("double") / F.col("nd_all")) + F.col("ll")).alias("score"),
        )
    )
    wpick = Window.partitionBy("doc_id").orderBy(
        F.round("score", 6).desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            F.round("score", 6).alias("score"),
        )
    )


_RIDGE_SQL = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(l_quantity), 2) AS sx1,
         ROUND(SUM(l_discount), 2) AS sx2,
         ROUND(SUM(l_quantity * l_quantity), 2) AS sx11,
         ROUND(SUM(l_quantity * l_discount), 2) AS sx12,
         ROUND(SUM(l_discount * l_discount), 4) AS sx22,
         ROUND(SUM(l_extendedprice), 2) AS sy,
         ROUND(SUM(l_quantity * l_extendedprice), 2) AS sx1y,
         ROUND(SUM(l_discount * l_extendedprice), 4) AS sx2y
  FROM lineitem
),
a AS (
  SELECT n + 1.0 AS a11, sx1 AS a12, sx2 AS a13,
         sx11 + 1.0 AS a22, sx12 AS a23, sx22 + 1.0 AS a33,
         sy AS b1, sx1y AS b2, sx2y AS b3, n
  FROM m
),
d AS (
  SELECT *,
         a11 * (a22 * a33 - a23 * a23)
         - a12 * (a12 * a33 - a23 * a13)
         + a13 * (a12 * a23 - a22 * a13) AS det
  FROM a
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND((b1 * (a22 * a33 - a23 * a23)
              - a12 * (b2 * a33 - a23 * b3)
              + a13 * (b2 * a23 - a22 * b3)) / det, 6) AS beta0,
       ROUND((a11 * (b2 * a33 - b3 * a23)
              - b1 * (a12 * a33 - a23 * a13)
              + a13 * (a12 * b3 - b2 * a13)) / det, 6) AS beta1,
       ROUND((a11 * (a22 * b3 - a23 * b2)
              - a12 * (a12 * b3 - b2 * a13)
              + b1 * (a12 * a23 - a22 * a13)) / det, 6) AS beta2
FROM d
"""


@register("ml_ridge_closed_form", _RIDGE_SQL)
def ml_ridge_closed_form(spark, sf_dir):
    """Ridge regression (λ=1 on every diagonal) by the normal
    equations, solved in closed form: y = l_extendedprice on
    [1, l_quantity, l_discount]. The DISTRIBUTED part is one pass of
    nine moment sums (X'X and X'y entries); the solve is Cramer's
    rule on the 3×3 system written as identical column expressions
    on both faces. The moment sums are exact 2dp/4dp decimals
    (quantity is integral, discount/price are 2dp data), so the
    ROUND pins restore the exact decimal value whatever order each
    engine accumulated in — the recursion-input pinning idea
    (orders_holt_forecast) applied to model fitting. Verified
    against numpy.linalg.solve in tests. At 100 TB this is the
    textbook scale shape: shuffle-free map-side partial moments, a
    single tiny reduce, no iteration."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    q, dc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(q), 2).alias("sx1"),
        F.round(F.sum(dc), 2).alias("sx2"),
        F.round(F.sum(q * q), 2).alias("sx11"),
        F.round(F.sum(q * dc), 2).alias("sx12"),
        F.round(F.sum(dc * dc), 4).alias("sx22"),
        F.round(F.sum(y), 2).alias("sy"),
        F.round(F.sum(q * y), 2).alias("sx1y"),
        F.round(F.sum(dc * y), 4).alias("sx2y"),
    )
    a = m.select(
        (F.col("n") + 1.0).alias("a11"),
        F.col("sx1").alias("a12"),
        F.col("sx2").alias("a13"),
        (F.col("sx11") + 1.0).alias("a22"),
        F.col("sx12").alias("a23"),
        (F.col("sx22") + 1.0).alias("a33"),
        F.col("sy").alias("b1"),
        F.col("sx1y").alias("b2"),
        F.col("sx2y").alias("b3"),
        "n",
    )
    c = F.col
    det = (
        c("a11") * (c("a22") * c("a33") - c("a23") * c("a23"))
        - c("a12") * (c("a12") * c("a33") - c("a23") * c("a13"))
        + c("a13") * (c("a12") * c("a23") - c("a22") * c("a13"))
    )
    d = a.withColumn("det", det)
    beta0 = (
        c("b1") * (c("a22") * c("a33") - c("a23") * c("a23"))
        - c("a12") * (c("b2") * c("a33") - c("a23") * c("b3"))
        + c("a13") * (c("b2") * c("a23") - c("a22") * c("b3"))
    ) / c("det")
    beta1 = (
        c("a11") * (c("b2") * c("a33") - c("b3") * c("a23"))
        - c("b1") * (c("a12") * c("a33") - c("a23") * c("a13"))
        + c("a13") * (c("a12") * c("b3") - c("b2") * c("a13"))
    ) / c("det")
    beta2 = (
        c("a11") * (c("a22") * c("b3") - c("a23") * c("b2"))
        - c("a12") * (c("a12") * c("b3") - c("b2") * c("a13"))
        + c("b1") * (c("a12") * c("a23") - c("a22") * c("a13"))
    ) / c("det")
    return d.select(
        c("n").cast("long").alias("n_rows"),
        F.round(beta0, 6).alias("beta0"),
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
    )


_PCA_SQL = """
WITH mo AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(l_quantity), 2) AS sx,
         ROUND(SUM(l_discount), 2) AS sy,
         ROUND(SUM(l_quantity * l_quantity), 2) AS sxx,
         ROUND(SUM(l_quantity * l_discount), 2) AS sxy,
         ROUND(SUM(l_discount * l_discount), 4) AS syy
  FROM lineitem
),
cov AS (
  SELECT n,
         sxx / n - (sx / n) * (sx / n) AS cxx,
         sxy / n - (sx / n) * (sy / n) AS cxy,
         syy / n - (sy / n) * (sy / n) AS cyy
  FROM mo
),
eig AS (
  SELECT n, cxx, cxy, cyy,
         (cxx + cyy) / 2.0
           + sqrt((cxx - cyy) * (cxx - cyy) / 4.0 + cxy * cxy) AS lam1,
         (cxx + cyy) / 2.0
           - sqrt((cxx - cyy) * (cxx - cyy) / 4.0 + cxy * cxy) AS lam2
  FROM cov
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND(lam1, 6) AS lambda1, ROUND(lam2, 6) AS lambda2,
       ROUND(lam1 / (lam1 + lam2), 6) AS explained_ratio,
       ROUND(cxy, 6) AS v1_x, ROUND(lam1 - cxx, 6) AS v1_y
FROM eig
"""


@register("ml_pca_2d", _PCA_SQL)
def ml_pca_2d(spark, sf_dir):
    """2-D PCA in closed form over (l_quantity, l_discount): pinned
    moment sums (the ml_ridge_closed_form pattern) → covariance
    entries → eigenvalues by the symmetric-2×2 quadratic formula
    (sqrt is IEEE-correctly-rounded, so identical operands give
    identical results — no transcendental risk), explained-variance
    ratio, and the λ1 eigenvector reported UNNORMALIZED as
    (cxy, λ1 − cxx) to avoid a second sqrt. Distributed cost: one
    map-side moment pass, zero iterations."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_discount")
    mo = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(x), 2).alias("sx"),
        F.round(F.sum(y), 2).alias("sy"),
        F.round(F.sum(x * x), 2).alias("sxx"),
        F.round(F.sum(x * y), 2).alias("sxy"),
        F.round(F.sum(y * y), 4).alias("syy"),
    )
    c = F.col
    cov = mo.select(
        "n",
        (c("sxx") / c("n") - (c("sx") / c("n")) * (c("sx") / c("n"))).alias("cxx"),
        (c("sxy") / c("n") - (c("sx") / c("n")) * (c("sy") / c("n"))).alias("cxy"),
        (c("syy") / c("n") - (c("sy") / c("n")) * (c("sy") / c("n"))).alias("cyy"),
    )
    disc = F.sqrt((c("cxx") - c("cyy")) * (c("cxx") - c("cyy")) / 4.0 + c("cxy") * c("cxy"))
    eig = cov.select(
        "n", "cxx", "cxy", "cyy",
        ((c("cxx") + c("cyy")) / 2.0 + disc).alias("lam1"),
        ((c("cxx") + c("cyy")) / 2.0 - disc).alias("lam2"),
    )
    return eig.select(
        c("n").cast("long").alias("n_rows"),
        F.round("lam1", 6).alias("lambda1"),
        F.round("lam2", 6).alias("lambda2"),
        F.round(c("lam1") / (c("lam1") + c("lam2")), 6).alias("explained_ratio"),
        F.round("cxy", 6).alias("v1_x"),
        F.round(c("lam1") - c("cxx"), 6).alias("v1_y"),
    )


_CONF_SQL = f"""
WITH nb AS ({_NB_SQL}),
truth AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0),
j AS (
  SELECT t.lang AS true_lang, nb.pred_lang
  FROM truth t JOIN nb ON nb.doc_id = t.doc_id
),
per_true AS (
  SELECT true_lang, COUNT(*) AS support,
         CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
              AS BIGINT) AS tp
  FROM j GROUP BY true_lang
),
per_pred AS (
  SELECT pred_lang, COUNT(*) AS pred_n FROM j GROUP BY pred_lang
)
SELECT pt.true_lang AS lang, pt.support, pt.tp,
       COALESCE(pp.pred_n, 0) AS pred_n,
       ROUND(CASE WHEN COALESCE(pp.pred_n, 0) = 0 THEN 0.0
                  ELSE CAST(pt.tp AS DOUBLE) / pp.pred_n END, 6) AS precision,
       ROUND(CAST(pt.tp AS DOUBLE) / pt.support, 6) AS recall,
       ROUND(CASE WHEN COALESCE(pp.pred_n, 0) = 0 OR pt.tp = 0 THEN 0.0
                  ELSE 2.0 * (CAST(pt.tp AS DOUBLE) / pp.pred_n)
                        * (CAST(pt.tp AS DOUBLE) / pt.support)
                        / (CAST(pt.tp AS DOUBLE) / pp.pred_n
                           + CAST(pt.tp AS DOUBLE) / pt.support) END, 6) AS f1
FROM per_true pt LEFT JOIN per_pred pp ON pp.pred_lang = pt.true_lang
"""


@register("ml_confusion_metrics", _CONF_SQL)
def ml_confusion_metrics(spark, sf_dir):
    """Per-class precision/recall/F1 of the ml_naive_bayes
    classifier against the held-out truth — one registry operator
    EVALUATING another (the oracle inlines the full NB SQL as a
    CTE, so the composed pipeline is hash-checked end to end). All
    inputs are integer confusion counts; the metric divisions are
    identical rationals on both faces. Zero-prediction classes get
    precision/F1 pinned to 0."""

    nb = ml_naive_bayes(spark, sf_dir).select("doc_id", "pred_lang")
    truth = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", F.col("lang").alias("true_lang"))
    )
    # j feeds BOTH confusion branches (per-true and per-pred); without
    # materialization each branch re-runs the full NB train+score
    # pipeline (plan census: 18 shuffles -> 10)
    j = truth.join(nb, "doc_id").localCheckpoint(eager=False)
    per_true = j.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("support"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
        ).alias("tp"),
    )
    per_pred = j.groupBy(F.col("pred_lang")).agg(F.count(F.lit(1)).alias("pred_n"))
    c = F.col
    out = per_true.join(
        per_pred, per_pred["pred_lang"] == per_true["true_lang"], "left"
    )
    pred_n = F.coalesce(c("pred_n"), F.lit(0))
    prec = F.when(pred_n == 0, F.lit(0.0)).otherwise(
        c("tp").cast("double") / c("pred_n")
    )
    rec = c("tp").cast("double") / c("support")
    f1 = F.when((pred_n == 0) | (c("tp") == 0), F.lit(0.0)).otherwise(
        2.0 * prec * rec / (prec + rec)
    )
    return out.select(
        c("true_lang").alias("lang"),
        "support",
        "tp",
        pred_n.alias("pred_n"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Per-key curve fitting and vocabulary
# growth law.
#
# Quadratic fitting extends the closed-form-ML family (ridge/PCA/
# detrend) to per-key NORMAL EQUATIONS with a polynomial design: the
# moment sums up to Σpos⁴ stay integer-exact below 2^53, so the 3×3
# Cramer solve per series is deterministic with no pins. Heaps' law is
# the corpus-statistics dual of text_zipf_fit: vocabulary size as a
# function of corpus size, computed in ONE pass via each token's
# first-occurrence document (V(prefix) = cumulative count of first
# occurrences — no per-prefix rescans), with the log-log exponent fit
# on literal design weights.
# ---------------------------------------------------------------------------
_POLY_SQL = f"""
WITH stocks AS ({RAMP_SQL}),
base AS (SELECT row_id // {RAMP_SERIES_LEN} AS symbol,
                row_id % {RAMP_SERIES_LEN} AS pos, close
         FROM stocks),
m AS (
  SELECT symbol, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(pos) AS DOUBLE) AS s1,
         CAST(SUM(pos * pos) AS DOUBLE) AS s2,
         CAST(SUM(pos * pos * pos) AS DOUBLE) AS s3,
         CAST(SUM(CAST(pos * pos AS DOUBLE) * CAST(pos * pos AS DOUBLE))
              AS DOUBLE) AS s4,
         SUM(close) AS b0, SUM(pos * close) AS b1,
         SUM(pos * pos * close) AS b2
  FROM base GROUP BY symbol
),
d AS (
  SELECT symbol, b0, b1, b2, n, s1, s2, s3, s4,
         n * (s2 * s4 - s3 * s3)
         - s1 * (s1 * s4 - s3 * s2)
         + s2 * (s1 * s3 - s2 * s2) AS det
  FROM m
)
SELECT CAST(symbol AS BIGINT) AS symbol,
       ROUND((b0 * (s2 * s4 - s3 * s3)
              - s1 * (b1 * s4 - s3 * b2)
              + s2 * (b1 * s3 - s2 * b2)) / det, 6) AS c0,
       ROUND((n * (b1 * s4 - b2 * s3)
              - b0 * (s1 * s4 - s3 * s2)
              + s2 * (s1 * b2 - b1 * s2)) / det, 6) AS c1,
       ROUND((n * (s2 * b2 - s3 * b1)
              - s1 * (s1 * b2 - b1 * s2)
              + b0 * (s1 * s3 - s2 * s2)) / det, 6) AS c2
FROM d
"""


@register("ml_polyfit_series", _POLY_SQL)
def ml_polyfit_series(spark, sf_dir):
    """Per-series quadratic least squares close ~ c0 + c1·pos +
    c2·pos² by the normal equations: one moment pass (Σpos⁰..⁴ and
    the three response moments — the largest, Σpos⁴ ≈ 1.8e11, is
    exactly representable, the integer rule of graph_assortativity) and a
    per-key 3×3 Cramer solve written as identical column
    expressions. Distributed curve fitting with zero iterations and
    key-count parallelism; verified against numpy.polyfit in
    tests."""

    base = stocks_ramp(spark, cycles=100).select(
        (F.col("row_id") / RAMP_SERIES_LEN).cast("long").alias("symbol"),
        (F.col("row_id") % RAMP_SERIES_LEN).cast("long").alias("pos"),
        "close",
    )
    p = F.col("pos")
    y = F.col("close")
    p2 = (p * p).cast("double")
    m = base.groupBy("symbol").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(p).cast("double").alias("s1"),
        F.sum(p * p).cast("double").alias("s2"),
        F.sum(p * p * p).cast("double").alias("s3"),
        F.sum(p2 * p2).alias("s4"),
        F.sum(y).alias("b0"),
        F.sum(p * y).alias("b1"),
        F.sum(p * p * y).alias("b2"),
    )
    c = F.col
    det = (
        c("n") * (c("s2") * c("s4") - c("s3") * c("s3"))
        - c("s1") * (c("s1") * c("s4") - c("s3") * c("s2"))
        + c("s2") * (c("s1") * c("s3") - c("s2") * c("s2"))
    )
    d = m.withColumn("det", det)
    c0 = (
        c("b0") * (c("s2") * c("s4") - c("s3") * c("s3"))
        - c("s1") * (c("b1") * c("s4") - c("s3") * c("b2"))
        + c("s2") * (c("b1") * c("s3") - c("s2") * c("b2"))
    ) / c("det")
    c1 = (
        c("n") * (c("b1") * c("s4") - c("b2") * c("s3"))
        - c("b0") * (c("s1") * c("s4") - c("s3") * c("s2"))
        + c("s2") * (c("s1") * c("b2") - c("b1") * c("s2"))
    ) / c("det")
    c2 = (
        c("n") * (c("s2") * c("b2") - c("s3") * c("b1"))
        - c("s1") * (c("s1") * c("b2") - c("b1") * c("s2"))
        + c("b0") * (c("s1") * c("s3") - c("s2") * c("s2"))
    ) / c("det")
    return d.select(
        "symbol",
        F.round(c0, 6).alias("c0"),
        F.round(c1, 6).alias("c1"),
        F.round(c2, 6).alias("c2"),
    )


# ---------------------------------------------------------------------------
# Iterative ML with an exact SQL oracle.
#
# Logistic regression trained by Newton-Raphson (equivalently IRLS) —
# the canonical iterative algorithm people claim cannot be
# differentially tested against a SQL engine. It can: each Newton step
# is ONE aggregate over the fact table (gradient + Hessian + log
# likelihood at the current coefficients), and a 2-parameter model
# (intercept + one feature) has a closed-form Cramer solve for the
# step, so K iterations are K chained CTEs in DuckDB and K collected
# 1-row aggregates in Spark. The recursion is pinned by the repo's
# round-before-decide policy: the five sufficient-statistic sums and
# the updated coefficients are rounded to 6dp each step, so ulp-level
# exp() differences between the JVM and DuckDB's libm (each step's
# per-row sigmoid) can never compound across iterations — drift enters
# a sum at ~1e-11 and is quantized away at 1e-6.
#
# Model: P(urgent order) ~ sigmoid(b0 + b1 * o_totalprice/100000),
# urgent = priority 1-URGENT or 2-HIGH; three Newton steps from
# (0, 0). The synthetic labels are independent of price, so b1
# converges near 0 and b0 near logit(urgent share) — asserted in
# tests/test_ext40.py, which also pins each step against an
# independent numpy reimplementation.
# ---------------------------------------------------------------------------
_ITERS = 3


_D_SQL = """
  SELECT o_totalprice / 100000 AS x,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1.0 ELSE 0.0 END AS y
  FROM orders
"""


def _oracle() -> str:
    ctes = [f"d AS ({_D_SQL})", "b0c AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    for k in range(_ITERS + 1):
        ctes.append(f"""s{k} AS (
  SELECT ROUND(SUM(y - p), 6) AS g0,
         ROUND(SUM(x * (y - p)), 6) AS g1,
         ROUND(SUM(p * (1 - p)), 6) AS h00,
         ROUND(SUM(x * p * (1 - p)), 6) AS h01,
         ROUND(SUM(x * x * p * (1 - p)), 6) AS h11,
         ROUND(SUM(y * ln(p) + (1 - y) * ln(1 - p)), 6) AS ll
  FROM (SELECT x, y, 1 / (1 + exp(-(b.b0 + b.b1 * x))) AS p
        FROM d CROSS JOIN b{k}c b))""")
        if k < _ITERS:
            ctes.append(f"""b{k + 1}c AS (
  SELECT ROUND(b.b0 + (h11 * g0 - h01 * g1)
               / (h00 * h11 - h01 * h01), 6) AS b0,
         ROUND(b.b1 + (h00 * g1 - h01 * g0)
               / (h00 * h11 - h01 * h01), 6) AS b1
  FROM s{k} CROSS JOIN b{k}c b)""")
    rows = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iter, b.b0, b.b1, s.ll "
        f"FROM b{k}c b CROSS JOIN s{k} s"
        for k in range(1, _ITERS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows


@register("ml_logreg_newton", _oracle())
def ml_logreg_newton(spark, sf_dir):
    """Three Newton-Raphson steps of 2-parameter logistic regression
    over orders, reporting (iter, b0, b1, log-likelihood-at-those-
    coefficients) per step. Each step is one map-side-combinable
    aggregate producing six rounded sufficient statistics; the
    coefficient update is a 2x2 Cramer solve computed IN-ENGINE on
    the 1-row aggregate (Spark ROUND == DuckDB ROUND — Python's
    banker's round never touches the recursion) and collected as
    bounded model state (two doubles — the k-means/BPE precedent).

    Scale shape: K full passes over the fact table, each a single
    partial+final aggregate with no shuffle wider than one row —
    the textbook distributed-IRLS layout. At 100 TB the cost is K
    scans (or K cached-dataset passes); nothing else grows with
    data. Coefficients between steps live on the driver, 16 bytes."""
    d = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") / 100000).alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
    )
    b0, b1 = 0.0, 0.0
    out = []
    for k in range(_ITERS + 1):
        eta = F.lit(b0) + F.lit(b1) * F.col("x")
        p = 1 / (1 + F.exp(-eta))
        stats = d.agg(
            F.round(F.sum(F.col("y") - p), 6).alias("g0"),
            F.round(F.sum(F.col("x") * (F.col("y") - p)), 6).alias("g1"),
            F.round(F.sum(p * (1 - p)), 6).alias("h00"),
            F.round(F.sum(F.col("x") * p * (1 - p)), 6).alias("h01"),
            F.round(F.sum(F.col("x") * F.col("x") * p * (1 - p)), 6).alias(
                "h11"
            ),
            F.round(
                F.sum(
                    F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(1 - p)
                ),
                6,
            ).alias("ll"),
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        row = stats.select(
            F.round(
                F.lit(b0)
                + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1"))
                / det,
                6,
            ).alias("nb0"),
            F.round(
                F.lit(b1)
                + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0"))
                / det,
                6,
            ).alias("nb1"),
            "ll",
        ).collect()[0]
        if k >= 1:
            out.append((k, b0, b1, row.ll))
        b0, b1 = row.nb0, row.nb1
    schema = StructType(
        [
            StructField("iter", LongType()),
            StructField("b0", DoubleType()),
            StructField("b1", DoubleType()),
            StructField("ll", DoubleType()),
        ]
    )
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Decision stump by information gain.
#
# The inner loop of every tree learner (CART/C4.5; Quinlan 1986):
# evaluate candidate thresholds on a feature and keep the split
# maximizing information gain. The scale-correct formulation never
# rescans per candidate: group by distinct feature value, take ONE
# cumulative pass for (count, positives) prefix sums, and every
# candidate's left/right contingency is a lookup — the histogram
# trick XGBoost/LightGBM build on. Candidates are the 9 decile fences
# over distinct values by the explicit-rank rule (the
# agg_histogram_equidepth discipline).
#
# Entropies are computed from INTEGER contingencies with identical
# expressions on both engines; gains round at 6dp before the argmax,
# so the winner is decided on identical quantized values.
# ---------------------------------------------------------------------------
def _h(p: str) -> str:
    return (
        f"CASE WHEN {p} <= 0 OR {p} >= 1 THEN 0.0 "
        f"ELSE -({p}) * log2({p}) - (1 - ({p})) * log2(1 - ({p})) END"
    )


_PL = "(CAST(kl AS DOUBLE) / nl)"

_PR = "(CAST(kk - kl AS DOUBLE) / (nn - nl))"

_PT = "(CAST(kk AS DOUBLE) / nn)"


_STUMP_SQL = f"""
WITH d AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders),
g AS (SELECT x, COUNT(*) AS n, SUM(y) AS k FROM d GROUP BY x),
c AS (SELECT x, SUM(n) OVER (ORDER BY x) AS cn, SUM(k) OVER (ORDER BY x) AS ck,
             ROW_NUMBER() OVER (ORDER BY x) AS rx,
             COUNT(*) OVER () AS ndist
      FROM g),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(y) AS BIGINT) AS kk
        FROM d),
cand AS (
  SELECT c.x AS thr, c.cn AS nl, c.ck AS kl, t.nn, t.kk
  FROM c CROSS JOIN tot t
  WHERE c.rx < c.ndist
    AND (c.rx * 10) // c.ndist > ((c.rx - 1) * 10) // c.ndist),
scored AS (
  SELECT thr, CAST(nl AS BIGINT) AS n_left, CAST(kl AS BIGINT) AS k_left,
         ROUND({_h(_PT)}
               - (CAST(nl AS DOUBLE) / nn) * {_h(_PL)}
               - (CAST(nn - nl AS DOUBLE) / nn) * {_h(_PR)}, 6) AS gain
  FROM cand)
SELECT thr, n_left, k_left, gain,
       ROW_NUMBER() OVER (ORDER BY gain DESC, thr) = 1 AS is_best
FROM scored
"""


@register("ml_decision_stump", _STUMP_SQL)
def ml_decision_stump(spark, sf_dir):
    """Best urgent-order split on o_totalprice: 9 decile candidate
    fences over distinct prices, each scored by information gain
    from the ONE cumulative (count, positives) pass, winner flagged
    by rounded-gain argmax with a threshold tie-break. Gain algebra
    (parent entropy minus weighted child entropies, never negative,
    zero for a label-independent split) is pinned in
    tests/test_ext59.py against a from-scratch entropy
    reimplementation.

    Scale shape: one group-by on the feature (distinct-value-sized
    output), one window prefix pass, nine constant-size lookups —
    the histogram-split layout, O(data) once regardless of candidate
    count. The naive per-candidate rescan this replaces is O(data *
    candidates), which is why tree learners invented the trick."""
    d = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    g = d.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("k")
    )
    wx = Window.orderBy("x")
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "x",
        F.sum("n").over(wx).alias("cn"),
        F.sum("k").over(wx).alias("ck"),
        F.row_number().over(wx).alias("rx"),
        F.count(F.lit(1)).over(wall).alias("ndist"),
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("y").cast("long").alias("kk"),
    )
    cand = (
        c.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("rx") < F.col("ndist"))
            & (
                F.expr("(rx * 10) div ndist")
                > F.expr("((rx - 1) * 10) div ndist")
            )
        )
        .select(
            F.col("x").alias("thr"),
            F.col("cn").alias("nl"),
            F.col("ck").alias("kl"),
            "nn",
            "kk",
        )
    )

    def h(p):
        return F.when((p <= 0) | (p >= 1), 0.0).otherwise(
            -p * F.log2(p) - (1 - p) * F.log2(1 - p)
        )

    pl = F.col("kl").cast("double") / F.col("nl")
    pr = (F.col("kk") - F.col("kl")).cast("double") / (
        F.col("nn") - F.col("nl")
    )
    pt = F.col("kk").cast("double") / F.col("nn")
    gain = F.round(
        h(pt)
        - (F.col("nl").cast("double") / F.col("nn")) * h(pl)
        - ((F.col("nn") - F.col("nl")).cast("double") / F.col("nn")) * h(pr),
        6,
    )
    scored = cand.select(
        "thr",
        F.col("nl").cast("long").alias("n_left"),
        F.col("kl").cast("long").alias("k_left"),
        gain.alias("gain"),
    )
    return scored.select(
        "thr",
        "n_left",
        "k_left",
        "gain",
        (
            F.row_number().over(Window.orderBy(F.col("gain").desc(), "thr"))
            == 1
        ).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# ml_pca_power — distributed PCA (partition-Gram + power iteration)
# ---------------------------------------------------------------------------
def _pca_oracle(iters: int) -> str:
    """Unrolled power iteration over the embedding covariance —
    exactly llm/pca.pca_power's recurrence: C entries ROUND(9),
    normalized vector ROUND(9) per iteration, Rayleigh ROUND(6).
    Unrolled CTEs (the kmeans-oracle pattern) rather than a
    recursive CTE: each round needs an aggregation AND a scalar
    normalizer over its own output."""
    sql = """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n, len(any_value(v)) AS d FROM e),
mu AS MATERIALIZED (SELECT i, SUM(v[i]) / (SELECT n FROM nn) AS m
       FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
       GROUP BY i),
c AS MATERIALIZED (SELECT g.i, g.j,
             ROUND(g.s / (SELECT n FROM nn) - mi.m * mj.m, 9) AS c
      FROM (SELECT ui.i, uj.j, SUM(v[ui.i] * v[uj.j]) AS s
            FROM e,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) ui,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS j) uj
            GROUP BY ui.i, uj.j) g
      JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j),
r0 AS (SELECT i, 1.0 / sqrt((SELECT d FROM nn)) AS r FROM mu)"""
    for t in range(1, iters + 1):
        sql += f""",
y{t} AS MATERIALIZED (SELECT c.i, SUM(c.c * r.r) AS y
         FROM c JOIN r{t-1} r ON r.i = c.j GROUP BY c.i),
r{t} AS MATERIALIZED (SELECT i,
         ROUND(y / sqrt((SELECT SUM(y * y) FROM y{t})), 9) AS r FROM y{t})"""
    return sql + f""",
ev AS (SELECT ROUND(SUM(c.c * ra.r * rb.r), 6) AS ev
       FROM c JOIN r{iters} ra ON ra.i = c.i JOIN r{iters} rb ON rb.i = c.j)
SELECT i::BIGINT AS dim, r AS loading, (SELECT ev FROM ev) AS eigenvalue
FROM r{iters}"""


@register("ml_pca_power", _pca_oracle(8))
def ml_pca_power(spark, sf_dir):
    """Top principal component of the embedding corpus: one
    Arrow-batched pass computes per-partition Gram partials (numpy
    matmul per batch — what leaves each partition is one
    (1+d+d²)-double row regardless of row count), the d×d covariance
    is model state, and 8 power-iteration rounds run on the driver
    (llm/pca.pca_power; MLlib's RowMatrix shape on the DataFrame
    API). The oracle unrolls the identical matvec/normalize/round
    chain in SQL, so loadings AND the Rayleigh eigenvalue are
    hash-checked bit-for-bit under the repo's shortest-decimal-string
    HALF_UP rounding policy."""
    from stockify_spark.llm.pca import pca_power

    return pca_power(_t(spark, sf_dir, "embeddings"), iters=8)


def _pca_front(iters: int, k: int) -> str:
    """Shared oracle front: covariance c1, then per component c the
    unrolled power rounds r{c}_{t}, Rayleigh ev{c}, and the deflated
    c{c+1} — llm/pca._power_deflate verbatim in SQL."""
    sql = """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n, len(any_value(v)) AS d FROM e),
mu AS MATERIALIZED (SELECT i, SUM(v[i]) / (SELECT n FROM nn) AS m
       FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
       GROUP BY i),
c1 AS MATERIALIZED (SELECT g.i, g.j,
             ROUND(g.s / (SELECT n FROM nn) - mi.m * mj.m, 9) AS c
      FROM (SELECT ui.i, uj.j, SUM(v[ui.i] * v[uj.j]) AS s
            FROM e,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) ui,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS j) uj
            GROUP BY ui.i, uj.j) g
      JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j)"""
    for comp in range(1, k + 1):
        sql += f""",
r{comp}_0 AS (SELECT i, 1.0 / sqrt((SELECT d FROM nn)) AS r FROM mu)"""
        for t in range(1, iters + 1):
            sql += f""",
y{comp}_{t} AS MATERIALIZED (SELECT c.i, SUM(c.c * r.r) AS y
         FROM c{comp} c JOIN r{comp}_{t - 1} r ON r.i = c.j GROUP BY c.i),
r{comp}_{t} AS MATERIALIZED (SELECT i,
         ROUND(y / sqrt((SELECT SUM(y * y) FROM y{comp}_{t})), 9) AS r
         FROM y{comp}_{t})"""
        sql += f""",
ev{comp} AS MATERIALIZED (SELECT ROUND(SUM(c.c * ra.r * rb.r), 6) AS ev
       FROM c{comp} c JOIN r{comp}_{iters} ra ON ra.i = c.i
       JOIN r{comp}_{iters} rb ON rb.i = c.j)"""
        if comp < k:
            sql += f""",
c{comp + 1} AS MATERIALIZED (SELECT c.i, c.j,
       ROUND(c.c - (SELECT ev FROM ev{comp}) * ra.r * rb.r, 9) AS c
       FROM c{comp} c JOIN r{comp}_{iters} ra ON ra.i = c.i
       JOIN r{comp}_{iters} rb ON rb.i = c.j)"""
    return sql


def _pca_topk_oracle(k: int, iters: int) -> str:
    sel = " UNION ALL ".join(
        f"SELECT {c}::BIGINT AS component, i::BIGINT AS dim, r AS loading,"
        f" (SELECT ev FROM ev{c}) AS eigenvalue FROM r{c}_{iters}"
        for c in range(1, k + 1)
    )
    return _pca_front(iters, k) + f"\nSELECT * FROM ({sel})"


def _pca_project_oracle(k: int, iters: int) -> str:
    allr = " UNION ALL ".join(
        f"SELECT {c} AS comp, i, r FROM r{c}_{iters}" for c in range(1, k + 1)
    )
    pcols = ", ".join(
        f"MAX(CASE WHEN comp = {c} THEN p END) AS p{c}" for c in range(1, k + 1)
    )
    return _pca_front(iters, k) + f""",
allr AS MATERIALIZED ({allr}),
doc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS (SELECT d.vec_id, rc.comp,
                ROUND(SUM((d.v[u.i] - mu.m) * rc.r), 6) AS p
         FROM doc d,
              LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
         JOIN mu ON mu.i = u.i
         JOIN allr rc ON rc.i = u.i
         GROUP BY d.vec_id, rc.comp)
SELECT vec_id, {pcols} FROM proj GROUP BY vec_id"""


@register("ml_pca_topk", _pca_topk_oracle(3, 8))
def ml_pca_topk(spark, sf_dir):
    """Top-3 principal components via power iteration + Hotelling
    deflation (llm/pca.pca_topk): after each component, the
    covariance is deflated C ← ROUND(C − λ v vᵀ, 9) with the ROUNDED
    eigenpair, so every matrix the next component iterates on sits
    on the cross-engine rounding grid — the oracle unrolls all
    3 × 8 rounds + 2 deflations and hash-matches every loading and
    eigenvalue."""
    from stockify_spark.llm.pca import pca_topk

    return pca_topk(_t(spark, sf_dir, "embeddings"), k=3, iters=8)


@register("ml_pca_project", _pca_project_oracle(3, 8))
def ml_pca_project(spark, sf_dir):
    """PCA APPLY: project every embedding onto the top-3 components
    (llm/pca.pca_project) — the k·d loading model + mean travel in
    the closure, the projection is one map-side Arrow pass, ROUND(6)
    per coordinate. Train face and apply face share _gram/_power_
    deflate, so the oracle's independently-derived loadings price
    the whole pipeline: a drifted component would shift every
    projection and fail the value hash on all rows."""
    from stockify_spark.llm.pca import pca_project

    return pca_project(_t(spark, sf_dir, "embeddings"), k=3, iters=8)


@register("ml_pca_incremental", _pca_topk_oracle(1, 8))
def ml_pca_incremental(spark, sf_dir):
    """INCREMENTAL PCA through the ACID stats table
    (llm/pca.gram_update / pca_from_gram): the corpus arrives as
    three idempotent batches (vec_id thirds), each folding one
    (n, Σv, Σ v·vᵀ) partial row into a txlog table — a replayed
    batch is a no-op via the (app, version) txn marker, so the
    covariance can never double-count under at-least-once delivery.
    The model is rebuilt from the stats table alone (element-wise
    positional sums, d + d² model rows — never a corpus re-scan) and
    must hash-match the ONE-SHOT batch oracle: Gram associativity is
    the whole design, and the ROUND(9) covariance grid absorbs the
    batch-order summation difference."""
    import os

    from stockify_spark.llm.pca import gram_update, pca_from_gram

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        table = os.path.join(path, "gram")
        hi = emb.agg(F.max("vec_id")).collect()[0][0]
        cut1, cut2 = hi // 3, 2 * hi // 3
        parts = [
            emb.filter(F.col("vec_id") <= cut1),
            emb.filter((F.col("vec_id") > cut1) & (F.col("vec_id") <= cut2)),
            emb.filter(F.col("vec_id") > cut2),
        ]
        for v, batch in enumerate(parts):
            gram_update(batch, table, app_id="pca-inc", batch_version=v)
        # at-least-once replay of the last batch: must be a no-op
        gram_update(parts[-1], table, app_id="pca-inc", batch_version=2)

    root = _scratch_table(sf_dir, "pcainc", build, src_file="embeddings.parquet")
    return pca_from_gram(spark, os.path.join(root, "gram"), k=1, iters=8)


def _pca_outlier_oracle(k: int, iters: int) -> str:
    allr = " UNION ALL ".join(
        f"SELECT {c} AS comp, i, r FROM r{c}_{iters}" for c in range(1, k + 1)
    )
    evs = " UNION ALL ".join(
        f"SELECT {c} AS comp, ev FROM ev{c}" for c in range(1, k + 1)
    )
    return _pca_front(iters, k) + f""",
allr AS MATERIALIZED ({allr}),
evs AS MATERIALIZED ({evs}),
doc AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
proj AS MATERIALIZED (SELECT d.vec_id, rc.comp,
                ROUND(SUM((d.v[u.i] - mu.m) * rc.r), 6) AS p
         FROM doc d,
              LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
         JOIN mu ON mu.i = u.i
         JOIN allr rc ON rc.i = u.i
         GROUP BY d.vec_id, rc.comp)
SELECT p.vec_id, ROUND(SUM(p.p * p.p / e.ev), 6) AS m2
FROM proj p JOIN evs e ON e.comp = p.comp
GROUP BY p.vec_id"""


@register("ml_pca_outliers", _pca_outlier_oracle(3, 8))
def ml_pca_outliers(spark, sf_dir):
    """Embedding outlier scores for corpus curation
    (llm/pca.pca_outlier_scores): reduced-space Mahalanobis
    m² = Σ p_c²/λ_c over the top-3 components — the filter that
    surfaces mislabeled/corrupted/off-domain vectors before
    training. Every input sits on the shared rounding grid
    (projections and eigenvalues ROUND(6)), so the score itself is
    cross-engine exact under ROUND(6) — the oracle re-derives the
    whole model and hash-matches every document's score."""
    from stockify_spark.llm.pca import pca_outlier_scores

    return pca_outlier_scores(_t(spark, sf_dir, "embeddings"), k=3, iters=8)


_CORR_SQL = """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM e),
mu AS MATERIALIZED (SELECT i, SUM(v[i]) / (SELECT n FROM nn) AS m
       FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) u
       GROUP BY i),
c1 AS MATERIALIZED (SELECT g.i, g.j,
             ROUND(g.s / (SELECT n FROM nn) - mi.m * mj.m, 9) AS c
      FROM (SELECT ui.i, uj.j, SUM(v[ui.i] * v[uj.j]) AS s
            FROM e,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) ui,
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS j) uj
            GROUP BY ui.i, uj.j) g
      JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j)
SELECT dim_i::BIGINT AS dim_i, dim_j::BIGINT AS dim_j, r FROM (
  SELECT a.i AS dim_i, a.j AS dim_j,
         ROUND(a.c / sqrt(ai.c * aj.c), 6) AS r
  FROM c1 a
  JOIN c1 ai ON ai.i = a.i AND ai.j = a.i
  JOIN c1 aj ON aj.i = a.j AND aj.j = a.j
  WHERE a.i < a.j)
ORDER BY abs(r) DESC, dim_i, dim_j LIMIT 20"""


@register("ml_top_correlations", _CORR_SQL)
def ml_top_correlations(spark, sf_dir):
    """Embedding-dimension correlation profile
    (llm/pca.top_correlations): top-20 pairs by |Pearson r| from the
    one-pass ROUND(9) covariance — the profiling face of the Gram
    front (co-varying dimensions are pruning/PCA-reduction
    candidates). Tie order at the cut is (|r| DESC, dim_i, dim_j) on
    ROUND(6) values, deterministic in both engines, so the selected
    SET hash-matches."""
    from stockify_spark.llm.pca import top_correlations

    return top_correlations(_t(spark, sf_dir, "embeddings"), top=20)


# ---------------------------------------------------------------------------
# Gram-fold checkpoint for incremental PCA
# (the r11 verdict's unbounded-rebuild item) and the keep-one exact
# substring dedup face.
#
# Same evidence discipline as the rest of the registry: every query
# has a DuckDB closed-form oracle, builds assert their own invariants,
# scale shapes stated per docstring. North-star surface (SURVEY §7.6)
# — the reference engine (stockify.cu:196-743) has no linear algebra
# or dedup at all.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ml_pca_gram_compact — fold checkpoint for the incremental-PCA
# stats table (llm/pca.compact_gram): the partial-row history
# collapses to ONE summed row, bounding pca_from_gram's rebuild at
# O(d²) regardless of how many micro-batches ever appended.
# ---------------------------------------------------------------------------
_PCA_COMPACT_SQL = (
    "SELECT q.*, CAST(2 AS BIGINT) AS stats_rows FROM (\n"
    + _pca_topk_oracle(1, 8)
    + "\n) q"
)


@register("ml_pca_gram_compact", _PCA_COMPACT_SQL)
def ml_pca_gram_compact(spark, sf_dir):
    """Incremental PCA with a FOLD CHECKPOINT in the middle of the
    ingest history (llm/pca.compact_gram): batches 0-1 land, the
    stats table is COW-compacted to one summed row, both pre-fold
    batches are REPLAYED (must stay no-ops — the txn markers live in
    the log, which the rewrite leaves intact), then batch 2 lands
    and is replayed too. The model rebuilt from the folded table
    must hash-match the one-shot oracle (Gram associativity across
    the fold), and ``stats_rows`` pins the bound: 2 rows (the folded
    row + batch 2), never the 3-row batch history — on a long-lived
    stream this is the difference between O(d²) and O(batches·d²)
    rebuilds. Scale shape: the fold itself is a posexplode+groupBy
    collecting 1+d+d² scalars, model-sized regardless of history."""
    import os

    from stockify_spark.llm.pca import compact_gram, gram_update, pca_from_gram
    from stockify_spark.sources import txlog

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        table = os.path.join(path, "gram")
        hi = emb.agg(F.max("vec_id")).collect()[0][0]
        cut1, cut2 = hi // 3, 2 * hi // 3
        parts = [
            emb.filter(F.col("vec_id") <= cut1),
            emb.filter((F.col("vec_id") > cut1) & (F.col("vec_id") <= cut2)),
            emb.filter(F.col("vec_id") > cut2),
        ]
        for v, batch in enumerate(parts[:2]):
            gram_update(batch, table, app_id="pca-cg", batch_version=v)
        assert txlog.snapshot(spark, table).count() == 2
        compact_gram(spark, table)
        assert txlog.snapshot(spark, table).count() == 1
        assert len(txlog.live_files(table)) == 1
        # at-least-once replays ACROSS the fold boundary: no-ops
        v_now = txlog.current_version(table)
        gram_update(parts[0], table, app_id="pca-cg", batch_version=0)
        gram_update(parts[1], table, app_id="pca-cg", batch_version=1)
        assert txlog.current_version(table) == v_now
        gram_update(parts[2], table, app_id="pca-cg", batch_version=2)
        gram_update(parts[2], table, app_id="pca-cg", batch_version=2)
        assert txlog.snapshot(spark, table).count() == 2

    root = _scratch_table(sf_dir, "pcacompact", build, src_file="embeddings.parquet")
    table = os.path.join(root, "gram")
    n_stats = txlog.snapshot(spark, table).count()
    return pca_from_gram(spark, table, k=1, iters=8).withColumn(
        "stats_rows", F.lit(int(n_stats)).cast("long")
    )


# ---------------------------------------------------------------------------
# The model-training/-evaluation loop.
#
# Four queries: two rounds of gradient boosting with regression stumps
# (the histogram-trick candidate machinery of ml_decision_stump, now
# CHAINED through residuals — the actual GBM inner loop), the Chan
# parallel-moments merge identity (the algebra that makes map-side
# combine of variance CORRECT, stated as a query so the contract is
# oracle-checked rather than assumed), a calibration-reliability table
# with expected calibration error (the model-eval primitive next to
# ml_confusion_metrics), and discounted customer value (NPV) as the
# per-row-exact financial fold.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ml_gbt_two_stumps — two boosting rounds, squared loss
# ---------------------------------------------------------------------------

# Stage 1 splits on l_quantity, stage 2 fits stage-1 residuals on
# l_discount. Candidates are the 9 decile fences over DISTINCT values
# (the ml_decision_stump rule); gains are ROUNDED relative SSE
# reductions so both engines argmax identical quantized values.
def _stump_cte(src: str, x: str, y: str, tag: str) -> str:
    """CTE block scoring decile-fence candidates of ``x`` against
    ``y`` in relation ``src``; emits best{tag} (thr, ml, mr) and
    s{tag} (the post-split SSE)."""
    return f"""
g{tag} AS (SELECT {x} AS x, CAST(COUNT(*) AS DOUBLE) AS n, SUM({y}) AS s
           FROM {src} GROUP BY {x}),
c{tag} AS (SELECT x, SUM(n) OVER (ORDER BY x) AS cn, SUM(s) OVER (ORDER BY x) AS cs,
                  ROW_NUMBER() OVER (ORDER BY x) AS rx,
                  COUNT(*) OVER () AS ndist
           FROM g{tag}),
t{tag} AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn, SUM({y}) AS ss,
                  SUM({y} * {y}) AS sq
           FROM {src}),
cand{tag} AS (
  SELECT c.x AS thr, c.cn AS nl, c.cs AS sl, t.nn, t.ss, t.sq,
         t.sq - (c.cs * c.cs / c.cn)
              - ((t.ss - c.cs) * (t.ss - c.cs) / (t.nn - c.cn)) AS sse
  FROM c{tag} c CROSS JOIN t{tag} t
  WHERE c.rx < c.ndist
    AND (c.rx * 10) // c.ndist > ((c.rx - 1) * 10) // c.ndist),
best{tag} AS (
  SELECT thr, sl / nl AS ml, (ss - sl) / (nn - nl) AS mr, sse
  FROM (SELECT *,
          ROW_NUMBER() OVER (
            ORDER BY ROUND(1 - sse / (sq - ss * ss / nn), 6) DESC, thr) AS rnk
        FROM cand{tag})
  WHERE rnk = 1)"""


_GBT_SQL = (
    """
WITH d AS (SELECT l_quantity AS x1, l_discount AS x2,
                  l_extendedprice AS y
           FROM lineitem),"""
    + _stump_cte("d", "x1", "y", "1")
    + """,
r AS (SELECT d.x2,
             d.y - (CASE WHEN d.x1 <= b.thr THEN b.ml ELSE b.mr END) AS y
      FROM d CROSS JOIN best1 b),"""
    + _stump_cte("r", "x2", "y", "2")
    + """
SELECT b1.thr AS thr1, ROUND(b1.ml, 6) AS mean_l1, ROUND(b1.mr, 6) AS mean_r1,
       b2.thr AS thr2, ROUND(b2.ml, 6) AS mean_l2, ROUND(b2.mr, 6) AS mean_r2,
       ROUND(b1.sse / (t1.sq - t1.ss * t1.ss / t1.nn), 6) AS sse_ratio_1,
       ROUND(b2.sse / b1.sse, 6) AS sse_ratio_2
FROM best1 b1 CROSS JOIN best2 b2 CROSS JOIN t1
"""
)


@register("ml_gbt_two_stumps", _GBT_SQL)
def ml_gbt_two_stumps(spark, sf_dir):
    """Two rounds of gradient boosting with regression stumps under
    squared loss: round 1 splits l_quantity against l_extendedprice
    (SSE via the prefix-sum histogram trick — one cumulative pass
    over distinct values, every decile-fence candidate a lookup, the
    XGBoost/LightGBM shape); round 2 fits round 1's RESIDUALS on
    l_discount with the same machinery. The output is the fitted
    pair plus the SSE ratio each round leaves (both < 1: every
    boosting round provably reduces training loss — pinned in
    tests/test_ext96.py). Argmaxes are decided on 6dp-ROUNDED
    relative gains with threshold tie-break, the registry's
    quantized-winner rule.

    Shape: each round is one groupBy over distinct feature values
    (feature-cardinality-bounded), one window prefix pass over that
    tiny table, one scalar argmax broadcast back — the fact table is
    scanned once per round plus once for its moment totals; nothing
    is per-candidate. Residuals are a map-side CASE against the
    broadcast best-split row, never a materialized column store."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )

    def stump(d, xcol):
        # the grouped table carries Σy² too, so the moment TOTALS are
        # a rollup of the (feature-cardinality-sized) partials — the
        # fact table is scanned ONCE per stump, not twice (plan-audit
        # catch; cross-engine sum-order drift is absorbed by the
        # 6dp-rounded gain the argmax runs on)
        g = d.groupBy(F.col(xcol).alias("x")).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("q"),
        )
        wo = Window.orderBy("x")
        c = g.select(
            "x",
            F.sum("n").over(wo).alias("cn"),
            F.sum("s").over(wo).alias("cs"),
            F.row_number().over(wo).alias("rx"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("ndist"),
        )
        t = g.agg(
            F.sum("n").alias("nn"),
            F.sum("s").alias("ss"),
            F.sum("q").alias("sq"),
        )
        cand = (
            c.crossJoin(F.broadcast(t))
            .filter(
                (F.col("rx") < F.col("ndist"))
                & (
                    F.expr("(rx * 10) div ndist")
                    > F.expr("((rx - 1) * 10) div ndist")
                )
            )
            .select(
                F.col("x").alias("thr"),
                F.col("cn").alias("nl"),
                F.col("cs").alias("sl"),
                "nn",
                "ss",
                "sq",
                (
                    F.col("sq")
                    - (F.col("cs") * F.col("cs") / F.col("cn"))
                    - (
                        (F.col("ss") - F.col("cs"))
                        * (F.col("ss") - F.col("cs"))
                        / (F.col("nn") - F.col("cn"))
                    )
                ).alias("sse"),
            )
        )
        gain = F.round(
            1 - F.col("sse") / (F.col("sq") - F.col("ss") * F.col("ss") / F.col("nn")),
            6,
        )
        best = (
            cand.withColumn(
                "rnk",
                F.row_number().over(Window.orderBy(gain.desc(), "thr")),
            )
            .filter(F.col("rnk") == 1)
            .select(
                "thr",
                (F.col("sl") / F.col("nl")).alias("ml"),
                ((F.col("ss") - F.col("sl")) / (F.col("nn") - F.col("nl"))).alias(
                    "mr"
                ),
                "sse",
            )
        )
        return best, t

    # DuckDB's integer // floors; Spark's long-cast division above
    # must match only in the CANDIDATE SELECTION predicate, where both
    # sides compare integer-valued quantities — the fence rule.
    best1, t1 = stump(li, "x1")
    resid = li.crossJoin(F.broadcast(best1.withColumnRenamed("sse", "sse1"))).select(
        "x2",
        (
            F.col("y")
            - F.when(F.col("x1") <= F.col("thr"), F.col("ml")).otherwise(F.col("mr"))
        ).alias("y"),
    )
    best2, _t2 = stump(resid, "x2")
    b1 = best1.select(
        F.col("thr").alias("thr1"),
        F.round("ml", 6).alias("mean_l1"),
        F.round("mr", 6).alias("mean_r1"),
        F.col("sse").alias("sse1"),
    )
    b2 = best2.select(
        F.col("thr").alias("thr2"),
        F.round("ml", 6).alias("mean_l2"),
        F.round("mr", 6).alias("mean_r2"),
        F.col("sse").alias("sse2"),
    )
    tot = t1.select(
        (F.col("sq") - F.col("ss") * F.col("ss") / F.col("nn")).alias("sse0")
    )
    return (
        b1.crossJoin(b2)
        .crossJoin(F.broadcast(tot))
        .select(
            "thr1",
            "mean_l1",
            "mean_r1",
            "thr2",
            "mean_l2",
            "mean_r2",
            F.round(F.col("sse1") / F.col("sse0"), 6).alias("sse_ratio_1"),
            F.round(F.col("sse2") / F.col("sse1"), 6).alias("sse_ratio_2"),
        )
    )


# ---------------------------------------------------------------------------
# ml_calibration_ece — reliability table + expected calibration error
# ---------------------------------------------------------------------------
_ECE_SQL = """
WITH m AS (SELECT AVG(o_totalprice) AS mu, STDDEV_POP(o_totalprice) AS sd
           FROM orders),
p AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
             1 / (1 + exp(-ROUND((o_totalprice - mu) / sd, 6))) AS prob
      FROM orders CROSS JOIN m),
b AS (SELECT least(9, CAST(floor(prob * 10) AS INTEGER)) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(prob) AS conf, AVG(y) AS acc
      FROM p GROUP BY 1),
e AS (SELECT SUM(n * abs(acc - conf)) / SUM(n) AS ece FROM b)
SELECT bucket, n, ROUND(conf, 6) AS conf, ROUND(acc, 6) AS acc,
       ROUND(abs(acc - conf), 6) AS gap,
       ROUND((SELECT ece FROM e), 6) AS ece
FROM b
"""


@register("ml_calibration_ece", _ECE_SQL)
def ml_calibration_ece(spark, sf_dir):
    """Reliability table + expected calibration error for a logistic
    score (σ of the z-scored total price) against the F-status label
    — the calibration half of model evaluation that
    ml_confusion_metrics' threshold half doesn't cover. ECE is the
    n-weighted mean |accuracy − confidence| over 10 equal-width
    probability buckets (Naeini et al. 2015). The z-score is rounded
    at 6dp BEFORE the sigmoid so both engines bucket identical
    probabilities — the bucket edge is a floor, where an ulp of
    drift would otherwise flip a row's bucket.

    Shape: one moment aggregate (broadcast), one map-side score +
    bucket pass, one 10-row aggregate; ECE is a rollup of the bucket
    table."""
    o = _t(spark, sf_dir, "orders")
    m = o.agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_pop("o_totalprice").alias("sd"),
    )
    p = o.crossJoin(F.broadcast(m)).select(
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
        (
            1
            / (
                1
                + F.exp(
                    -F.round((F.col("o_totalprice") - F.col("mu")) / F.col("sd"), 6)
                )
            )
        ).alias("prob"),
    )
    b = p.groupBy(
        F.least(F.lit(9), F.floor(F.col("prob") * 10).cast("int")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("prob").alias("conf"),
        F.avg("y").alias("acc"),
    )
    e = b.agg(
        (F.sum(F.col("n") * F.abs(F.col("acc") - F.col("conf"))) / F.sum("n")).alias(
            "ece"
        )
    )
    return b.crossJoin(F.broadcast(e)).select(
        "bucket",
        "n",
        F.round("conf", 6).alias("conf"),
        F.round("acc", 6).alias("acc"),
        F.round(F.abs(F.col("acc") - F.col("conf")), 6).alias("gap"),
        F.round("ece", 6).alias("ece"),
    )


# ---------------------------------------------------------------------------
# ml_lda_fisher — two-class Fisher discriminant, closed form
# ---------------------------------------------------------------------------
_LDA_SQL = """
WITH raw AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         o_totalprice AS r1,
         epoch_ms(o_orderdate) / 86400000.0 AS r2
  FROM orders),
std AS (SELECT AVG(r1) AS mu1, STDDEV_POP(r1) AS sd1,
               AVG(r2) AS mu2, STDDEV_POP(r2) AS sd2
        FROM raw),
f AS (SELECT y, ROUND((r1 - mu1) / sd1, 6) AS x1,
             ROUND((r2 - mu2) / sd2, 6) AS x2
      FROM raw CROSS JOIN std),
cls AS (SELECT y, CAST(COUNT(*) AS DOUBLE) AS n,
               AVG(x1) AS m1, AVG(x2) AS m2,
               VAR_POP(x1) * COUNT(*) AS s11,
               COVAR_POP(x1, x2) * COUNT(*) AS s12,
               VAR_POP(x2) * COUNT(*) AS s22
        FROM f GROUP BY y),
pool AS (
  SELECT MAX(CASE WHEN y = 1 THEN m1 END) - MAX(CASE WHEN y = 0 THEN m1 END) AS d1,
         MAX(CASE WHEN y = 1 THEN m2 END) - MAX(CASE WHEN y = 0 THEN m2 END) AS d2,
         (MAX(CASE WHEN y = 1 THEN m1 END) + MAX(CASE WHEN y = 0 THEN m1 END)) / 2 AS c1,
         (MAX(CASE WHEN y = 1 THEN m2 END) + MAX(CASE WHEN y = 0 THEN m2 END)) / 2 AS c2,
         SUM(s11) / (SUM(n) - 2) AS p11,
         SUM(s12) / (SUM(n) - 2) AS p12,
         SUM(s22) / (SUM(n) - 2) AS p22
  FROM cls),
wv AS (
  SELECT ROUND((p22 * d1 - p12 * d2) / (p11 * p22 - p12 * p12), 6) + 0 AS w1,
         ROUND((p11 * d2 - p12 * d1) / (p11 * p22 - p12 * p12), 6) + 0 AS w2,
         c1, c2
  FROM pool),
thr AS (SELECT w1, w2, ROUND(w1 * c1 + w2 * c2, 6) + 0 AS t FROM wv)
SELECT w1, w2, t,
       ROUND(AVG(CASE WHEN (CASE WHEN w1 * x1 + w2 * x2 > t THEN 1 ELSE 0 END) = y
                      THEN 1.0 ELSE 0.0 END), 6) AS train_acc
FROM f CROSS JOIN thr
GROUP BY w1, w2, t
"""


@register("ml_lda_fisher", _LDA_SQL)
def ml_lda_fisher(spark, sf_dir):
    """Two-class Fisher linear discriminant on (total price, order
    date): w = S_pooled⁻¹ (μ₁ − μ₀) with the 2×2 pooled within-class
    covariance inverted in closed form, threshold at the midpoint
    projection, and TRAINING accuracy of sign(wᵀx − t). The weights
    and threshold are ROUNDED at 6dp BEFORE classification, so both
    engines classify with bit-identical parameters and the per-row
    comparison — and therefore the accuracy — is exact (the
    ml_calibration_ece quantize-then-derive rule).

    Shape: one grouped moment aggregate (2 rows), scalar closed-form
    solve, one map-side classification pass with the solved weights
    broadcast — two scans total, nothing iterative (the contrast
    with ml_logreg_newton's damped iterations is the point: LDA is
    the closed-form member of the family)."""
    # features are STANDARDIZED (and the z-scores 6dp-quantized, the
    # ml_calibration_ece rule) before the solve: on raw scales the
    # price weight is O(1e-7) and the 6dp weight rounding would
    # quantize the feature away; on z-scores the weights are O(1)
    raw = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.col("o_totalprice").alias("r1"),
        (F.unix_millis("o_orderdate") / 86400000.0).alias("r2"),
    )
    std = raw.agg(
        F.avg("r1").alias("mu1"),
        F.stddev_pop("r1").alias("sd1"),
        F.avg("r2").alias("mu2"),
        F.stddev_pop("r2").alias("sd2"),
    )
    f = raw.crossJoin(F.broadcast(std)).select(
        "y",
        F.round((F.col("r1") - F.col("mu1")) / F.col("sd1"), 6).alias("x1"),
        F.round((F.col("r2") - F.col("mu2")) / F.col("sd2"), 6).alias("x2"),
    )
    cls = f.groupBy("y").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        (F.var_pop("x1") * F.count(F.lit(1))).alias("s11"),
        (F.covar_pop("x1", "x2") * F.count(F.lit(1))).alias("s12"),
        (F.var_pop("x2") * F.count(F.lit(1))).alias("s22"),
    )
    one = lambda c: F.max(F.when(F.col("y") == 1, F.col(c)))  # noqa: E731
    zero = lambda c: F.max(F.when(F.col("y") == 0, F.col(c)))  # noqa: E731
    pool = cls.agg(
        (one("m1") - zero("m1")).alias("d1"),
        (one("m2") - zero("m2")).alias("d2"),
        ((one("m1") + zero("m1")) / 2).alias("c1"),
        ((one("m2") + zero("m2")) / 2).alias("c2"),
        (F.sum("s11") / (F.sum("n") - 2)).alias("p11"),
        (F.sum("s12") / (F.sum("n") - 2)).alias("p12"),
        (F.sum("s22") / (F.sum("n") - 2)).alias("p22"),
    )
    det = F.col("p11") * F.col("p22") - F.col("p12") * F.col("p12")
    # "+ 0" collapses IEEE negative zero on the rounded weights too:
    # a coefficient that rounds to zero carries an engine-dependent
    # sign bit (Spark +0.0, DuckDB -0.0 here) the value hash sees
    wv = pool.select(
        (F.round((F.col("p22") * F.col("d1") - F.col("p12") * F.col("d2")) / det, 6) + 0).alias("w1"),
        (F.round((F.col("p11") * F.col("d2") - F.col("p12") * F.col("d1")) / det, 6) + 0).alias("w2"),
        "c1",
        "c2",
    )
    # "+ 0" collapses IEEE negative zero: the midpoint projection can
    # round to ±0.0 and the two engines disagree on the SIGN of that
    # zero, which the value hash sees as a diff
    thr = wv.select(
        "w1",
        "w2",
        (F.round(F.col("w1") * F.col("c1") + F.col("w2") * F.col("c2"), 6) + 0).alias(
            "t"
        ),
    )
    pred = F.when(
        F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2") > F.col("t"), 1
    ).otherwise(0)
    return (
        f.crossJoin(F.broadcast(thr))
        .groupBy("w1", "w2", "t")
        .agg(
            F.round(
                F.avg(F.when(pred == F.col("y"), 1.0).otherwise(0.0)), 6
            ).alias("train_acc")
        )
        .select("w1", "w2", "t", "train_acc")
    )


# ---------------------------------------------------------------------------
# ml_nearest_centroid — Rocchio classification over the embeddings
# ---------------------------------------------------------------------------
_NC_SQL = """
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
comp AS (
  SELECT label, i, AVG(embedding[i] :: DOUBLE) AS c
  FROM embeddings CROSS JOIN dims
  GROUP BY label, i),
cent AS (SELECT label AS clabel, list(c ORDER BY i) AS cv FROM comp GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label AS truth, c.clabel,
         list_dot_product(e.embedding :: DOUBLE[], c.cv)
           / sqrt(list_dot_product(c.cv, c.cv)) AS score
  FROM embeddings e CROSS JOIN cent c),
best AS (
  SELECT vec_id, truth, clabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ROUND(score, 6) DESC, clabel) AS rnk
  FROM scored)
SELECT truth AS label, clabel AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n
FROM best WHERE rnk = 1
GROUP BY truth, clabel
"""


@register("ml_nearest_centroid", _NC_SQL)
def ml_nearest_centroid(spark, sf_dir):
    """Nearest-centroid (Rocchio) classification of the labelled
    embeddings: per-label mean vector, every vector assigned to the
    centroid maximizing the norm-adjusted inner product x·c/|c|
    (equivalent to nearest centroid in Euclidean distance up to the
    |x|² term, which is constant per row), reported as the confusion
    matrix. Ranking is on the 6dp-ROUNDED score with label
    tie-break (quantized-winner rule); centroid components are plain
    AVG aggregates so both engines build them from identical member
    sets.

    Shape: centroids are one per-(label, dim) aggregate —
    labels × 64 doubles, broadcast; classification is a map-side
    pass over the corpus crossed with the tiny centroid table; the
    confusion matrix is a labels²-bounded aggregate. The 100 TB form
    is identical: centroids are kilobytes no matter the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label", F.posexplode("embedding").alias("i0", "v")
        )
        .groupBy("label", "i0")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    cent = (
        comp.groupBy(F.col("label").alias("clabel"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i0"), F.col("c")))
            ).alias("pairs")
        )
        .select(
            "clabel",
            F.transform(F.col("pairs"), lambda p: p["c"]).alias("cv"),
        )
    )
    from stockify_spark.llm.similarity import dot

    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.col("label").alias("truth"),
        "clabel",
        (dot("embedding", "cv") / F.sqrt(dot("cv", "cv"))).alias("score"),
    )
    best = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(
                F.round("score", 6).desc(), "clabel"
            )
        ),
    ).filter(F.col("rnk") == 1)
    return best.groupBy(
        F.col("truth").alias("label"), F.col("clabel").alias("predicted")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
