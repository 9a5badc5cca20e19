"""Vector similarity and retrieval: cosine and MIPS top-k, ANN recall,
ranking fusion and embedding health.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from stockify_spark.registry import register, _t


@register(
    "sim_cosine_topk",
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),"
    " c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings)"
    " SELECT query_id, neighbor_id, rank FROM ("
    " SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id"
    " ORDER BY list_cosine_similarity(qe, ne) DESC, neighbor_id) AS rank"
    " FROM q, c WHERE query_id <> neighbor_id) WHERE rank <= 5",
)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k, Arrow-batched scoring: the bounded
    query set broadcasts in the closure, every corpus batch emits its
    partial top-k, one tiny final window. Scores use the dimension-
    sequential accumulation, so they stay bit-identical to the
    oracle's ``list_cosine_similarity`` loop (the declarative
    ``cosine_topk`` HOF form remains the library baseline)."""
    from stockify_spark.llm.similarity import cosine_topk_batched

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_batched(emb, emb.filter(F.col("vec_id") < 5), k=5)


@register(
    "sim_embedding_dup",
    # Bucketed IVF near-dup: data-seeded centroids (vec_id < 16),
    # multi-probe top-3 cells, exact verify within shared cells. The
    # oracle reproduces the full candidate-generation spec, so the
    # comparison is a hash-exact check of the bucketed semantics —
    # not of an unscalable corpus-level all-pairs.
    "WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),"
    " s AS (SELECT vec_id, embedding, cid,"
    " ROW_NUMBER() OVER (PARTITION BY vec_id"
    " ORDER BY list_cosine_similarity(embedding, cvec) DESC, cid) AS rnk"
    " FROM embeddings CROSS JOIN c)"
    " SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b"
    " FROM (SELECT vec_id, embedding, cid FROM s WHERE rnk <= 3) a"
    " JOIN (SELECT vec_id, embedding, cid FROM s WHERE rnk <= 3) b"
    " ON a.cid = b.cid AND a.vec_id < b.vec_id"
    " WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4",
)
def sim_embedding_dup(spark, sf_dir):
    """Corpus-level near-dup detection, bucketed (the 100 TB path):
    candidates from shared IVF cells, exact matmul verify per cell.
    The exact all-pairs form (embedding_dup_pairs/_blocked) remains
    the bounded-set verification baseline in tests."""
    from stockify_spark.llm.similarity import embedding_dup_pairs_bucketed

    return embedding_dup_pairs_bucketed(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_centroids=16, n_probe=3
    )


@register(
    "sim_quantized_topk",
    # int8 symmetric quantization with half-up rounding is exactly
    # reproducible in SQL, and integer dot products are exact in
    # double (64 products <= 127^2 sum far below 2^53), so the
    # quantized ranking hash-matches across engines bit-for-bit.
    "WITH q8 AS (SELECT vec_id,"
    " [CAST(FLOOR(x * 127.0 / GREATEST(list_max(list_transform(embedding,"
    " y -> abs(y))), 1e-30) + 0.5) AS BIGINT) FOR x IN embedding] AS q"
    " FROM embeddings),"
    " qq AS (SELECT vec_id AS query_id, q AS qa FROM q8 WHERE vec_id < 5),"
    " cc AS (SELECT vec_id AS neighbor_id, q AS qb FROM q8)"
    " SELECT query_id, neighbor_id, rank FROM ("
    " SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id"
    " ORDER BY list_dot_product(qa, qb)"
    " / SQRT(list_dot_product(qa, qa) * list_dot_product(qb, qb)) DESC,"
    " neighbor_id) AS rank"
    " FROM qq, cc WHERE query_id <> neighbor_id) WHERE rank <= 5",
)
def sim_quantized_topk(spark, sf_dir):
    """int8-quantized brute-force ANN: 4x less scan traffic and
    integer inner products — the cheap first-pass ranker at corpus
    scale (float re-scoring of the short list follows). Quantized
    ranking recall vs float cosine is pinned in tests. Scoring is
    the Arrow-batched map-side-top-k form (exact integer math, so
    still hash-identical to the expression variant and the oracle)."""
    from stockify_spark.llm.similarity import quantized_topk_batched

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk_batched(emb, emb.filter(F.col("vec_id") < 5), k=5)


# ---------------------------------------------------------------------------
# ANN scale path + multimodal plumbing (rows-only driver checks;
# recall/shape proven in tests/test_similarity.py, test_multimodal.py).
# ---------------------------------------------------------------------------
@register(
    "sim_ivf_topk",
    # Deterministic sampled-seed IVF (the sim_embedding_dup recipe):
    # centroids are the first 16 vectors by id, corpus rows land in
    # their single best cell, queries probe their 4 best cells, and
    # candidates are exactly rescored — the WHOLE approximate spec is
    # ANSI SQL, so the oracle hash-checks the bucketed ANN semantics
    # themselves, not just row counts. (The fitted-k-means ivf_topk
    # stays the library path; its recall is pinned in tests.)
    "WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),"
    " s AS (SELECT vec_id, embedding, cid,"
    " ROW_NUMBER() OVER (PARTITION BY vec_id"
    " ORDER BY list_cosine_similarity(embedding, cvec) DESC, cid) AS rnk"
    " FROM embeddings CROSS JOIN c),"
    " corpus AS (SELECT vec_id AS neighbor_id, embedding AS ne, cid FROM s WHERE rnk = 1),"
    " q AS (SELECT vec_id AS query_id, embedding AS qe, cid FROM s"
    " WHERE vec_id < 5 AND rnk <= 4)"
    " SELECT query_id, neighbor_id, rank FROM ("
    " SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id"
    " ORDER BY list_cosine_similarity(qe, ne) DESC, neighbor_id) AS rank"
    " FROM q JOIN corpus USING (cid) WHERE query_id <> neighbor_id) WHERE rank <= 5",
)
def sim_ivf_topk(spark, sf_dir):
    """IVF ANN, deterministic data-seeded spec: probe 4 of 16 cells
    per query instead of the full corpus — candidate generation is an
    ids-only cell equi-join, rescoring is Arrow-batched numpy with
    the oracle's exact float association (llm/similarity.py
    seeded_ivf_topk). No per-query model fit: the centroid 'model' is
    16 corpus rows, collected once."""
    from stockify_spark.llm.similarity import seeded_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return seeded_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_centroids=16, n_probe=4
    )


@register(
    "sim_lsh_topk",
    # Deterministic data-seeded hyperplane LSH (the seeded-IVF
    # recipe): planes are the first 48 vectors by id, buckets are the
    # packed sign bits of the dot products (8 planes x 6 tables),
    # candidates share ANY (table, bucket) with the query and are
    # exactly rescored — the whole approximate spec is ANSI SQL, so
    # the oracle hash-checks the LSH semantics themselves. (The
    # random-plane lsh_topk stays the library path; planted-dup
    # recall pinned in tests.)
    "WITH p AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings WHERE vec_id < 48),"
    " bits AS (SELECT e.vec_id, pid // 8 AS tbl, pid % 8 AS plane,"
    " CASE WHEN list_dot_product(e.embedding, pvec) > 0 THEN 1 ELSE 0 END AS bit"
    " FROM embeddings e CROSS JOIN p),"
    " bkt AS (SELECT vec_id, tbl, CAST(SUM(bit * (1 << CAST(plane AS INTEGER))) AS BIGINT)"
    " AS bucket FROM bits GROUP BY vec_id, tbl),"
    " qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bkt WHERE vec_id < 5),"
    " cand AS (SELECT DISTINCT query_id, bkt.vec_id AS neighbor_id"
    " FROM qb JOIN bkt USING (tbl, bucket) WHERE bkt.vec_id <> query_id),"
    " qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),"
    " cv AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings)"
    " SELECT query_id, neighbor_id, rank FROM ("
    " SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id"
    " ORDER BY list_cosine_similarity(qe, ne) DESC, neighbor_id) AS rank"
    " FROM cand JOIN qv USING (query_id) JOIN cv USING (neighbor_id)) WHERE rank <= 5",
)
def sim_lsh_topk(spark, sf_dir):
    """Hyperplane LSH ANN, deterministic data-seeded spec: bucket
    keys are sign bits against the first 48 corpus vectors, so the
    candidate rule is SQL-nameable and oracle-checked hash-exact.
    One map-side pass (llm/similarity.seeded_lsh_topk); the
    random-plane lsh_topk remains the library operator."""
    from stockify_spark.llm.similarity import seeded_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return seeded_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_planes=8, n_tables=6
    )


# ---------------------------------------------------------------------------
# Product quantization ANN (llm/similarity.pq_topk) — the FAISS-style
# PQ compression made cross-engine deterministic: int8 half-up
# quantization, data-seeded codebooks (subvectors of the first 16
# corpus vectors), integer-L2 encode with ties to the lowest index,
# and exact-integer asymmetric-distance scoring, so the comparison is
# hash-exact.
# ---------------------------------------------------------------------------
@register(
    "sim_pq_topk",
    "WITH q8 AS ("
    " SELECT vec_id, list_transform(embedding,"
    "  x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 /"
    "   greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30)"
    "   + 0.5) AS BIGINT)) AS q"
    " FROM embeddings),"
    "subs AS ("
    " SELECT vec_id, m, q[m*16+1 : m*16+16] AS sub"
    " FROM q8, (SELECT unnest(range(0, 4)) AS m)),"
    "cb AS ("
    " SELECT m, vec_id AS j, sub AS csub FROM subs WHERE vec_id < 16),"
    "dists AS ("
    " SELECT s.vec_id, s.m, cb.j,"
    "  list_sum(list_transform(list_zip(s.sub, cb.csub),"
    "   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2"
    " FROM subs s JOIN cb ON cb.m = s.m),"
    "codes AS ("
    " SELECT vec_id, m, j FROM ("
    "  SELECT vec_id, m, j, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rk"
    "  FROM dists) WHERE rk = 1),"
    "adc AS ("
    " SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,"
    "  SUM(list_sum(list_transform(list_zip(qs.sub, cb.csub), p -> p[1] * p[2]))) AS dot"
    " FROM subs qs"
    " JOIN codes c ON TRUE"
    " JOIN cb ON cb.m = qs.m AND cb.m = c.m AND cb.j = c.j"
    " WHERE qs.vec_id < 5 AND c.vec_id <> qs.vec_id"
    " GROUP BY 1, 2)"
    "SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM ("
    " SELECT query_id, neighbor_id,"
    "  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank"
    " FROM adc) WHERE rank <= 5",
)
def sim_pq_topk(spark, sf_dir):
    """Product-quantized ANN top-k (llm/similarity.pq_topk): 4
    subspaces x 16-entry seeded codebooks over int8 vectors, exact
    integer encode + asymmetric-distance scoring. Corpus encode and
    scoring are map-side JVM column expressions against the literal
    codebook; the only shuffle is the per-query top-k window. The
    fourth ANN variant beside brute-force, seeded-IVF, and
    hyperplane LSH — at scale the 4-byte codes are the cheap
    first-pass ranker, float re-scoring the short list."""
    from stockify_spark.llm.similarity import pq_topk

    return pq_topk(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# sim_maxsim — multi-vector late-interaction scoring (ColBERT-style)
# ---------------------------------------------------------------------------
_DOT_SQL = (
    "list_sum(list_transform(range(1, len(qe) + 1),"
    " i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
)

_NORM_Q = "sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

_NORM_C = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


_MAXSIM_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 5),
m AS (SELECT qid, label, MAX({_DOT_SQL} / ({_NORM_Q} * {_NORM_C})) AS mx
      FROM q CROSS JOIN c GROUP BY qid, label)
SELECT label, ROUND(SUM(mx), 6) AS maxsim
FROM m GROUP BY label
"""


@register("sim_maxsim", _MAXSIM_SQL)
def sim_maxsim(spark, sf_dir):
    """ColBERT-style late interaction: each label's vector set is a
    multi-vector 'document'; score = Σ over query vectors of the MAX
    cosine against the document's vectors. MAX is order-insensitive
    (no float-sum drift — the only accumulation is the per-pair dot,
    dimension-sequential in both engines); the outer Σ adds 5 terms
    under a 6dp round. Shape: the 5-vector query set broadcasts, the
    (qid, label) MAX is a partial-aggregating shuffle over corpus
    partitions — at 100 TB the corpus never moves, only k·labels
    partial maxima do."""
    from stockify_spark.llm.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    c = emb.filter(F.col("vec_id") >= 5).select("label", "embedding")
    m = (
        c.crossJoin(F.broadcast(q))
        .groupBy("qid", "label")
        .agg(F.max(cosine("qe", "embedding")).alias("mx"))
    )
    return m.groupBy("label").agg(F.round(F.sum("mx"), 6).alias("maxsim"))


_BM25_TERMS = ("data", "spark", "query")

_TOKS20 = "string_split_regex(trim(lower(text)), '\\s+')"


_BM25_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS20}) AS tok FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
                    / CAST(COUNT(*) AS DOUBLE) AS avgdl
           FROM documents),
terms AS (SELECT * FROM (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}) t(term)),
df AS (SELECT tok AS term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
       FROM tok WHERE tok IN {_BM25_TERMS!r} GROUP BY tok),
tf AS (SELECT doc_id, tok AS term, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM tok WHERE tok IN {_BM25_TERMS!r} GROUP BY doc_id, tok),
scored AS (
  SELECT tf.doc_id,
         SUM(ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl)))
           AS score
  FROM tf
  JOIN df ON df.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 6) AS bm25
FROM scored
ORDER BY ROUND(score, 6) DESC, doc_id
LIMIT 20
"""


@register("sim_bm25_search", _BM25_SQL)
def sim_bm25_search(spark, sf_dir):
    """BM25 ranking (k1=1.2, b=0.75, the Lucene-style non-negative
    idf ln((N-df+0.5)/(df+0.5)+1)) for a fixed 3-term query over the
    corpus: top-20 docs ordered by 6dp-rounded score then doc_id.
    The model side (df per term, N, avgdl) is two tiny aggregates
    that broadcast; scoring is a map-side join over only the rows
    whose token matches a query term — the inverted-index probe
    shape, no corpus-wide shuffle beyond the tf/dl groupBys."""
    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()
    avgdl_row = dl.agg(
        (F.sum("dl").cast("double") / F.lit(float(n_docs))).alias("avgdl")
    ).collect()[0]
    avgdl = float(avgdl_row.avgdl)
    hits = tok.filter(F.col("tok").isin(*_BM25_TERMS))
    df_t = hits.groupBy(F.col("tok").alias("term")).agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf = hits.groupBy("doc_id", F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    idf = F.log((float(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (1.2 + 1.0) / denom).alias("score"))
    )
    return (
        scored.orderBy(F.round("score", 6).desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# Exact MIPS via the cosine reduction.
#
# Maximum-inner-product search does not fit a metric index: inner
# product violates the triangle inequality and even self-similarity
# (a longer vector beats the query itself). The public reduction
# (Bachrach et al. 2014, "Speeding up the Xbox recommender"):
# augment every corpus vector with one extra coordinate
# sqrt(M^2 - ||x||^2) where M is the corpus max norm, and the query
# with 0. Then every augmented corpus vector has norm exactly M, so
# ||q' - x'||^2 = ||q||^2 + M^2 - 2<q,x> — L2 (and cosine) order in
# the augmented space IS inner-product order, and any cosine-ANN
# machinery (the sim_ivf/lsh/pq family) becomes a MIPS index with no
# further changes.
# ---------------------------------------------------------------------------
_MIPS_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
m AS (SELECT MAX(list_dot_product(emb, emb)) AS m2 FROM e),
q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
a AS (SELECT vec_id, emb,
             list_append(emb, sqrt(m.m2 - list_dot_product(emb, emb))) AS xa
      FROM e, m),
r AS (SELECT query_id, vec_id,
             ROUND(list_dot_product(qe, emb), 6) AS ip,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(list_append(qe, 0.0), xa)
                        DESC, vec_id) AS rank
      FROM q CROSS JOIN a WHERE query_id <> vec_id)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, ip
FROM r WHERE rank <= 5
"""

# the ::DOUBLE[] cast is load-bearing: DuckDB's list_dot_product on a
# FLOAT[] accumulates in float32, which perturbs m2 by ~2e-7 — and the
# augmented coordinate sqrt(m2 - ||x||^2) amplifies that to ~1e-4 for
# near-max-norm vectors, flipping augmented-cosine ranks across
# engines. On DOUBLE[] both engines fold dimension-sequentially in
# float64 and the match is bit-level.


@register("sim_mips_topk", _MIPS_SQL)
def sim_mips_topk(spark, sf_dir):
    """Top-5 by inner product for 5 query vectors, ranked THROUGH the
    augmentation: corpus max squared norm (one aggregate, a scalar
    broadcast), one extra coordinate per side, cosine ordering in
    the augmented space, reported with the exact inner product. The
    rank-preservation identity (augmented-cosine order == raw-IP
    order, because every augmented corpus norm equals M) is pinned
    against direct numpy IP ranking in tests/test_ext45.py; the
    oracle pins the cross-engine implementation of the reduction
    itself. Both faces accumulate dot products dimension-
    sequentially (llm.similarity.dot's fold == DuckDB's list loops,
    the sim_cosine_topk precedent), so the hash match is exact.

    Scale shape: the augmentation is a map-only rewrite plus one
    scalar broadcast; ranking is the brute-force cosine baseline
    (bounded query set — one pass over the corpus, map-side partial
    top-k). The point of the operator is the REDUCTION: swap the
    brute-force stage for sim_ivf/lsh/pq's bucketed candidate
    generation over the augmented vectors and MIPS inherits their
    100 TB layout unchanged."""
    from stockify_spark.llm.similarity import cosine, dot

    emb = _t(spark, sf_dir, "embeddings")
    m2 = emb.agg(
        F.max(dot("embedding", "embedding")).alias("m2")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
    )
    a = emb.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "embedding",
        F.concat(
            "embedding",
            F.array(F.sqrt(F.col("m2") - dot("embedding", "embedding"))),
        ).alias("xa"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(a)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot("qe", "embedding"), 6).alias("ip"),
            cosine(
                F.concat("qe", F.array(F.lit(0.0))), F.col("xa")
            ).alias("aug_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("aug_cos").desc(), "vec_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "ip")
    )


# ---------------------------------------------------------------------------
# sim_rrf_fusion — reciprocal rank fusion of a lexical (BM25) ranking
# and a semantic (cosine) ranking: the standard hybrid-retrieval
# combiner (Cormack, Clarke & Büttcher 2009), and the retrieval face
# a curation pipeline uses to pick deduplication / decontamination
# review candidates from two signals at once.
# ---------------------------------------------------------------------------
_RRF_TERMS = ("data", "spark", "query")  # the sim_bm25_search query

_RRF_K = 60       # the paper's constant

_RRF_DEPTH = 50   # per-ranker candidate depth

_TOKS90 = "string_split_regex(trim(lower(text)), '\\s+')"


_RRF_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS90}) AS tok FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                  (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
                    / CAST(COUNT(*) AS DOUBLE) AS avgdl
           FROM documents),
df AS (SELECT tok AS term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
       FROM tok WHERE tok IN {_RRF_TERMS!r} GROUP BY tok),
tf AS (SELECT doc_id, tok AS term, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM tok WHERE tok IN {_RRF_TERMS!r} GROUP BY doc_id, tok),
scored AS (
  SELECT tf.doc_id,
         SUM(ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl)))
           AS score
  FROM tf
  JOIN df ON df.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN corpus
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (
      ORDER BY ROUND(score, 6) DESC, doc_id) AS lex_rank
    FROM scored) WHERE lex_rank <= {_RRF_DEPTH}
),
sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT vec_id AS doc_id, ROW_NUMBER() OVER (
      ORDER BY list_cosine_similarity(
        embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)
      ) DESC, vec_id) AS sem_rank
    FROM embeddings WHERE vec_id <> 0) WHERE sem_rank <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         lex.lex_rank, sem.sem_rank,
         ROUND(COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + sem.sem_rank), 0.0), 9) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rrf, CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank
FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
"""


@register("sim_rrf_fusion", _RRF_SQL)
def sim_rrf_fusion(spark, sf_dir):
    """Reciprocal rank fusion: top-20 docs by
    Σ_r 1/(60 + rank_r(d)) over two independent rankers — BM25 for
    the fixed 3-term query (sim_bm25_search's model) and cosine
    against doc 0's embedding (sim_cosine_topk's bit-exact
    dimension-sequential scorer), each contributing its top-50.
    Ranks are INTEGERS (ties broken by score-ROUND(6) then id), so
    the fusion is exact cross-engine arithmetic on 1/(60+r) terms
    summed in a fixed order; absent ranks contribute 0 and surface
    as NULL columns.

    Scale shape: each ranker is its own bounded top-N (BM25 probes
    only term-matching rows; cosine is the map-side partial-top-k
    batcher), the fusion is one full-outer join of two 50-row
    tables — model-sized regardless of corpus size."""
    from stockify_spark.functions.text import tokens
    from stockify_spark.llm.similarity import cosine_topk_batched

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    # lexical leg: BM25 (same model as sim_bm25_search), top-50 ranks
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()
    avgdl = float(
        dl.agg(
            (F.sum("dl").cast("double") / F.lit(float(n_docs))).alias("a")
        ).collect()[0]["a"]
    )
    hits = tok.filter(F.col("tok").isin(*_RRF_TERMS))
    df_t = hits.groupBy(F.col("tok").alias("term")).agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf = hits.groupBy("doc_id", F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    idf = F.log((float(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (1.2 + 1.0) / denom).alias("score"))
    )
    from pyspark.sql import Window as _W

    lex = (
        scored.withColumn(
            "lex_rank",
            F.row_number().over(
                _W.orderBy(F.round("score", 6).desc(), "doc_id")
            ),
        )
        .filter(F.col("lex_rank") <= _RRF_DEPTH)
        .select("doc_id", "lex_rank")
    )

    # semantic leg: bit-exact cosine ranks against doc 0's embedding
    sem = (
        cosine_topk_batched(
            emb, emb.filter(F.col("vec_id") == 0), k=_RRF_DEPTH
        )
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("sem_rank"),
        )
    )

    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
        9,
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            rrf.alias("rrf"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# sim_ann_recall_eval — the ANN EVALUATION harness: recall@k of the
# deterministic seeded-IVF path against brute-force ground truth,
# per query. The number a pipeline engineer needs before trusting
# the approximate path at 100 TB — and because both the bucketed
# spec and the exact spec are deterministic, the recall itself is
# an exact cross-engine quantity, not a statistical estimate.
# ---------------------------------------------------------------------------
_RECALL_K = 5

_RECALL_Q = 20


_ANN_RECALL_SQL = f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
s AS (SELECT vec_id, embedding, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id
        ORDER BY list_cosine_similarity(embedding, cvec) DESC, cid) AS rnk
      FROM embeddings CROSS JOIN c),
corpus AS (SELECT vec_id AS neighbor_id, embedding AS ne, cid FROM s WHERE rnk = 1),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       WHERE vec_id < {_RECALL_Q}),
qc AS (SELECT s.vec_id AS query_id, s.cid FROM s
       WHERE s.vec_id < {_RECALL_Q} AND s.rnk <= 4),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, corpus.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qe, corpus.ne) DESC,
                      corpus.neighbor_id) AS rank
    FROM (SELECT qv.query_id, qv.qe, qc.cid FROM qv JOIN qc USING (query_id)) q
    JOIN corpus USING (cid)
    WHERE q.query_id <> corpus.neighbor_id)
  WHERE rank <= {_RECALL_K}
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qv.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qv.query_id
             ORDER BY list_cosine_similarity(qv.qe, e.embedding) DESC,
                      e.vec_id) AS rank
    FROM qv, embeddings e WHERE qv.query_id <> e.vec_id)
  WHERE rank <= {_RECALL_K}
)
SELECT b.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(i.neighbor_id) / {_RECALL_K}.0, 6) AS recall
FROM brute b
LEFT JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


@register("sim_ann_recall_eval", _ANN_RECALL_SQL)
def sim_ann_recall_eval(spark, sf_dir):
    """recall@5 of the seeded-IVF ANN (16 cells, probe 4) against the
    brute-force exact top-5, for the first 20 queries: per query,
    how many true neighbors the bucketed path found. Both rankings
    are bit-exact deterministic specs (dimension-sequential cosine,
    integer-rank tie-breaks), so the recall column is exact-hash
    comparable — the evaluation harness itself is differential, not
    just the operators under it.

    Scale shape: the brute leg is the partial-top-k batcher over a
    BOUNDED query set (model-sized broadcast, map-side heaps); the
    IVF leg is the cell equi-join; the comparison is one join of two
    Q·k-row tables. At 100 TB brute ground truth stays affordable
    exactly because Q is a sample — which is how recall is audited
    in production ANN systems."""
    from stockify_spark.llm.similarity import cosine_topk_batched, seeded_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _RECALL_Q)
    brute = cosine_topk_batched(emb, queries, k=_RECALL_K).select(
        "query_id", "neighbor_id"
    )
    ivf = seeded_ivf_topk(
        emb, queries, k=_RECALL_K, n_centroids=16, n_probe=4
    ).select("query_id", F.col("neighbor_id").alias("_ivf_n"))
    return (
        brute.join(
            ivf,
            (brute["query_id"] == ivf["query_id"])
            & (brute["neighbor_id"] == ivf["_ivf_n"]),
            "left",
        )
        .groupBy(brute["query_id"].alias("query_id"))
        .agg(
            F.count("_ivf_n").alias("n_hits"),
            F.round(F.count("_ivf_n") / float(_RECALL_K), 6).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# sim_matryoshka_topk — truncated-prefix first stage + exact rerank
# ---------------------------------------------------------------------------
_MRL_PREFIX = 8

_MRL_CAND = 32

_MRL_K = 5


_MRL_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id < 5),
s1 AS (SELECT query_id, qe, vec_id, embedding,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                list_cosine_similarity(qe[1:{_MRL_PREFIX}],
                  (embedding::DOUBLE[])[1:{_MRL_PREFIX}]) DESC, vec_id) AS crnk
       FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
s2 AS (SELECT query_id, vec_id,
              ROUND(list_cosine_similarity(qe, embedding::DOUBLE[]), 6)
                AS cos_full,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                list_cosine_similarity(qe, embedding::DOUBLE[]) DESC, vec_id)
                AS rnk
       FROM s1 WHERE crnk <= {_MRL_CAND})
SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cos_full
FROM s2 WHERE rnk <= {_MRL_K}
"""


@register("sim_matryoshka_topk", _MRL_SQL)
def sim_matryoshka_topk(spark, sf_dir):
    """Matryoshka two-stage retrieval (Kusupati et al. 2022): stage 1
    ranks the corpus by cosine over the FIRST 8 of 64 dimensions (an
    MRL-trained embedding front-loads information, so the prefix is
    a legitimate coarse scorer at 1/8 the FLOPs), keeps 32
    candidates per query, stage 2 reranks the shortlist by exact
    full-dimension cosine. Both stages are stated exactly in the
    oracle, so the hash pins the bucketed SEMANTICS (the
    sim_embedding_dup discipline — never an unscalable all-pairs
    claim). Both engines fold dot products dimension-sequentially in
    float64 (the sim_mips_topk ::DOUBLE[] rule), so ranks match
    bit-level.

    Scale shape: stage 1 is the brute-force pass every ANN baseline
    here shares (bounded query set broadcast, one corpus scan,
    map-side partial top-k) at prefix cost; stage 2 touches
    queries×32 rows. Swapping stage 1 for the IVF/LSH bucketed
    generators composes — the rerank stage is unchanged."""
    from stockify_spark.llm.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pre_cos = cosine(
        F.slice("qe", 1, _MRL_PREFIX), F.slice("embedding", 1, _MRL_PREFIX)
    )
    s1 = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(pre_cos.desc(), "vec_id")
            ),
        )
        .filter(F.col("crnk") <= _MRL_CAND)
    )
    full_cos = cosine("qe", "embedding")
    s2 = s1.select(
        "query_id",
        "vec_id",
        F.round(full_cos, 6).alias("cos_full"),
        F.row_number()
        .over(Window.partitionBy("query_id").orderBy(full_cos.desc(), "vec_id"))
        .cast("long")
        .alias("rank"),
    )
    return s2.filter(F.col("rank") <= _MRL_K).select(
        "query_id", "rank", "vec_id", "cos_full"
    )


# ---------------------------------------------------------------------------
# sim_embedding_health — norm/degeneracy audit per label
# ---------------------------------------------------------------------------
_HEALTH_SQL = """
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(embedding :: DOUBLE[], embedding :: DOUBLE[]))
           AS nrm,
         CAST(len(embedding) AS INT) AS dim
  FROM embeddings)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MAX(dim) AS INT) AS dim,
       ROUND(MIN(nrm), 6) AS norm_min,
       ROUND(AVG(nrm), 6) AS norm_mean,
       ROUND(MAX(nrm), 6) AS norm_max,
       ROUND(STDDEV_POP(nrm) / AVG(nrm), 6) AS norm_cv,
       CAST(SUM(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_degenerate
FROM n GROUP BY label
"""


@register("sim_embedding_health", _HEALTH_SQL)
def sim_embedding_health(spark, sf_dir):
    """Embedding health audit per label: L2-norm distribution
    (min/mean/max and the coefficient of variation — cosine
    retrieval silently becomes dot-product retrieval when norms
    spread, so norm_cv is the number an ANN pipeline alarms on) plus
    degenerate near-zero vectors (a broken encoder's signature; a
    zero vector makes cosine undefined and poisons centroids). Run
    BEFORE building any index over sim_*'s corpus — every downstream
    operator here assumes these invariants.

    Shape: one map-side norm fold (the dimension-sequential dot both
    engines share), one per-label aggregate; nothing
    corpus-squared."""
    from stockify_spark.llm.similarity import dot

    n = _t(spark, sf_dir, "embeddings").select(
        "label",
        F.sqrt(dot("embedding", "embedding")).alias("nrm"),
        F.size("embedding").cast("int").alias("dim"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.max("dim").cast("int").alias("dim"),
        F.round(F.min("nrm"), 6).alias("norm_min"),
        F.round(F.avg("nrm"), 6).alias("norm_mean"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
        F.round(F.stddev_pop("nrm") / F.avg("nrm"), 6).alias("norm_cv"),
        F.sum(F.when(F.col("nrm") < 1e-6, 1).otherwise(0)).cast("bigint").alias(
            "n_degenerate"
        ),
    )
