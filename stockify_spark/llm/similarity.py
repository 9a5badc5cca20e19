"""Similarity search over embedding columns (north-star extension;
no analog in the reference — SURVEY §2.6).

Two tiers, per the 100 TB design rule:
  * brute-force cosine top-k — the correctness baseline: broadcast
    the (small) query set against the full corpus; dot products are
    built-in ``zip_with``+``aggregate`` column expressions (JVM,
    codegen), top-k per query is a partitioned window. Linear in
    corpus size, embarrassingly parallel, zero Python in the loop.
  * IVF (inverted-file) — the scale path: partition the corpus into
    ``n_centroids`` Voronoi cells (centroids fitted on a bounded
    driver-side sample — model fitting, constant memory), persist the
    cell id, and probe only ``n_probe`` cells per query. Scan cost
    drops by ~n_centroids/n_probe; recall is tested against the
    brute-force baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(c: Column) -> Column:
    return c.cast("double")


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double, left-to-right — matches DuckDB's list
    accumulation order, so differential comparison is exact."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: _as_double(x) * _as_double(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + _as_double(x) * _as_double(x)))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector.

    ``queries`` is broadcast — it must be the small side (typical ANN
    workloads: thousands of queries vs billions of corpus vectors).
    Output: (query_id, neighbor_id, rank), rank 1..k by cosine desc
    with neighbor_id as the deterministic tiebreaker.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("_cos", cosine("_qvec", "_cvec"))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_topk_batched(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force top-k with Arrow-batched numpy scoring — same
    result set as :func:`cosine_topk`, different physics.

    The bounded query set is collected once (model-sized, like IVF
    centroids) and broadcast in the closure; each corpus Arrow batch
    scores against ALL queries in vectorized numpy passes (the
    dimension-sequential accumulation of :func:`_seq_cosine`, so
    scores stay bit-identical to the oracle's sequential loop) and
    emits only its PARTIAL top-k per query. The final window ranks
    Q·k·n_batches candidate rows, not the |corpus|·|queries| cross
    product — map-side top-k is the partial-aggregate shape, so the
    only shuffle carries k rows per (query, batch). Replaces per-pair
    interpreted ``zip_with``/``aggregate`` lambda evaluation in the
    hot path (~20× at sf0.1) while staying hash-exact."""
    q_rows = sorted(
        queries.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    qnorm = _seq_norms(qmat)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:  # np.stack raises on an empty batch
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cos = _seq_cosine(mat, qmat, qnorm)  # (B, Q)
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids):
                col = cos[:, j]
                nids = ids
                if exclude_self:
                    keep = ids != qid
                    col, nids = col[keep], ids[keep]
                # partial top-k by (-cos, neighbor_id): exact prefix of
                # the global ordering, so cutting here cannot change
                # the final top-k
                order = np.lexsort((nids, -col))[:k]
                out_q.append(np.full(len(order), qid))
                out_n.append(nids[order])
                out_c.append(col[order])
            if not out_q:  # empty query set: np.concatenate([]) raises
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_cos": np.concatenate(out_c),
                }
            )

    part = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, _cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) — the all-pairs correctness baseline. O(n²/2): fine
    for a bounded candidate set (e.g. within-bucket verification);
    at corpus scale run it per IVF/LSH bucket instead of globally.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("_cos", cosine("_va", "_vb"))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b")
    )


def _seq_cosine(mat: np.ndarray, qmat: np.ndarray, qnorm: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``mat`` (B, dim) against every row of
    ``qmat`` (Q, dim), accumulating one DIMENSION at a time across the
    whole batch: per element that is the strict left-to-right float64
    sum — bit-identical to the oracle's sequential per-pair loop
    (DuckDB ``list_cosine_similarity``) — while staying vectorized
    across rows (no per-row Python). np.matmul's pairwise summation
    would drift in the last ulp and could flip near-tied ranks.

    Cost: dim vectorized passes per batch instead of one GEMM —
    fine at dim≈64-768 (memory-bound either way). For high-dim
    embeddings where the GEMM wins, swap in ``mat @ qmat.T`` (the
    :func:`embedding_dup_pairs_bucketed` in-cell form) and accept
    last-ulp rank ties being broken by id — only differential-oracle
    comparisons need the exact association, not production ANN."""
    dim = qmat.shape[1]
    dots = np.zeros((len(mat), len(qmat)))
    vnorm = np.zeros(len(mat))
    for d in range(dim):
        dots += mat[:, d : d + 1] * qmat[None, :, d]
        vnorm += mat[:, d] * mat[:, d]
    vnorm = np.sqrt(vnorm)
    vnorm[vnorm == 0.0] = 1.0
    return dots / (vnorm[:, None] * qnorm[None, :])


def _seq_norms(mat: np.ndarray) -> np.ndarray:
    """Row norms with the same sequential association as the SQL loop:
    sqrt(((0+x0²)+x1²)+...)."""
    acc = np.zeros(len(mat))
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    acc = np.sqrt(acc)
    acc[acc == 0.0] = 1.0
    return acc


def _collect_seed_vectors(df: DataFrame, n: int, id_col: str, vec_col: str):
    """First ``n`` vectors by id — the deterministic data-seeded
    'model' both the Spark path and the ANSI-SQL oracle can name.
    Bounded collect: n rows regardless of corpus size."""
    rows = sorted(
        df.filter(F.col(id_col) < n).select(id_col, vec_col).collect(),
        key=lambda r: r[0],
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def _seeded_top_cells_udf(cids: np.ndarray, cmat: np.ndarray, n_probe: int):
    """Arrow-batched map-side cell assignment against the broadcast
    seed-centroid matrix; returns each vector's ``n_probe`` best cell
    ids by (cosine desc, cid asc) — the exact ordering the oracle's
    ROW_NUMBER window uses."""
    from pyspark.sql import types as T

    cnorm = _seq_norms(cmat)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def top_cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (B, dim)
        cos = _seq_cosine(mat, cmat, cnorm)
        order = np.lexsort(
            (np.arange(len(cmat))[None, :].repeat(len(mat), 0), -cos), axis=1
        )
        return pd.Series(list(cids[order[:, :n_probe]]))

    return top_cells


def embedding_dup_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via IVF bucketing — the corpus-scale path.

    Candidate generation: the first ``n_centroids`` vectors by id act
    as deterministic data-seeded centroids (sampled-seed IVF, no Lloyd
    iterations — fully specifiable in ANSI SQL, so the differential
    oracle can reproduce the exact same candidate set); every vector
    is assigned to its ``n_probe`` highest-cosine cells (multi-probe);
    pairs sharing a cell are verified exactly with one numpy matmul
    per cell inside ``applyInPandas``. Verify work is ~n²·p²/(2k) vs
    n²/2 for all-pairs, and k scales with corpus size (k ≈ √n keeps
    per-cell work flat).

    Semantics are honestly approximate: a qualifying pair whose
    members share no probed cell is missed. On clustered corpora
    (the real near-dup case) recall approaches 1; on isotropic
    high-dimensional data NO sub-quadratic method can certify exact
    recall (angular triangle-inequality bounds are vacuous when cell
    radii ≈ 90°, measured on the test fixture in DESIGN.md), which is
    why the exact all-pairs form stays available as the bounded-set
    verification baseline.
    """
    cids, cmat = _collect_seed_vectors(df, n_centroids, id_col, vec_col)
    top_cells = _seeded_top_cells_udf(cids, cmat, n_probe)

    top = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(top_cells(F.col(vec_col))).alias("_cid"),
    )

    def find(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (mat @ mat.T) / np.outer(norms, norms)
        ia, ib = np.where(np.triu(sims >= threshold, k=1))
        return pd.DataFrame(
            {"id_a": np.minimum(ids[ia], ids[ib]), "id_b": np.maximum(ids[ia], ids[ib])}
        )

    pairs = top.groupBy("_cid").applyInPandas(find, "id_a long, id_b long")
    # a pair probing two shared cells is found twice
    return pairs.dropDuplicates(["id_a", "id_b"])


def quantized_topk_batched(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors, with
    Arrow-batched numpy scoring — the :func:`cosine_topk_batched`
    physics applied to the int8 path.

    Symmetric per-vector quantization ``q_i = floor(x_i * 127 / max|x|
    + 0.5)`` (half-up — identical in every engine, unlike banker's
    rounding) is the standard ANN compression step. Quantization (all
    double ops) and the integer dot products are exact — sums of 64
    products ≤ 127² are far below 2^53 — so the result is
    bit-identical to the SQL oracle, with no sequential-association
    care needed beyond the quantize step's (x·127.0)/maxabs op order.
    Scores are the quantized cosine; ranking quality vs float cosine
    is pinned in tests. Each corpus batch emits only its partial
    top-k per query; the one shuffle carries k rows per (query,
    batch)."""
    q_rows = sorted(
        queries.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)

    def _q8(mat: np.ndarray) -> np.ndarray:
        maxabs = np.maximum(np.abs(mat).max(axis=1), 1e-30)
        # same op order as the oracle's SQL: (x * 127.0) / maxabs
        return np.floor(mat * 127.0 / maxabs[:, None] + 0.5).astype(np.int64)

    qmat = _q8(np.array([r[1] for r in q_rows], dtype=np.float64))
    qsq = (qmat * qmat).sum(axis=1)  # exact int64

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cmat = _q8(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            dots = cmat @ qmat.T  # int64: exact
            csq = (cmat * cmat).sum(axis=1)
            cos = dots.astype(np.float64) / np.sqrt(
                (csq[:, None] * qsq[None, :]).astype(np.float64)
            )
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids):
                col, nids = cos[:, j], ids
                keep = ids != qid
                col, nids = col[keep], nids[keep]
                order = np.lexsort((nids, -col))[:k]
                out_q.append(np.full(len(order), qid))
                out_n.append(nids[order])
                out_c.append(col[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_score": np.concatenate(out_c),
                }
            )

    part = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, _score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_score").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF — the scale path
# ---------------------------------------------------------------------------

_CENTROID_CACHE: dict[tuple, np.ndarray] = {}

# The seeded_* ANN variants collect the QUERY SET to the driver and
# ship it to executors as closure metadata — the right shape for a
# bounded query batch (the 100 TB case: a handful of probes against a
# corpus-scale index), and the WRONG shape for a query set that is
# itself corpus-scale. The guard below makes that assumption explicit
# instead of letting a huge collect OOM the driver; for corpus-scale
# query sets use ivf_topk/lsh_topk, whose candidate generation is a
# cell/bucket equi-join with no driver collect of either side.
SEEDED_QUERY_LIMIT = 100_000


def _collect_bounded(tagged: DataFrame, model_rows: int, what: str) -> list:
    """Collect the model+query union with an explicit ceiling: fetch
    at most (limit + 1) rows in the SAME single job and raise — never
    silently truncate — if the query set exceeds the documented
    bound."""
    cap = model_rows + SEEDED_QUERY_LIMIT
    rows = tagged.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: query set exceeds SEEDED_QUERY_LIMIT "
            f"({SEEDED_QUERY_LIMIT}) — the seeded variants collect "
            "queries to the driver and only fit bounded query "
            "batches; use ivf_topk/lsh_topk (cell/bucket equi-join) "
            "for corpus-scale query sets"
        )
    return rows


def fit_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_limit: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    cache_key: str | None = None,
) -> np.ndarray:
    """k-means on a bounded sample (constant driver memory regardless
    of corpus size). Model fitting, not a data operator — at 100 TB
    the sample is still ``sample_limit`` rows. Pass ``cache_key``
    (e.g. the corpus path) to reuse a fitted model across queries —
    production refits per ingest batch, not per probe."""
    if cache_key is not None:
        k = (cache_key, n_centroids, vec_col, sample_limit, iters, seed)
        if k in _CENTROID_CACHE:
            return _CENTROID_CACHE[k]
    # Uniform seeded sample, NOT .limit(): limit takes whichever
    # partitions list first, so a corpus sorted by source/cluster
    # yields biased centroids and silently degraded recall. Top-n by
    # a seeded random key compiles to TakeOrderedAndProject —
    # per-partition heaps + a driver merge of n rows, one pass, no
    # count job, no global sort.
    sample = (
        df.select(F.col(vec_col).alias("_v"))
        .withColumn("_r", F.rand(seed))
        .orderBy("_r")
        .limit(sample_limit)
        .select("_v")
        .collect()
    )
    x = np.array([r[0] for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    if cache_key is not None:
        _CENTROID_CACHE[(cache_key, n_centroids, vec_col, sample_limit, iters, seed)] = cent
    return cent


def _top_cells_udf(centroids: np.ndarray, n: int):
    """Vectorized (Arrow) nearest-centroid scorer: one numpy matmul
    per batch against the broadcast centroid matrix, returning each
    vector's top-``n`` cell ids (score desc, id asc tiebreak). The
    structs-of-dots column expression runs interpreted per row per
    centroid — the matmul form is the map-side model-scoring shape."""
    import pandas as pd
    from pyspark.sql import types as T

    cent_t = centroids.T.copy()  # (dim, n_centroids)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def top_cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        scores = mat @ cent_t  # (batch, n_centroids)
        # argsort on (-score, id): lexsort keys are applied last-first
        order = np.lexsort((np.arange(scores.shape[1])[None, :].repeat(len(mat), 0), -scores), axis=1)
        return pd.Series(list(order[:, :n].astype(np.int32)))

    return top_cells


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach the nearest-centroid (max dot) cell id — map-side only
    (one Arrow-batched matmul per batch, no shuffle). Persist the
    result partitioned by cell for pruned probes."""
    top1 = _top_cells_udf(centroids, 1)
    return df.withColumn(cell_col, top1(F.col(vec_col))[0])


def ivf_topk(
    corpus_with_cells: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """ANN top-k probing only ``n_probe`` cells per query: queries get
    their n_probe best cells (map-side), then an equi-join on cell id
    prunes the corpus before exact cosine + windowed top-k."""
    topn = _top_cells_udf(centroids, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(topn(F.col(vec_col))).alias(cell_col),
    )

    c = corpus_with_cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"), cell_col
    )
    pairs = c.join(F.broadcast(q), cell_col).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("_cos", cosine("_qvec", "_cvec"))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def seeded_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a fully deterministic, SQL-expressible spec.

    Like :func:`ivf_topk` but the 'model' is the first ``n_centroids``
    vectors by id (sampled-seed IVF, no Lloyd iterations) instead of a
    fitted k-means — so the ENTIRE candidate-generation rule is
    nameable in ANSI SQL and the differential oracle hash-checks the
    approximate semantics themselves (the ``sim_embedding_dup``
    recipe). Corpus rows land in their single best cell; queries probe
    their ``n_probe`` best cells; candidates from the cell equi-join
    are exactly rescored (Arrow-batched, sequential association) and
    top-k'd. Scan cost per query is ~n_probe/n_centroids of the
    corpus; no model fit pass, no full-corpus sampling job."""
    # ONE bounded driver job fetches both models: the n_centroids seed
    # vectors and the query set ride the same union scan (two pushed-
    # filter scans, parallel tasks) instead of two sequential jobs —
    # at this cardinality the job floor, not the data, is the cost.
    tagged = corpus.filter(F.col(id_col) < n_centroids).select(
        F.lit("c").alias("_role"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).unionByName(
        queries.select(
            F.lit("q").alias("_role"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        )
    )
    rows = _collect_bounded(tagged, n_centroids, "seeded_ivf_topk")
    c_rows = sorted([r for r in rows if r[0] == "c"], key=lambda r: r[1])
    q_rows = sorted([r for r in rows if r[0] == "q"], key=lambda r: r[1])
    if len(c_rows) != n_centroids:
        raise ValueError(
            f"seeded IVF needs corpus ids 0..{n_centroids - 1} as seed "
            f"centroids; found {len(c_rows)} of {n_centroids}"
        )
    cids = np.array([r[1] for r in c_rows], dtype=np.int64)
    cmat = np.array([r[2] for r in c_rows], dtype=np.float64)
    cnorm = _seq_norms(cmat)
    qids = np.array([r[1] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[2] for r in q_rows], dtype=np.float64)
    qnorm = _seq_norms(qmat)

    # each query's probed cells, computed once driver-side against the
    # seed matrix with the oracle's exact ordering (cos desc, cid asc)
    qcell_cos = _seq_cosine(qmat, cmat, cnorm)
    qorder = np.lexsort(
        (np.arange(len(cmat))[None, :].repeat(len(qmat), 0), -qcell_cos), axis=1
    )
    probe_cells = cids[qorder[:, :n_probe]]  # (Q, n_probe)

    def score(batches):
        # Single map-side pass over the corpus: assign each row its
        # best cell, keep it as a candidate for every query probing
        # that cell, rescore exactly, emit per-batch partial top-k.
        # The cell 'join' is closure metadata (Q × n_probe ids), so
        # no shuffle and no extra Python stage — semantically the
        # same ids-equi-join the oracle states.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cell_cos = _seq_cosine(mat, cmat, cnorm)  # (B, K)
            order = np.lexsort(
                (np.arange(len(cmat))[None, :].repeat(len(mat), 0), -cell_cos), axis=1
            )
            cell = cids[order[:, 0]]  # top-1 cell per corpus row
            qcos = _seq_cosine(mat, qmat, qnorm)  # (B, Q)
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids):
                m = np.isin(cell, probe_cells[j]) & (ids != qid)
                if not m.any():
                    continue
                col, nids = qcos[m, j], ids[m]
                sel = np.lexsort((nids, -col))[:k]  # partial top-k
                out_q.append(np.full(len(sel), qid))
                out_n.append(nids[sel])
                out_c.append(col[sel])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_cos": np.concatenate(out_c),
                }
            )

    part = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, _cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH — the other scale path (bucketed cosine ANN)
# ---------------------------------------------------------------------------

def _lsh_buckets_udf(planes: np.ndarray):
    """Arrow-batched bucketizer: one matmul per batch against
    ``planes`` (n_tables, n_planes, dim); bucket = sign bits packed to
    an int per table. Map-side only — the model is broadcast in the
    closure like the IVF centroids."""
    from pyspark.sql import types as T

    n_tables, n_planes, _ = planes.shape
    flat = planes.reshape(n_tables * n_planes, -1).T.copy()  # (dim, T*P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (mat @ flat) > 0  # (batch, T*P)
        per_table = bits.reshape(len(mat), n_tables, n_planes)
        keys = (per_table * weights).sum(axis=2)  # (batch, T)
        return pd.Series(list(keys))

    return buckets


def seeded_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane LSH ANN with a fully deterministic, SQL-expressible
    spec: the hyperplane normals are the first ``n_tables*n_planes``
    corpus vectors by id (data-seeded, like seeded_ivf_topk's
    centroids), so the bucket function — sign bits of the dot product,
    packed to an int per table — is nameable in ANSI SQL and the
    differential oracle hash-checks the bucketed ANN semantics.
    Candidates are rows sharing ANY (table, bucket) with the query;
    they are exactly rescored and top-k'd. One map-side pass: plane
    matrix and query keys are closure metadata, the only shuffle is
    the final window over per-batch partial top-k rows. (The random-
    plane :func:`lsh_topk` stays the library path — planted-dup
    recall pinned in tests.)"""
    n_h = n_tables * n_planes
    tagged = corpus.filter(F.col(id_col) < n_h).select(
        F.lit("p").alias("_role"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).unionByName(
        queries.select(
            F.lit("q").alias("_role"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        )
    )
    rows = _collect_bounded(tagged, n_h, "seeded_lsh_topk")
    p_rows = sorted([r for r in rows if r[0] == "p"], key=lambda r: r[1])
    q_rows = sorted([r for r in rows if r[0] == "q"], key=lambda r: r[1])
    if len(p_rows) != n_h:
        raise ValueError(
            f"seeded LSH needs corpus ids 0..{n_h - 1} as hyperplane "
            f"normals; found {len(p_rows)} of {n_h}"
        )
    pmat = np.array([r[2] for r in p_rows], dtype=np.float64)  # (n_h, dim)
    qids = np.array([r[1] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[2] for r in q_rows], dtype=np.float64)
    qnorm = _seq_norms(qmat)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def keys_of(mat: np.ndarray) -> np.ndarray:
        # dim-sequential dots (oracle association), sign bits packed
        # per table: (rows, n_tables) int64 bucket keys
        dots = np.zeros((len(mat), n_h))
        for d in range(pmat.shape[1]):
            dots += mat[:, d : d + 1] * pmat[None, :, d]
        bits = dots > 0
        return (
            bits.reshape(len(mat), n_tables, n_planes) * weights
        ).sum(axis=2)

    qkeys = keys_of(qmat)  # (Q, n_tables)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ckeys = keys_of(mat)  # (B, n_tables)
            qcos = _seq_cosine(mat, qmat, qnorm)
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(qids):
                m = (ckeys == qkeys[j]).any(axis=1) & (ids != qid)
                if not m.any():
                    continue
                col, nids = qcos[m, j], ids[m]
                sel = np.lexsort((nids, -col))[:k]
                out_q.append(np.full(len(sel), qid))
                out_n.append(nids[sel])
                out_c.append(col[sel])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_cos": np.concatenate(out_c),
                }
            )

    part = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, _cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via random-hyperplane (SimHash-family) LSH.

    Cosine-similar vectors agree on hyperplane signs with probability
    1 - θ/π per plane; ``n_planes`` sets bucket selectivity and
    ``n_tables`` OR-amplifies recall. Candidates are an equi-join on
    (table, bucket) — ids only — then exact cosine + windowed top-k
    on the candidate set. Complements IVF: no model fit, recall tuned
    purely by (planes, tables); corpus scan cost per query is the
    occupancy of k·n_tables buckets instead of the full corpus.
    """
    dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))
    buckets = _lsh_buckets_udf(planes)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.posexplode(buckets(F.col(vec_col))).alias("_table", "_bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.posexplode(buckets(F.col(vec_col))).alias("_table", "_bucket"),
    )
    cand = (
        c.join(F.broadcast(q), ["_table", "_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "_qvec", "neighbor_id", "_cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("_cos", cosine("_qvec", "_cvec"))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization — the at-scale ANN compression standard
# ---------------------------------------------------------------------------


def pq_topk(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 4,
    n_codes: int = 16,
    n_queries: int = 5,
) -> DataFrame:
    """Product-quantized top-k with EXACT integer math end to end.

    The FAISS-style IVFPQ recipe's PQ half, made cross-engine
    deterministic: vectors are int8-quantized (quantized_topk_batched's
    half-up spec), split into ``n_sub`` subvectors, and each
    subvector is encoded as the index of its nearest codebook entry
    (integer L2, ties to the lowest index). Scoring is asymmetric
    distance computation: the query's exact subvectors dotted with
    the codebook entry its neighbor's code names — all sums of
    bounded integers, so ranking is bit-deterministic and a SQL
    oracle reproduces it hash-exactly.

    The codebook is data-seeded (the quantized subvectors of the
    first ``n_codes`` corpus vectors) — the same bounded-model
    convention as seeded-IVF/LSH: ONE driver-side collect of
    ``n_codes`` rows regardless of corpus size, shipped in the UDF
    closure. Corpus encode is an Arrow-batched numpy argmin (the
    literal-expression draft built 64 aggregate subtrees per row and
    took 38 s at sf0.1; the batched encode is ~1 s); scoring is the
    classic ADC-table trick — each query precomputes its
    n_sub × n_codes integer dot table driver-side (bounded), and
    scoring a neighbor is n_sub array lookups, pure JVM. The only
    shuffle is the final top-k window. At 100 TB the codes table is
    n_sub bytes/vector (64x smaller than float32 dims at 4x16) and
    re-ranking the short list against float vectors is the standard
    second pass.
    """
    import numpy as np

    from pyspark.sql import types as T

    # ONE bounded model-state collect serves the dimension probe, the
    # codebook, and the query set (three separate jobs previously —
    # each paid a full scan-job floor for <= n_codes rows)
    model_rows = sorted(
        corpus.filter(F.col(id_col) < max(n_codes, n_queries))
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    dim = len(model_rows[0][1])
    sub_dim = dim // n_sub

    def _quantize_np(m: np.ndarray) -> np.ndarray:
        maxabs = np.maximum(np.abs(m).max(axis=1), 1e-30)
        return np.floor(m * 127.0 / maxabs[:, None] + 0.5).astype(np.int64)

    # bounded model: quantized subvectors of the first n_codes vectors
    rows = [r for r in model_rows if r[0] < n_codes]
    q8 = _quantize_np(np.array([r[1] for r in rows], dtype=np.float64))
    cb_mats = [q8[:, m * sub_dim : (m + 1) * sub_dim].copy() for m in range(n_sub)]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def encode(vecs: pd.Series) -> pd.Series:
        mat = _quantize_np(np.stack(vecs.to_numpy()).astype(np.float64))
        codes = np.empty((len(mat), n_sub), dtype=np.int64)
        for m in range(n_sub):
            sub = mat[:, m * sub_dim : (m + 1) * sub_dim]
            d2 = ((sub[:, None, :] - cb_mats[m][None, :, :]) ** 2).sum(axis=2)
            # np.argmin takes the FIRST minimum — ties to the lowest
            # index, the same order the SQL oracle's ROW_NUMBER uses
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("_codes")
    )

    # bounded query set: precompute each query's ADC lookup table
    # (dot of its exact quantized subvector with every codebook
    # entry) — n_sub × n_codes ints per query, carried as columns
    qrows = [r for r in model_rows if r[0] < n_queries]
    qq8 = _quantize_np(np.array([r[1] for r in qrows], dtype=np.float64))
    q_data = []
    for qi, r in enumerate(qrows):
        tables = [
            (qq8[qi, m * sub_dim : (m + 1) * sub_dim] @ cb_mats[m].T).tolist()
            for m in range(n_sub)
        ]
        q_data.append((r[0], *tables))
    q_schema = "query_id long, " + ", ".join(
        f"_adc{m} array<long>" for m in range(n_sub)
    )
    q = corpus.sparkSession.createDataFrame(q_data, q_schema)

    pairs = coded.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    score = None
    for m in range(n_sub):
        term = F.element_at(
            F.col(f"_adc{m}"), F.element_at("_codes", m + 1).cast("int") + 1
        )
        score = term if score is None else score + term

    w = Window.partitionBy("query_id").orderBy(F.col("_dot").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("_dot", score)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
