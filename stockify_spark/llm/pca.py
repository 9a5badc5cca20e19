"""Distributed PCA: top principal component by power iteration over
a partition-aggregated Gram matrix.

The embedding-pipeline linear-algebra primitive (decorrelation,
whitening, SemDeDup-style axis analysis) the corpus operators next
door (llm/clustering.py, llm/similarity.py) compose with. Public
algorithm (Pearson 1901 PCA; von Mises power iteration); the Spark
shape is MLlib's RowMatrix pattern re-expressed on the DataFrame API:

  1. ONE pass over the corpus computes per-partition Gram partials
     (n, Σv, Σ v·vᵀ) inside an Arrow-batched ``mapInPandas`` — numpy
     matmul per batch, no per-row Python. What leaves each partition
     is one (1 + d + d²)-double row, independent of row count.
  2. The partials collapse to the driver — a BOUNDED collect of one
     row per partition (at 1000 executors: 1000 rows of ~33 KB for
     d=64). Above ``_TREE_FOLD_PARTITIONS`` source partitions the
     fold goes through one intermediate ``groupBy`` (posexplode the
     (n, s, g) row to (index, value), sum per index — the
     treeAggregate shape) so the driver collects exactly 1 + d + d²
     scalars no matter how large the fleet is; parity-tested
     hash-equal against the direct collect.
  3. The d×d covariance C = G/n − μμᵀ (entries ROUND(9)) is MODEL
     state; 8 power-iteration rounds run in numpy on the driver,
     exactly like the k-means centroid fold — iterating on a 64×64
     matrix in a cluster job would be job-floor theater.

Cross-engine float policy (the kmeans/pagerank discipline): the
covariance entries and the per-iteration normalized vector are
rounded HALF-UP on the shortest decimal string (_round_half_up ==
Spark Round == DuckDB ROUND) at 9dp, so a differential oracle that
unrolls the same matvec/normalize/round chain in SQL reproduces the
loadings bit-for-bit; raw engine-order summation drift (~1e-15)
sits ~5 orders below the rounding grid.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame

from stockify_spark.functions.scale import materialize


def _round_half_up(x: float, nd: int) -> float:
    """Spark ``Round(double, nd)`` / DuckDB ``ROUND`` semantics:
    HALF_UP on the SHORTEST DECIMAL STRING of the double (Python
    repr == Java Double.toString for round-trip shortest form)."""
    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), ROUND_HALF_UP))


def _round_half_up_np(a, nd: int):
    """Vectorized :func:`_round_half_up` for the corpus-sized APPLY
    faces (project/outliers): one Decimal object per output value
    capped those passes at Python speed (r11 verdict watch item 2).

    Exactness argument: HALF_UP on the shortest decimal string d of
    x equals floor(d·10^nd + 0.5)/10^nd in exact arithmetic. The
    float y = x·10^nd deviates from d·10^nd by a few ulp(y) (one
    from repr-vs-binary, half from the multiply), so whenever
    frac(y) is MORE than a small ulp-scaled band away from 0.5,
    floor(y + 0.5) is the exact decimal answer. Only elements
    INSIDE the band (possible ties — where HALF_UP vs the binary
    value could disagree, including the away-from-zero negative tie)
    fall back to the scalar Decimal path; on real-valued projections
    those are vanishingly rare, so the pass runs at numpy speed.
    Property-tested equal to the scalar form on adversarial
    boundary values and random arrays (tests/test_pca_rounding.py)."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    scale = 10.0 ** nd
    y = a * scale
    with np.errstate(invalid="ignore"):
        frac = y - np.floor(y)
        out = np.floor(y + 0.5) / scale
    # band: a few ulps of y (covers repr-vs-binary + multiply error)
    # plus a floor for subnormal-scale y; non-finite values take the
    # scalar path so they fail exactly like the Decimal form
    band = 4.0 * np.spacing(np.abs(y)) + 1e-12
    # sign-faithful zero: the Decimal form rounds a tiny NEGATIVE to
    # -0.0 (Decimal('-0.000000')), floor-based rounding to +0.0 —
    # a "-0" vs "0" formatted-value difference downstream
    out = np.where(out == 0.0, np.copysign(out, a), out)
    exact = np.isfinite(y) & (np.abs(frac - 0.5) > band)
    if not exact.all():
        idx = np.flatnonzero(~exact)
        flat_in = a.reshape(-1)
        flat_out = out.reshape(-1)
        for i in idx:
            flat_out[i] = _round_half_up(float(flat_in[i]), nd)
        out = flat_out.reshape(a.shape)
    return out


def pca_power(
    emb: DataFrame,
    vec_col: str = "embedding",
    iters: int = 8,
) -> DataFrame:
    """Top principal component of the (mean-centered) embedding
    corpus after ``iters`` power iterations from the uniform start
    vector 1/√d. Returns one row per dimension:
    (dim 1-based, loading, eigenvalue) — eigenvalue is the Rayleigh
    quotient rᵀCr of the final vector, ROUND(6); loadings ROUND(9)
    per iteration (see module float policy). The result is DEFINED
    as "``iters`` rounds from uniform", not "the converged
    eigenvector" — that makes it an exact cross-engine quantity.
    """
    _, _, cov = _gram(emb, vec_col)
    ((lam, r_vec),) = _power_deflate(cov, 1, iters)
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i + 1, float(r_vec[i]), lam) for i in range(len(r_vec))],
        "dim long, loading double, eigenvalue double",
    )


# above this many source partitions the driver-side partial collect
# (one (1+d+d²)-double row per partition) stops being "model-sized"
# — at d=1024 and 10⁵ partitions it is ~800 GB — so the fold takes
# one intermediate groupBy instead (module docstring §2)
_TREE_FOLD_PARTITIONS = 1024


def _gram(emb: DataFrame, vec_col: str, tree_fold_gate: int = _TREE_FOLD_PARTITIONS):
    """One corpus pass → (n, mean, covariance ROUND(9)) — the shared
    front half of every PCA face (module docstring §1-2). Above
    ``tree_fold_gate`` source partitions the per-partition partials
    are summed in one intermediate groupBy (ONE job, one shuffle of
    partitions·(1+d+d²) scalars) so the collect is exactly 1+d+d²
    rows regardless of fleet size; the gate is a parameter only so
    the parity test can force each branch."""
    import numpy as np

    from pyspark.sql import functions as F

    src = emb.select(F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    partials = src.mapInPandas(
        _gram_partials, schema="n long, s array<double>, g array<double>"
    )
    # .rdd here is plan conversion, not a job — no corpus pass
    if src.rdd.getNumPartitions() > tree_fold_gate:
        # treeAggregate shape: flatten each partial row to (index,
        # value) with index 0 = n (exact in double below 2^53),
        # 1..d = Σv, d+1..d+d² = Σ v·vᵀ; sum per index. Partial
        # map-side aggregation keeps the shuffle at
        # O(partitions · (1+d+d²)) scalars and the collect at model
        # size. Same single corpus pass as the direct branch.
        folded = (
            partials.select(
                F.posexplode(
                    F.concat(
                        F.array(F.col("n").cast("double")), F.col("s"), F.col("g")
                    )
                ).alias("i", "x")
            )
            .groupBy("i")
            .agg(F.sum("x").alias("x"))
            .collect()
        )  # bounded: 1 + d + d² rows
        if not folded:
            raise ValueError("pca: empty corpus")
        # len(folded) = 1 + d + d²  →  d = (−1 + √(1+4·(len−1)))/2
        d = int(round((-1 + (1 + 4 * (len(folded) - 1)) ** 0.5) / 2))
        vals = np.zeros(len(folded))
        for r in folded:
            vals[r["i"]] = r["x"]
        n = int(round(vals[0]))
        s = vals[1 : 1 + d]
        g = vals[1 + d :].reshape(d, d)
    else:
        rows = partials.collect()  # bounded: one row per partition
        if not rows:
            raise ValueError("pca: empty corpus")
        n = sum(r["n"] for r in rows)
        d = len(rows[0]["s"])
        s = np.zeros(d)
        g = np.zeros((d, d))
        for r in rows:
            s += np.asarray(r["s"])
            g += np.asarray(r["g"]).reshape(d, d)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    cov = np.array([[_round_half_up(v, 9) for v in row] for row in cov])
    return n, mu, cov


def _power_deflate(cov, k: int, iters: int):
    """k (eigenvalue, vector) pairs by power iteration + Hotelling
    deflation C ← ROUND(C − λ v vᵀ, 9) — every quantity on the
    rounding grid, so the whole chain is cross-engine exact."""
    import numpy as np

    d = cov.shape[0]
    comps = []
    c = cov
    for _ in range(k):
        r = np.full(d, 1.0 / np.sqrt(d))
        for _ in range(iters):
            y = c @ r
            nrm = float(np.sqrt((y * y).sum()))
            if nrm == 0.0:
                raise ValueError("pca: zero covariance (degenerate corpus)")
            r = np.array([_round_half_up(v, 9) for v in y / nrm])
        lam = _round_half_up(float(r @ c @ r), 6)
        comps.append((lam, r))
        c = np.array(
            [[_round_half_up(v, 9) for v in row] for row in c - lam * np.outer(r, r)]
        )
    return comps


def pca_topk(
    emb: DataFrame,
    vec_col: str = "embedding",
    k: int = 3,
    iters: int = 8,
) -> DataFrame:
    """Top-``k`` principal components by power iteration + Hotelling
    deflation. One row per (component 1-based, dim 1-based):
    (component, dim, loading, eigenvalue). Same float policy as
    :func:`pca_power`; component c is DEFINED as ``iters`` rounds on
    the (c−1)-times-deflated covariance from the uniform start."""
    _, _, cov = _gram(emb, vec_col)
    comps = _power_deflate(cov, k, iters)
    spark = emb.sparkSession
    return spark.createDataFrame(
        [
            (ci + 1, i + 1, float(r[i]), lam)
            for ci, (lam, r) in enumerate(comps)
            for i in range(len(r))
        ],
        "component long, dim long, loading double, eigenvalue double",
    )


def pca_project(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    iters: int = 8,
) -> DataFrame:
    """Project every embedding onto the top-``k`` components (the
    PCA APPLY face): (id, p1..pk), p_c = Σ_i (v[i] − μ[i])·w_c[i],
    ROUND(6). The k·d loading model + mean travel in the expression
    closure like the k-means centroids; the projection is one
    map-side Arrow pass — the output is data-sized, the model is
    not."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    _, mu, cov = _gram(emb, vec_col)
    comps = _power_deflate(cov, k, iters)
    w = np.stack([r for _, r in comps])  # k × d

    def _proj(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            p = _round_half_up_np((mat - mu) @ w.T, 6)
            out = {"_id": pdf["_id"].to_numpy()}
            for c in range(w.shape[0]):
                out[f"p{c + 1}"] = p[:, c]
            yield pd.DataFrame(out)

    src = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    cols = ", ".join(f"p{c + 1} double" for c in range(k))
    return src.mapInPandas(_proj, schema=f"_id long, {cols}").withColumnRenamed(
        "_id", id_col
    )


def pca_block_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    iters: int = 8,
    width: float = 1.0,
) -> DataFrame:
    """SemDeDup-style BLOCKING in PCA-reduced space: candidate pairs
    whose top-``k`` projections fall in the same ``width``-sized grid
    cell, with the exact reduced-space squared distance attached —
    the cheap pre-filter that bounds which pairs ever see a
    full-dimension verify (llm/similarity's exact passes).

    Scale shape: the projection is one map-side pass (model in the
    closure); blocking is ONE equi-join on the k-tuple cell key —
    cost tracks colliding pairs, never n². Cross-engine exactness:
    projections are ROUND(6), ``width`` must be a power of two so
    the cell division is exact, and the squared distance of 6dp
    coordinates is exact in double — every emitted value sits on a
    shared grid, no verify-side float drift possible.
    """
    from math import frexp

    from pyspark.sql import functions as F

    m, e = frexp(width)
    if m != 0.5 or width <= 0:  # width == 2**(e-1)
        raise ValueError("width must be a positive power of two")
    proj = pca_project(emb, vec_col=vec_col, id_col=id_col, k=k, iters=iters)
    # materialize the projection ONCE before the self-join: its two
    # sides are different selects over the same pre-exchange
    # mapInPandas subtree, which would otherwise recompute the full
    # corpus projection per side (ReusedExchange only dedups AFTER an
    # exchange — the text_rake/simhash lesson).
    proj = materialize(proj)
    cell = proj.select(
        F.col(id_col).alias("_id"),
        *[F.col(f"p{c}") for c in range(1, k + 1)],
        *[
            F.floor(F.col(f"p{c}") / F.lit(width)).alias(f"b{c}")
            for c in range(1, k + 1)
        ],
    )
    keys = [f"b{c}" for c in range(1, k + 1)]
    a = cell.select(
        F.col("_id").alias("id_a"),
        *[F.col(f"p{c}").alias(f"pa{c}") for c in range(1, k + 1)],
        *keys,
    )
    b = cell.select(
        F.col("_id").alias("id_b"),
        *[F.col(f"p{c}").alias(f"pb{c}") for c in range(1, k + 1)],
        *keys,
    )
    dist2 = None
    for c in range(1, k + 1):
        term = (F.col(f"pa{c}") - F.col(f"pb{c}")) ** 2
        dist2 = term if dist2 is None else dist2 + term
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dist2, 9).alias("dist2"))
    )


def gram_update(
    emb: DataFrame,
    path: str,
    vec_col: str = "embedding",
    app_id: str = "pca-gram",
    batch_version: int | None = None,
) -> int:
    """INCREMENTAL PCA, update face: fold this batch's Gram partial
    (n, Σv, Σ v·vᵀ — one row) into the ACID stats table at ``path``.
    The Gram is associative, so maintaining the model under streaming
    ingest is just appending partial rows and summing at read time —
    no re-scan of history, ever. With ``batch_version`` set, the
    append is exactly-once per (app_id, batch_version)
    (txlog.append_idempotent — the foreachBatch sink contract), so a
    replayed micro-batch cannot double-count its vectors into the
    covariance. Returns the commit version."""
    import numpy as np

    from stockify_spark.sources import txlog

    from pyspark.sql import functions as F

    rows = (
        emb.select(F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
        .mapInPandas(_gram_partials, schema="n long, s array<double>, g array<double>")
        .collect()
    )  # bounded: one row per partition of THIS batch
    if not rows:
        return txlog.current_version(path) if _table_exists(path) else -1
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    g = np.zeros(d * d)
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"])
    spark = emb.sparkSession
    one = spark.createDataFrame(
        [(int(n), [float(x) for x in s], [float(x) for x in g])],
        "n long, s array<double>, g array<double>",
    )
    if batch_version is None:
        return txlog.append(one, path) if _table_exists(path) else txlog.create(one, path)
    return txlog.append_idempotent(one, path, app_id, batch_version)


def _table_exists(path: str) -> bool:
    import os

    from stockify_spark.sources.txlog import _log_dir

    return os.path.isdir(_log_dir(path))


def _gram_partials(batches):
    import numpy as np
    import pandas as pd

    n = 0
    s = None
    g = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        n += len(mat)
        s = mat.sum(axis=0) if s is None else s + mat.sum(axis=0)
        gg = mat.T @ mat
        g = gg if g is None else g + gg
    if n:
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})


def pca_from_gram(
    spark,
    path: str,
    k: int = 1,
    iters: int = 8,
) -> DataFrame:
    """INCREMENTAL PCA, read face: fold the stats table's partial
    rows into the covariance and run the standard power/deflation
    chain. The fold is element-wise sums keyed by position — a
    posexplode + groupBy whose output is d + d² rows of model state
    (bounded by dimensions, not by how many batches ever arrived) —
    so the model rebuild cost is O(batches·d²) scan + one
    model-sized collect, independent of corpus row count. Output
    schema matches :func:`pca_topk`."""
    import numpy as np

    from pyspark.sql import functions as F

    from stockify_spark.sources import txlog

    snap = txlog.snapshot(spark, path)
    tot = snap.agg(F.sum("n").alias("n")).collect()[0]
    n = int(tot["n"])
    svec = (
        snap.select(F.posexplode("s").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("x"))
        .collect()
    )  # bounded: d rows
    gvec = (
        snap.select(F.posexplode("g").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("x"))
        .collect()
    )  # bounded: d*d rows
    d = len(svec)
    s = np.zeros(d)
    for r in svec:
        s[r["i"]] = r["x"]
    g = np.zeros(d * d)
    for r in gvec:
        g[r["i"]] = r["x"]
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    cov = np.array([[_round_half_up(v, 9) for v in row] for row in cov])
    comps = _power_deflate(cov, k, iters)
    return spark.createDataFrame(
        [
            (ci + 1, i + 1, float(r[i]), lam)
            for ci, (lam, r) in enumerate(comps)
            for i in range(len(r))
        ],
        "component long, dim long, loading double, eigenvalue double",
    )


def compact_gram(spark, path: str) -> int:
    """Fold checkpoint for the incremental-PCA stats table: COW-
    rewrite the partial-row history at ``path`` to ONE summed
    (n, Σv, Σ v·vᵀ) row, so :func:`pca_from_gram`'s rebuild is
    O(d²) forever instead of O(batches·d²) on a long-lived stream
    (the partial table grows one row per micro-batch ever appended).

    The fold runs distributed — posexplode each partial row to
    (index, value), sum per index, collect 1+d+d² scalars (model-
    sized regardless of batch history) — then commits
    remove(all live files) + add(one file) through the txlog's
    optimistic-concurrency path, so a concurrent :func:`gram_update`
    either lands before the rewrite (its rows are folded) or after
    (its rows survive beside the folded row; the Gram is associative
    so both orders read identically).

    Exactly-once markers are PRESERVED: ``txn`` actions live in the
    LOG, not the data files — the COW commit touches only files, and
    both :func:`stockify_spark.sources.txlog.last_txn_version` and
    the checkpoint collapse keep every (app, version) marker, so a
    replayed micro-batch is still a no-op across the fold boundary
    (pinned by tests/test_pca.py). Returns the commit version;
    no-op (current version) when the table already holds one row."""
    import numpy as np

    from pyspark.sql import functions as F

    from stockify_spark.sources import txlog

    # pin the fold to ONE state: folding snapshot(head) but removing
    # the live files of a later head would silently drop a partial a
    # concurrent gram_update landed in between — fold and remove the
    # same pinned file set instead (the commit's own conflict check
    # covers concurrent REMOVERS; concurrent appenders land beside)
    st = txlog._replay(path)
    snap = txlog._snapshot(spark, path, st)
    if snap.count() <= 1:
        return st.version
    folded = (
        snap.select(
            F.posexplode(
                F.concat(F.array(F.col("n").cast("double")), F.col("s"), F.col("g"))
            ).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.sum("x").alias("x"))
        .collect()
    )  # bounded: 1 + d + d² rows of model state
    d = int(round((-1 + (1 + 4 * (len(folded) - 1)) ** 0.5) / 2))
    vals = np.zeros(len(folded))
    for r in folded:
        vals[r["i"]] = r["x"]
    one = spark.createDataFrame(
        [
            (
                int(round(vals[0])),
                [float(x) for x in vals[1 : 1 + d]],
                [float(x) for x in vals[1 + d :]],
            )
        ],
        "n long, s array<double>, g array<double>",
    )
    return txlog._rewrite(path, st, list(st.adds), one.coalesce(1))


def pca_outlier_scores(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    iters: int = 8,
) -> DataFrame:
    """Embedding outlier scoring for corpus curation: reduced-space
    Mahalanobis distance  m² = Σ_c p_c² / λ_c  over the top-``k``
    principal components — vectors far from the corpus mass along
    high-variance axes (mislabeled, corrupted, off-domain) score
    high and get reviewed or dropped before training. Returns
    (id, m2 ROUND(6)). One map-side pass like :func:`pca_project`;
    every input (p ROUND(6), λ ROUND(6)) sits on the shared grid so
    the score is cross-engine exact under its own ROUND(6)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    _, mu, cov = _gram(emb, vec_col)
    comps = _power_deflate(cov, k, iters)
    w = np.stack([r for _, r in comps])
    lam = np.array([l for l, _ in comps])
    if (lam <= 0).any():
        # rank-deficient corpus: a ROUND(6) Rayleigh quotient of 0
        # would divide the scores into inf/nan silently (and the SQL
        # oracle's x/0 behaves differently again) — fail loudly like
        # _power_deflate's zero-norm check
        raise ValueError(
            "pca_outlier_scores: eigenvalue <= 0 (rank-deficient "
            f"corpus for k={k}); reduce k"
        )

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            p = _round_half_up_np((mat - mu) @ w.T, 6)
            m2 = (p * p / lam).sum(axis=1)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "m2": _round_half_up_np(m2, 6),
                }
            )

    src = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    return src.mapInPandas(_score, schema="_id long, m2 double").withColumnRenamed(
        "_id", id_col
    )


def top_correlations(
    emb: DataFrame,
    vec_col: str = "embedding",
    top: int = 20,
) -> DataFrame:
    """Embedding-dimension correlation profile: the ``top`` pairs by
    |Pearson r| over the corpus — the profiling face of the Gram
    front (redundant/co-varying dimensions are candidates for
    PCA-reduction or pruning before similarity work). One corpus
    pass (:func:`_gram`); r_ij = c_ij/√(c_ii·c_jj) from the ROUND(9)
    covariance, emitted as (dim_i < dim_j, r ROUND(6)); ties broken
    by (dim_i, dim_j). Raises on zero-variance dimensions — a
    constant dimension has no defined correlation and silently
    NULLing it would diverge from the oracle's x/0."""
    import numpy as np

    _, _, cov = _gram(emb, vec_col)
    d = cov.shape[0]
    var = np.diag(cov)
    if (var <= 0).any():
        raise ValueError("top_correlations: zero-variance dimension")
    rows = []
    for i in range(d):
        for j in range(i + 1, d):
            r = _round_half_up(cov[i, j] / float(np.sqrt(var[i] * var[j])), 6)
            rows.append((i + 1, j + 1, r))
    rows.sort(key=lambda t: (-abs(t[2]), t[0], t[1]))
    spark = emb.sparkSession
    return spark.createDataFrame(
        rows[:top], "dim_i long, dim_j long, r double"
    )
