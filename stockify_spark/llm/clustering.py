"""Distributed Lloyd's k-means (seeded, fixed iterations).

The ML primitive behind IVF index builds, embedding-space corpus
curation, and semantic dedup bucketing. Public algorithm (Lloyd 1982);
the reference engine has no clustering surface — this extends the
LLM-pipeline coverage (SURVEY §2) next to llm/similarity.py, whose
seeded-centroid convention (first-k vectors by id) it reuses.

Spark-first shape: ASSIGNMENT is pure map-side — the k·d centroid
model travels in the expression closure (like similarity.py's seeded
IVF model), each row computes its k distances with the
dimension-sequential fold and picks the argmin via ``array_min`` over
(dist, cluster) structs, so no shuffle and no UDF. The UPDATE step
shuffles only (cluster, dim) partial means — k·d keys regardless of
corpus size — and the new model is a bounded k·d collect (model
state, not data). Centroid means are ROUND()ed to 6dp at every
iteration boundary: that is the documented float policy that keeps
both engines' models bit-identical, which in turn keeps the
sequential distance folds bit-identical (matching DuckDB's
``list_distance`` loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stockify_spark.functions.scale import materialize


def _score_pick(mat, cmat):
    """Dimension-sequential squared-distance accumulation + first-
    minimum argmin over np.sqrt — the ONE scoring loop shared by the
    distributed assignment (:func:`_assign`) and the local fold in
    :func:`kmeans_assign`, so their tie-break and float-precision
    parity is structural rather than maintained as two copies."""
    import numpy as np

    dist = np.zeros((len(mat), len(cmat)))
    for d in range(cmat.shape[1]):
        diff = mat[:, d : d + 1] - cmat[None, :, d]
        dist += diff * diff
    return np.argmin(np.sqrt(dist), axis=1)


def _round6_half_up(x: float) -> float:
    """Exactly Spark's ``Round(double, 6)``: Java rounds the SHORTEST
    DECIMAL STRING of the double (BigDecimal.valueOf == new
    BigDecimal(Double.toString(d))) with HALF_UP — Python's repr() is
    the same shortest round-trip string, so Decimal(repr(x)) names the
    identical decimal. A binary-value trick (floor(|x|*1e6+0.5)) can
    disagree at values like 1.00000049999999998 whose shortest string
    is '1.0000005'."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _assign(
    e: DataFrame, cents: list[tuple[int, list[float]]], keep_vec: bool = False
) -> DataFrame:
    """Map-side argmin assignment against closure centroids.

    Arrow-batched numpy scoring with the DIMENSION-SEQUENTIAL
    accumulation of llm/similarity._seq_cosine: per element the
    squared-distance sum is the strict left-to-right float64 loop --
    bit-identical to the oracle's ``list_distance`` per-pair loop --
    while staying vectorized across rows. (Both alternatives were
    measured first: the ``aggregate``/``zip_with`` HOF fold pays
    per-element interpreted-lambda dispatch, and a flattened
    8x64-term column expression blows up Catalyst analysis --
    3.5 s / 20 s vs sub-second for this form at sf0.1.)

    np.argmin takes the FIRST minimum and ``cents`` is sorted by
    cluster id, so ties break to the lowest cluster -- exactly the
    oracle's ROW_NUMBER() ORDER BY dist, cluster. np.sqrt is applied
    (IEEE correctly rounded, same as the oracle's) so even last-ulp
    sqrt collisions tie-break identically.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.float64)

    fields = [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cluster", T.LongType(), False),
    ]
    if keep_vec:
        fields.append(T.StructField("v", T.ArrayType(T.DoubleType()), False))
    schema = T.StructType(fields)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            pick = _score_pick(mat, cmat)
            out = {"vec_id": pdf["vec_id"].to_numpy(), "cluster": cids[pick]}
            if keep_vec:
                out["v"] = pdf["v"]
            yield pd.DataFrame(out)

    return e.mapInPandas(score, schema=schema)


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    updates: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_rows_limit: int = 200_000,
) -> DataFrame:
    """Run ``updates`` Lloyd iterations from the first-``k``-by-id
    seeds and return the final (vec_id, cluster) assignment.

    Corpora under ``local_rows_limit`` rows run seeds + every update +
    the final assignment in ONE single-task pass (the iterative path
    spent one job floor per collect on a model-sized input); larger
    corpora take the distributed loop below, whose per-round shuffle
    carries only k·d partial means regardless of corpus size. The
    local pass reproduces the loop exactly: dimension-sequential
    float64 distance accumulation, first-minimum (lowest-cluster) ties,
    HALF-UP ROUND(mean, 6) at every iteration boundary, and empty
    clusters dropping out of the model (tests pin local/distributed
    hash parity; set ``local_rows_limit=0`` to force the loop).
    """
    # materialized: the gate count, the seed collect, every
    # mean-update pass, AND the lazily-returned final assignment all
    # read it
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    ).transform(materialize)
    n_rows = e.count()
    # the local pass holds the corpus matrix in ONE python worker, so
    # gate on elements (rows x dim), not rows alone — 16M float64
    # elements ~= 128 MB; a 199k-row corpus of 2048-dim vectors must
    # take the distributed loop no matter what the row gate says
    first = e.select(F.size("v").alias("d")).first()
    dim = int(first["d"]) if first is not None else 0
    if n_rows == 0:
        # empty corpus: raise the domain error DRIVER-side (the local
        # fold's executor-side raise would surface as a wrapped
        # PythonException at collect time, the distributed branch's
        # seed collect as this same ValueError — unify on the latter)
        raise ValueError(f"kmeans_assign: no seed vectors with {k} > id")
    if n_rows <= local_rows_limit and n_rows * dim <= 16_000_000:
        n_k, n_up = k, updates

        def _solve(batches):
            import numpy as np
            import pandas as pd

            # zero Arrow batches on an empty partition — concat first;
            # an empty corpus has no seeds, same contract as below
            parts = list(batches)
            if not parts:
                raise ValueError(
                    f"kmeans_assign: no seed vectors with {n_k} > id"
                )
            pdf = pd.concat(parts, ignore_index=True)
            seeds_pdf = pdf[pdf["vec_id"] < n_k].sort_values("vec_id")
            if len(seeds_pdf) == 0:
                # same contract as the distributed branch below
                raise ValueError(
                    f"kmeans_assign: no seed vectors with {n_k} > id"
                )
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            cids = seeds_pdf["vec_id"].to_numpy().astype(np.int64)
            cmat = np.stack(seeds_pdf["v"].to_numpy()).astype(np.float64)

            for _ in range(n_up):
                pick = _score_pick(mat, cmat)
                live = np.unique(pick)  # empty clusters drop out
                sums = np.zeros((len(live), cmat.shape[1]))
                np.add.at(sums, np.searchsorted(live, pick), mat)
                counts = np.bincount(
                    np.searchsorted(live, pick), minlength=len(live)
                )
                means = sums / counts[:, None]
                # exactly F.round(.., 6): HALF_UP on the shortest
                # decimal string (see _round6_half_up) — k*d scalars
                cmat = np.array(
                    [[_round6_half_up(v) for v in row] for row in means]
                )
                cids = cids[live]
            pick = _score_pick(mat, cmat)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().astype(np.int64),
                    "cluster": cids[pick],
                }
            )

        return e.coalesce(1).mapInPandas(
            _solve, schema="vec_id long, cluster long"
        )
    seeds = (
        e.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cluster"), "v")
        .collect()
    )  # bounded: k rows of model state
    if not seeds:
        raise ValueError(f"kmeans_assign: no seed vectors with {k} > id")
    cents = sorted((int(r["cluster"]), list(r["v"])) for r in seeds)
    d = len(cents[0][1])
    for _ in range(updates):
        # mean update: d avg-aggregates in ONE groupBy on cluster —
        # partial (map-side) aggregation ships k*d partials per
        # partition, vs the posexplode alternative that shuffles
        # n*d exploded rows. keep_vec avoids re-joining the corpus.
        a = _assign(e, cents, keep_vec=True)
        means = (
            a.groupBy("cluster")
            .agg(
                *[
                    F.round(F.avg(F.col("v")[i]), 6).alias(f"m{i}")
                    for i in range(d)
                ]
            )
            .collect()
        )  # bounded: k rows of model state
        cents = [
            (int(r["cluster"]), [float(r[f"m{i}"]) for i in range(d)])
            for r in sorted(means, key=lambda r: r["cluster"])
        ]
    return _assign(e, cents)
