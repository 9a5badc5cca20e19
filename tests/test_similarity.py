"""Similarity-search tests: brute-force correctness vs numpy ground
truth, IVF recall vs the brute-force baseline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stockify_spark.llm.similarity import (
    cosine_topk,
    embedding_dup_pairs,
    fit_centroids,
    ivf_assign,
    ivf_topk,
)
from stockify_spark.sources.io import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def _numpy_topk(vecs: dict[int, np.ndarray], qid: int, k: int) -> list[int]:
    q = vecs[qid]
    sims = {
        i: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        for i, v in vecs.items()
        if i != qid
    }
    return [i for i, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def test_brute_force_matches_numpy(emb):
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    for qid in range(3):
        got = [r["neighbor_id"] for r in sorted(
            (r for r in out if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert got == _numpy_topk(vecs, qid, 5), f"query {qid}"


def test_dup_pairs_symmetric_threshold(emb):
    pairs = embedding_dup_pairs(emb, threshold=0.4).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_ivf_recall_against_brute_force(emb):
    cents = fit_centroids(emb, n_centroids=8, sample_limit=500, seed=42)
    corpus = ivf_assign(emb, cents).cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = ivf_topk(corpus, queries, cents, k=5, n_probe=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # probing 4/8 cells


def test_ivf_assign_is_total_partition(emb):
    cents = fit_centroids(emb, n_centroids=8, sample_limit=500)
    assigned = ivf_assign(emb, cents)
    assert assigned.filter(F.col("cell").isNull()).count() == 0
    assert assigned.count() == emb.count()


def test_bucketed_dup_pairs_subset_of_exact_with_recall_floor(spark):
    """The bucketed IVF near-dup path must emit NO false positives
    (every emitted pair passes the exact threshold) and keep recall
    above a floor even on the isotropic fixture — the worst case for
    any bucketing scheme (clustered corpora do far better)."""
    from stockify_spark.llm.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_bucketed,
    )
    from stockify_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs(emb, threshold=0.4).collect()}
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs_bucketed(
            emb, threshold=0.4, n_centroids=16, n_probe=3
        ).collect()
    }
    assert bucketed <= exact  # exact verify ⇒ no false positives
    assert exact  # fixture has qualifying pairs
    assert len(bucketed) / len(exact) >= 0.7  # measured 0.76 on isotropic data


def test_fit_centroids_unbiased_on_cluster_sorted_corpus(spark):
    """A corpus physically sorted by cluster must still yield centroids
    covering every cluster. A head-of-table sample (``limit``) sees
    only the first cluster and collapses all centroids onto it — the
    seeded random top-n sample must not."""
    rng = np.random.RandomState(3)
    rows = []
    for cluster, offset in enumerate((-10.0, 10.0)):
        for i in range(500):
            v = rng.normal(scale=0.5, size=8) + offset
            rows.append((cluster * 500 + i, [float(x) for x in v]))
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .orderBy("vec_id")  # cluster 0 fills the leading partitions
        .coalesce(4)
    )
    cents = fit_centroids(df, n_centroids=2, sample_limit=100, seed=42)
    # one centroid near each cluster mean
    for offset in (-10.0, 10.0):
        dists = np.linalg.norm(cents - offset, axis=1)
        assert dists.min() < 2.0, f"no centroid near cluster at {offset}: {cents.mean(axis=1)}"


def test_quantized_topk_recall_vs_float(emb):
    """int8 quantized ranking must closely track float cosine ranking
    — recall@5 pinned on the fixture (isotropic, so this is a hard
    case: neighbors are separated by small margins)."""
    from stockify_spark.llm.similarity import quantized_topk_batched

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5).collect()
    quant = quantized_topk_batched(emb, queries, k=5).collect()
    exact_sets, quant_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in quant:
        quant_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & quant_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.7


def test_lsh_topk_recovers_planted_near_duplicates(spark):
    """Vectors with a tiny-noise twin must find that twin as their
    top-1 via LSH buckets (near-identical vectors agree on almost
    every hyperplane sign, so they collide in ~every table)."""
    import numpy as np

    from stockify_spark.llm.similarity import lsh_topk

    rng = np.random.RandomState(7)
    base = rng.normal(size=(20, 32))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((100 + i, [float(x) for x in v + rng.normal(scale=0.01, size=32)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_topk(df, df.filter("vec_id < 20"), k=1)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    hits = sum(1 for q, n in top1.items() if n == q + 100)
    assert hits >= 18  # >= 90% of twins recovered at rank 1


def test_batched_topk_matches_hof_form(emb):
    """cosine_topk_batched is a physical rewrite of cosine_topk
    (Arrow matmul + per-batch partial top-k vs interpreted HOF per
    pair) — the result sets must be identical, ranks included."""
    from stockify_spark.llm.similarity import cosine_topk_batched

    queries = emb.filter(F.col("vec_id") < 5)
    hof = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in cosine_topk(emb, queries, k=5).collect()}
    batched = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in cosine_topk_batched(emb, queries, k=5).collect()}
    assert hof == batched


def test_seeded_ivf_topk_recall_and_determinism(emb):
    """seeded_ivf_topk (data-seeded centroids, deterministic spec)
    must be stable across runs and recover a useful fraction of the
    exact neighbors probing 4/16 cells."""
    from stockify_spark.llm.similarity import seeded_ivf_topk

    queries = emb.filter(F.col("vec_id") < 10)
    a = seeded_ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    b = seeded_ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    exact_sets, approx_sets = {}, {}
    for r in cosine_topk(emb, queries, k=5).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in a:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.4  # isotropic fixture, 4/16 cells


def test_seeded_lsh_topk_deterministic_and_subset_of_corpus(emb):
    """seeded_lsh_topk (data-seeded hyperplanes) must be stable
    across runs; every neighbor must come from a shared (table,
    bucket) — verified indirectly via determinism plus rank ordering
    (exact cosine descending per query)."""
    from stockify_spark.llm.similarity import seeded_lsh_topk

    queries = emb.filter(F.col("vec_id") < 5)
    a = seeded_lsh_topk(emb, queries, k=5).collect()
    b = seeded_lsh_topk(emb, queries, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    ranks = {}
    for r in a:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)), q


def test_seeded_ann_guards_query_set_scale(emb, monkeypatch):
    """r8 verdict #5: the seeded variants collect the query set to
    the driver — a corpus-scale query set must raise loudly (pointing
    at the equi-join forms) instead of attempting an unbounded
    collect."""
    import pytest

    from stockify_spark.llm import similarity

    monkeypatch.setattr(similarity, "SEEDED_QUERY_LIMIT", 3)
    queries = emb.limit(10)
    with pytest.raises(ValueError, match="SEEDED_QUERY_LIMIT"):
        similarity.seeded_ivf_topk(emb, queries, k=2)
    with pytest.raises(ValueError, match="SEEDED_QUERY_LIMIT"):
        similarity.seeded_lsh_topk(emb, queries, k=2)
