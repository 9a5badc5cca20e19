"""Pins for exact MIPS via the cosine reduction (queries/similarity.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _load(spark):
    from stockify_spark.registry import _t

    rows = (
        _t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding").collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def test_augmented_ranking_equals_direct_ip_ranking(spark):
    """The reduction's whole claim: top-5 through the augmented
    cosine must be exactly the top-5 by raw inner product."""
    from stockify_spark.queries.similarity import sim_mips_topk

    ids, mat = _load(spark)
    got = {}
    for r in sim_mips_topk(spark, SF_SMALL).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.ip))
    for qid, rows in got.items():
        rows.sort()
        q = mat[ids == qid][0]
        ips = mat @ q
        order = sorted(
            (int(i) for i in ids if i != qid),
            key=lambda i: (-ips[ids == i][0], i),
        )[:5]
        assert [v for _, v, _ in rows] == order
        for _, v, ip in rows:
            assert abs(ip - round(float(ips[ids == v][0]), 6)) < 1e-6


def test_reduction_identity():
    """Every augmented corpus vector has norm exactly M, so
    ||q'-x'||^2 = ||q||^2 + M^2 - 2<q,x> — distance order is IP
    order. Checked numerically on random vectors."""
    rng = np.random.default_rng(7)
    x = rng.normal(size=(50, 16))
    q = rng.normal(size=16)
    m2 = max(float(v @ v) for v in x)
    xa = np.hstack([x, np.sqrt(m2 - (x * x).sum(axis=1, keepdims=True))])
    qa = np.hstack([q, [0.0]])
    norms = (xa * xa).sum(axis=1)
    assert np.allclose(norms, m2)
    d2 = ((qa - xa) ** 2).sum(axis=1)
    ip = x @ q
    assert np.allclose(d2, (q @ q) + m2 - 2 * ip)
    # distance ascending == inner product descending
    assert list(np.argsort(d2)) == list(np.argsort(-ip))
