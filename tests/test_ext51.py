"""Pins for HITS hubs/authorities (queries/graph.py)."""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def _edges(spark):
    from stockify_spark.queries.graph import graph_hits  # noqa: F401
    import hashlib

    from stockify_spark.registry import _t

    li = (
        _t(spark, SF_SMALL, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    E = set()
    for r in li:
        s, d = r.l_orderkey % 400, r.l_partkey % 400
        if s == d:
            continue
        key = f"{min(s, d)}:{max(s, d)}".encode()
        if int(hashlib.md5(key).hexdigest()[:8], 16) % 100 < 8:
            E.add((s, d))
    return E


def test_hits_matches_numpy_power_iteration(spark):
    from stockify_spark.queries.graph import graph_hits

    E = _edges(spark)
    nodes = sorted({s for s, _ in E} | {d for _, d in E})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in E:
        A[idx[s], idx[d]] = 1.0
    a = np.ones(len(nodes))
    h = None
    for _ in range(3):
        h = np.round(A @ a, 6)
        h = np.round(h / round(float(np.sum(h)), 6), 9)
        a = np.round(A.T @ h, 6)
        a = np.round(a / round(float(np.sum(a)), 6), 9)
    rows = {r.node: r for r in graph_hits(spark, SF_SMALL).collect()}
    assert set(rows) == set(nodes)
    # tolerance 1e-6, not ulp: numpy's pairwise-summed dot can round
    # a 6dp fence the opposite way from the engines' sequential sums;
    # cross-engine exactness is the oracle gate's pin, this test pins
    # the algorithm
    for n in nodes:
        assert abs(rows[n].hub - h[idx[n]]) < 1e-6, n
        assert abs(rows[n].authority - a[idx[n]]) < 1e-6, n


def test_hits_separates_roles(spark):
    """Pure sources (out-edges only) must carry hub mass and zero
    authority; pure sinks the reverse — the two-score structure
    PageRank collapses."""
    from stockify_spark.queries.graph import graph_hits

    E = _edges(spark)
    srcs = {s for s, _ in E}
    dsts = {d for _, d in E}
    rows = {r.node: r for r in graph_hits(spark, SF_SMALL).collect()}
    pure_src = [n for n in srcs - dsts]
    pure_dst = [n for n in dsts - srcs]
    for n in pure_src:
        assert rows[n].authority == 0.0
    for n in pure_dst:
        assert rows[n].hub == 0.0
    # and the scores are genuine distributions
    assert abs(sum(r.hub for r in rows.values()) - 1.0) < 1e-6
    assert abs(sum(r.authority for r in rows.values()) - 1.0) < 1e-6
