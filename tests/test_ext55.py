"""Pins for seeded random walks (queries/graph.py)."""

from __future__ import annotations

import hashlib
from collections import Counter

from tests.conftest import SF_SMALL


def _graph(spark):
    from stockify_spark.registry import _t

    li = (
        _t(spark, SF_SMALL, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    adj: dict = {}
    for r in li:
        x, y = r.l_orderkey % 400, r.l_partkey % 400
        if x == y:
            continue
        a, b = min(x, y), max(x, y)
        if int(hashlib.md5(f"{a}:{b}".encode()).hexdigest()[:8], 16) % 100 < 8:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    return {n: sorted(v) for n, v in adj.items()}


def test_walks_match_independent_reimplementation(spark):
    from stockify_spark.queries.graph import _STEPS, graph_random_walk

    adj = _graph(spark)
    rows = graph_random_walk(spark, SF_SMALL).collect()
    got: dict = {}
    for r in rows:
        got[(r.start, r.step)] = r.node
    assert len(rows) == len(adj) * (_STEPS + 1)
    for s in adj:
        node = s
        assert got[(s, 0)] == s
        for k in range(1, _STEPS + 1):
            nbrs = adj[node]
            h = int(
                hashlib.md5(f"{k}|{node}|{s}".encode()).hexdigest()[:8], 16
            ) % len(nbrs)
            node = nbrs[h]
            assert got[(s, k)] == node, (s, k)


def test_walk_steps_follow_edges_and_spread(spark):
    """Every consecutive pair must be a real edge, and the step-1
    choices must not collapse onto a few hubs (the seeded hash is a
    per-(step,node,start) draw, not a global one)."""
    from stockify_spark.queries.graph import graph_random_walk

    adj = _graph(spark)
    walks: dict = {}
    for r in graph_random_walk(spark, SF_SMALL).collect():
        walks.setdefault(r.start, {})[r.step] = r.node
    first_hops = Counter()
    for s, path in walks.items():
        for k in sorted(path)[1:]:
            assert path[k] in adj[path[k - 1]]
        first_hops[path[1]] += 1
    # spread: no single node absorbs more than 15% of first hops
    assert max(first_hops.values()) < 0.15 * len(walks)
