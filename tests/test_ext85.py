"""Pins for the degree census + reciprocity (queries/graph.py)."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_SMALL

from tests.test_ext55 import _graph  # undirected adjacency (same thinning)


def _directed_edges(spark):
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
        a, b = min(s, d), max(s, d)
        if int(hashlib.md5(f"{a}:{b}".encode()).hexdigest()[:8], 16) % 100 < 8:
            E.add((s, d))
    return E


def test_census_conserves_edges_and_matches_recount(spark):
    from stockify_spark.queries.graph import graph_degree_census

    E = _directed_edges(spark)
    outd = Counter(s for s, _ in E)
    ind = Counter(d for _, d in E)
    oh = Counter(outd.values())
    ih = Counter(ind.values())
    recip = sum(1 for s, d in E if (d, s) in E) / len(E)
    rows = graph_degree_census(spark, SF_SMALL).collect()
    got_o = {r.degree: r.n_out for r in rows if r.n_out}
    got_i = {r.degree: r.n_in for r in rows if r.n_in}
    assert got_o == dict(oh)
    assert got_i == dict(ih)
    # conservation: both degree masses equal |E|
    assert sum(d * n for d, n in got_o.items()) == len(E)
    assert sum(d * n for d, n in got_i.items()) == len(E)
    for r in rows:
        assert abs(r.reciprocity - round(recip, 6)) < 1e-9


def test_reciprocity_reflects_the_symmetric_coin(spark):
    """The thinning coin hashes the UNORDERED pair, so whenever the
    data contains both directions of a pair, both survive or neither
    — reciprocity therefore equals the share of edges whose mirror
    exists in the RAW data, a structural (not incidental) quantity,
    and the directed graph is measurably non-symmetric."""
    E = _directed_edges(spark)
    recip = sum(1 for s, d in E if (d, s) in E) / len(E)
    assert 0.0 <= recip < 1.0
    # the undirected view (test_ext55 fixture) has every edge; the
    # directed one only reciprocates where the raw data did
    und = _graph(spark)
    und_edges = sum(len(v) for v in und.values())  # both directions
    assert len(E) <= und_edges
