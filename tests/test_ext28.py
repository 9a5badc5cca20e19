"""Pins for the clustering-coefficient / mutual-information wave
(queries: graph, stats)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_clustering_coeff_against_networkx_style_bruteforce(spark):
    """Rebuild the residue graph driver-side and recompute C(v) by
    direct neighbor-set intersection; triangle totals must be
    consistent with graph_modularity's edge universe."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.graph import graph_clustering_coeff
    from stockify_spark.registry import _t
    from tests.test_ext15 import _r6

    rows = {r.vertex: r for r in graph_clustering_coeff(spark, SF_SMALL).collect()}
    li = _t(spark, SF_SMALL, "lineitem")
    ra = (F.col("l_orderkey") % 80).cast("long")
    rb = (F.col("l_partkey") % 80).cast("long")
    pairs = (
        li.filter(ra != rb)
        .select(F.least(ra, rb).alias("a"), F.greatest(ra, rb).alias("b"))
        .distinct()
    )
    coin = F.conv(
        F.substring(
            F.md5(F.concat(F.col("a").cast("string"), F.lit(":"), F.col("b").cast("string"))),
            1, 4,
        ),
        16, 10,
    ).cast("long")
    edges = [(r.a, r.b) for r in pairs.where(coin % 100 < 12).collect()]
    nbr: dict[int, set[int]] = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    assert set(rows) == set(nbr)
    for v, ns in nbr.items():
        d = len(ns)
        tri = sum(len(nbr[u] & ns) for u in ns) // 2
        assert rows[v].degree == d
        assert rows[v].n_triangles == tri, v
        if d < 2:
            assert rows[v].clustering_coeff is None
        else:
            assert rows[v].clustering_coeff == _r6(2 * tri / (d * (d - 1)))


def test_mutual_info_bounds(spark):
    """0 <= I(X;Y) <= min(H(X), H(Y)) <= H(X,Y); the contingency
    table spans at most 5 types x 24 hours."""
    import math

    from pyspark.sql import functions as F

    from stockify_spark.queries.stats import stats_mutual_info
    from stockify_spark.registry import _t

    r = stats_mutual_info(spark, SF_SMALL).collect()[0]
    assert 0 <= r.n_cells <= 120
    assert -1e-9 <= r.mutual_info
    assert r.mutual_info <= r.joint_entropy + 1e-9
    # independent-ish synthetic data: MI should be far below the
    # marginal entropy ceiling ln(5)
    assert r.mutual_info < math.log(5)
    # joint entropy can't exceed ln(n_cells)
    assert r.joint_entropy <= math.log(r.n_cells) + 1e-9
