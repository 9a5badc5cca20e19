"""Property pins for URL canonicalization dedup, burstiness, graph
Jaccard, Kaplan-Meier and the mean family (queries: aggregates, events,
graph, orders, pipeline)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_url_dedup_collapses_every_variant_axis(spark):
    """The 4000-URL corpus has exactly 5*29 (host,path) pages with
    an (a,b) param pair determined by i mod 11 and i mod 7 — the
    canonical count equals the number of distinct residue tuples,
    and every canonical is www-free, lowercase, portless,
    fragment-free, utm-free, and param-sorted."""
    from stockify_spark.queries.pipeline import pipeline_url_dedup

    rows = pipeline_url_dedup(spark, SF_SMALL).collect()
    truth = len({(i % 5, i % 29, i % 11, i % 7) for i in range(4000)})
    assert len(rows) == truth
    assert sum(r.n_variants for r in rows) == 4000
    for r in rows:
        c = r.canonical
        assert c.startswith("https://host")
        assert "WWW" not in c and "www." not in c
        assert ":443" not in c and "#" not in c and "utm_" not in c
        q = c.split("?", 1)[1]
        parts = q.split("&")
        assert parts == sorted(parts) and len(parts) == 2
        # at least one raw variant differs from the canonical form
        assert r.n_distinct_raw >= 1


def test_burstiness_nonnegative_and_ordered(spark):
    from stockify_spark.queries.events import events_burstiness

    rows = events_burstiness(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 50
    fanos = [r.fano for r in rows]
    assert fanos == sorted(fanos, reverse=True)
    assert all(f >= 0 for f in fanos)
    assert all(r.n_hours >= 24 for r in rows)


def test_graph_jaccard_matches_triangle_support(spark):
    """An edge's common-neighbor count is its triangle support:
    sum(n_common) over edges == 3 * number of triangles (each
    triangle contributes one common neighbor to each of its three
    edges). Cross-check against graph_triangles on the same
    fixture; jaccard bounded in [0, 1)."""
    from stockify_spark.queries.stats import stats_anova  # noqa: F401  (import check)
    from stockify_spark.queries.graph import graph_jaccard
    from stockify_spark.queries.graph import graph_triangles

    jrows = graph_jaccard(spark, SF_SMALL).collect()
    tri = graph_triangles(spark, SF_SMALL).count()
    assert sum(r.n_common for r in jrows) == 3 * tri
    assert all(0.0 <= r.jaccard < 1.0 for r in jrows)
    assert all(r.a < r.b for r in jrows)


def test_km_curve_monotone_from_one(spark):
    """S is strictly decreasing over the emitted jump points,
    starts below 1 (first jump) and stays positive (d < n rows
    only); at-risk counts are non-increasing in t."""
    from stockify_spark.queries.orders import orders_survival_km

    rows = orders_survival_km(spark, SF_SMALL).collect()
    assert len(rows) > 10
    s = [r.survival for r in rows]
    assert all(0.0 < x < 1.0 for x in s)
    assert all(a > b for a, b in zip(s, s[1:]))
    n = [r.n_at_risk for r in rows]
    assert all(a >= b for a, b in zip(n, n[1:]))
    assert all(0 < r.d_events < r.n_at_risk for r in rows)


def test_power_mean_inequality(spark):
    """harmonic <= geometric <= arithmetic <= quadratic per group
    (strict on non-constant data), the defining property of the
    family."""
    from stockify_spark.queries.aggregates import agg_mean_family

    rows = agg_mean_family(spark, SF_SMALL).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.mean_harm < r.mean_geom < r.mean_arith < r.mean_quad
