"""Pins for ray-casting point-in-polygon (queries/events.py)."""

from __future__ import annotations

from tests.conftest import SF_SMALL

from stockify_spark.queries.events import _EDGES, _POLY


def _inside(x: float, y: float) -> bool:
    c = 0
    for x1, y1, x2, y2 in _EDGES:
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            c += 1
    return c % 2 == 1


def test_census_matches_per_point_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.events import geo_point_in_polygon

    cust = (
        _t(spark, SF_SMALL, "customer")
        .select("c_custkey", "c_nationkey")
        .collect()
    )
    want: dict = {}
    for r in cust:
        x = ((r.c_custkey * 104729) % 36000) / 100.0 - 180.0
        y = ((r.c_custkey * 7919) % 18000) / 100.0 - 90.0
        n, i = want.get(r.c_nationkey, (0, 0))
        want[r.c_nationkey] = (n + 1, i + _inside(x, y))
    rows = {r.nationkey: r for r in geo_point_in_polygon(spark, SF_SMALL).collect()}
    assert set(rows) == set(want)
    total_inside = 0
    for k, (n, i) in want.items():
        assert (rows[k].n_customers, rows[k].n_inside) == (n, i)
        total_inside += i
    # the fence covers ~9% of the coordinate plane; the census must
    # neither be empty nor degenerate
    n_all = sum(n for n, _ in want.values())
    assert 0 < total_inside < n_all


def test_ray_cast_agrees_with_convex_half_plane_test():
    """The hexagon is convex, so inside == on the inner side of all
    six edges (cross-product sign test) — an independent geometric
    definition the even-odd rule must reproduce, checked on a grid,
    plus hand probes at the centroid and far corners."""
    def convex_inside(x, y):
        signs = []
        for x1, y1, x2, y2 in _EDGES:
            signs.append((x2 - x1) * (y - y1) - (y2 - y1) * (x - x1))
        return all(s > 0 for s in signs) or all(s < 0 for s in signs)

    for xi in range(-90, 91, 7):
        for yi in range(-70, 71, 7):
            x, y = float(xi) + 0.5, float(yi) + 0.5  # off lattice/edges
            assert _inside(x, y) == convex_inside(x, y), (x, y)
    cx = sum(p[0] for p in _POLY) / len(_POLY)
    cy = sum(p[1] for p in _POLY) / len(_POLY)
    assert _inside(cx, cy)
    assert not _inside(-179.5, 89.5)
