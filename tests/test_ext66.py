"""Pins for price index numbers (queries/orders.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_SMALL


def _unit_values(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t

    rows = (
        _t(spark, SF_SMALL, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        )
        .agg(
            (F.round(F.sum("l_extendedprice"), 6) / F.sum("l_quantity")).alias(
                "p"
            ),
            F.round(F.sum("l_quantity"), 6).alias("q"),
        )
        .collect()
    )
    by_ym: dict = defaultdict(dict)
    for r in rows:
        by_ym[r.ym][r.part] = (r.p, r.q)
    return by_ym


def test_indexes_match_reimplementation_and_fisher_bounds(spark):
    from stockify_spark.queries.orders import orders_price_index

    by_ym = _unit_values(spark)
    ym0 = min(by_ym)
    base = by_ym[ym0]
    out = {r.ym: r for r in orders_price_index(spark, SF_SMALL).collect()}
    assert set(out) == {ym for ym in by_ym if ym > ym0}
    for ym, r in out.items():
        cur = by_ym[ym]
        common = sorted(set(cur) & set(base))
        assert r.n_parts == len(common)
        ptq0 = round(sum(cur[k][0] * base[k][1] for k in common), 6)
        p0q0 = round(sum(base[k][0] * base[k][1] for k in common), 6)
        ptqt = round(sum(cur[k][0] * cur[k][1] for k in common), 6)
        p0qt = round(sum(base[k][0] * cur[k][1] for k in common), 6)
        las, paa = ptq0 / p0q0, ptqt / p0qt
        assert abs(r.laspeyres - round(las, 6)) < 1e-4
        assert abs(r.paasche - round(paa, 6)) < 1e-4
        assert abs(r.fisher - round(math.sqrt(las * paa), 6)) < 1e-4
        # Fisher lies between its factors
        assert min(las, paa) - 1e-9 <= r.fisher <= max(las, paa) + 1e-9


def test_index_homogeneity_and_identity():
    """Constructed baskets: doubling every current price doubles L
    and P exactly (degree-1 homogeneity), and identical periods give
    index 1 — the axioms of index-number theory."""
    base = {"a": (2.0, 10.0), "b": (5.0, 4.0)}
    cur = {"a": (3.0, 8.0), "b": (4.0, 6.0)}

    def idx(c):
        las = sum(c[k][0] * base[k][1] for k in base) / sum(
            base[k][0] * base[k][1] for k in base
        )
        paa = sum(c[k][0] * c[k][1] for k in base) / sum(
            base[k][0] * c[k][1] for k in base
        )
        return las, paa

    l1, p1 = idx(cur)
    l2, p2 = idx({k: (2 * p, q) for k, (p, q) in cur.items()})
    assert abs(l2 - 2 * l1) < 1e-12 and abs(p2 - 2 * p1) < 1e-12
    li, pi = idx(base)
    assert li == pi == 1.0
