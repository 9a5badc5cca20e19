"""Pins for ABC/XYZ classification (queries/orders.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_SMALL


def test_matrix_matches_pandas_recomputation(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.orders import orders_abc_xyz

    rows = (
        _t(spark, SF_SMALL, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        )
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("q"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
        .collect()
    )
    months = len({r.ym for r in rows})
    agg: dict = defaultdict(lambda: [0.0, 0.0, 0.0])  # rev, sq, sqq
    for r in rows:
        a = agg[r.part]
        a[0] += r.rev
        a[1] += r.q
        a[2] += r.q * r.q
    parts = sorted(
        agg, key=lambda p: (-round(agg[p][0], 2), p)
    )
    trev = round(sum(round(a[0], 2) for a in agg.values()), 2)
    cells: dict = defaultdict(int)
    crev = 0.0
    for p in parts:
        rev, sq, sqq = agg[p]
        crev = round(crev + round(rev, 2), 2)
        abc = "A" if crev <= 0.8 * trev else ("B" if crev <= 0.95 * trev else "C")
        mu = round(sq, 6) / months
        var = max(round(sqq, 6) / months - mu * mu, 0.0)
        cv = round(math.sqrt(var) / mu, 6)
        xyz = "X" if cv < 0.5 else ("Y" if cv < 1.0 else "Z")
        cells[(abc, xyz)] += 1
    got = {
        (r.abc, r.xyz): r.n_parts for r in orders_abc_xyz(spark, SF_SMALL).collect()
    }
    assert got == dict(cells)
    assert sum(got.values()) == len(agg)


def test_cv_bands_classify_constructed_series():
    """Steady demand is X, on/off intermittent demand is Z — with
    zero-filled calendar months, not active-month averaging (the
    zero-inclusion is the contract)."""

    def cv(series):
        n = len(series)
        mu = sum(series) / n
        var = sum(v * v for v in series) / n - mu * mu
        return math.sqrt(max(var, 0.0)) / mu

    steady = [100.0] * 11 + [110.0]
    assert cv(steady) < 0.5
    # sells one month in four: classic intermittent demand
    intermittent = [120.0 if i % 4 == 0 else 0.0 for i in range(12)]
    assert cv(intermittent) >= 1.0
    # dropping the zero months (the WRONG averaging) would hide it
    active_only = [v for v in intermittent if v > 0]
    assert cv(active_only) < 0.5
