"""Pins for the KMV sketch set operations (queries/aggregates.py)."""

from __future__ import annotations

import hashlib

from tests.conftest import SF_SMALL

_K = 64


def _region_part_sets(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t

    rows = (
        _t(spark, SF_SMALL, "lineitem")
        .join(_t(spark, SF_SMALL, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, SF_SMALL, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(_t(spark, SF_SMALL, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(_t(spark, SF_SMALL, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("region"), F.col("l_partkey").alias("part"))
        .distinct()
        .collect()
    )
    sets: dict = {}
    for r in rows:
        sets.setdefault(r.region, set()).add(r.part)
    return sets


def _hv(part: int) -> int:
    return int(hashlib.md5(str(part).encode()).hexdigest()[:8], 16)


def test_sketch_estimates_match_reimplementation_and_track_truth(spark):
    from stockify_spark.queries.aggregates import agg_kmv_sketch

    sets = _region_part_sets(spark)
    sketches = {
        r: sorted(_hv(p) for p in parts)[:_K] for r, parts in sets.items()
    }
    rows = {
        (r.region_a, r.region_b): r
        for r in agg_kmv_sketch(spark, SF_SMALL).collect()
    }
    regions = sorted(sets)
    assert len(rows) == len(regions) * (len(regions) - 1) // 2
    for i, a in enumerate(regions):
        for b in regions[i + 1 :]:
            r = rows[(a, b)]
            uk = sorted(set(sketches[a]) | set(sketches[b]))[:_K]
            theta = uk[-1]
            sa, sb = set(sketches[a]), set(sketches[b])
            n_both = sum(1 for h in uk if h in sa and h in sb)
            est_u = (_K - 1) * 4294967296.0 / theta
            est_j = n_both / _K
            assert abs(r.est_union - round(est_u, 6)) < 1e-4
            assert abs(r.est_jaccard - round(est_j, 6)) < 1e-9
            assert abs(r.est_intersection - round(est_j * est_u, 6)) < 1e-3
            # the estimates must track the exact sets within the
            # KMV error band (~1/sqrt(K) relative, ~4 sigma slack)
            true_u = len(sets[a] | sets[b])
            true_j = len(sets[a] & sets[b]) / true_u
            assert abs(r.est_union - true_u) < 0.5 * true_u
            assert abs(r.est_jaccard - true_j) < 0.5


def test_union_sketch_identity():
    """The K smallest of A u B are derivable from the two K-sketches
    alone — the mergeability that makes KMV a distributed sketch."""
    import random

    rng = random.Random(5)
    A = {rng.randrange(10**9) for _ in range(5000)}
    B = {rng.randrange(10**9) for _ in range(5000)}
    ha = sorted(_hv(x) for x in A)
    hb = sorted(_hv(x) for x in B)
    from_sketches = sorted(set(ha[:_K]) | set(hb[:_K]))[:_K]
    from_truth = sorted({_hv(x) for x in A | B})[:_K]
    assert from_sketches == from_truth
