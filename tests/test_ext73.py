"""Pins for Allen's interval algebra (queries/joins.py)."""

from __future__ import annotations

from datetime import timedelta
from collections import Counter

from tests.conftest import SF_SMALL


def _classify(a1, a2, b1, b2) -> str:
    if a2 < b1:
        return "before"
    if b2 < a1:
        return "after"
    if a2 == b1 and a1 < b1 and b2 > b1:
        return "meets"
    if b2 == a1 and b1 < a1 and a2 > a1:
        return "met_by"
    if a1 == b1 and a2 == b2:
        return "equals"
    if a1 == b1 and a2 < b2:
        return "starts"
    if a1 == b1 and a2 > b2:
        return "started_by"
    if a2 == b2 and a1 > b1:
        return "finishes"
    if a2 == b2 and a1 < b1:
        return "finished_by"
    if a1 > b1 and a2 < b2:
        return "during"
    if a1 < b1 and a2 > b2:
        return "contains"
    if a1 < b1 and b1 <= a2 < b2:
        return "overlaps"
    return "overlapped_by"


def test_census_matches_per_pair_classifier(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.joins import join_allen_relations

    li = _t(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = _t(spark, SF_SMALL, "orders").select("o_orderkey", "o_orderdate")
    pairs = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).collect()
    want: Counter = Counter()
    for r in pairs:
        a1 = r.o_orderdate
        a2 = a1 + timedelta(days=r.l_orderkey % 60)
        b1 = r.l_shipdate
        b2 = b1 + timedelta(days=r.l_linenumber * 7)
        want[_classify(a1, a2, b1, b2)] += 1
    got = {r.relation: r.n for r in join_allen_relations(spark, SF_SMALL).collect()}
    assert got == dict(want)
    assert sum(got.values()) == len(pairs)  # exactly-once classification


def test_thirteen_relations_are_exhaustive_and_exclusive():
    """Sweep every ordering of four small integer endpoints (valid
    intervals a1<=a2, b1<=b2): each pair must classify exactly once,
    every one of the 13 labels must be reachable, and the inverse
    pairs must mirror (classify(B,A) is the inverse label)."""
    inverse = {
        "before": "after", "after": "before", "meets": "met_by",
        "met_by": "meets", "starts": "started_by",
        "started_by": "starts", "finishes": "finished_by",
        "finished_by": "finishes", "during": "contains",
        "contains": "during", "overlaps": "overlapped_by",
        "overlapped_by": "overlaps", "equals": "equals",
    }
    seen = set()
    R = range(5)
    for a1 in R:
        for a2 in range(a1, 5):
            for b1 in R:
                for b2 in range(b1, 5):
                    rel = _classify(a1, a2, b1, b2)
                    seen.add(rel)
                    assert inverse[_classify(b1, b2, a1, a2)] == rel, (
                        a1, a2, b1, b2, rel,
                    )
    assert seen == set(inverse)
