"""Pins for rank-biased overlap (queries/stats.py)."""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMALL

_P, _DEPTH = 0.9, 20


def _rbo_curve(list_a, list_b, depth=_DEPTH, p=_P):
    out = []
    acc = 0.0
    for d in range(1, depth + 1):
        ov = len(set(list_a[:d]) & set(list_b[:d]))
        acc += p ** (d - 1) * ov / d
        out.append((d, ov, ov / d, (1 - p) * acc))
    return out


def test_rbo_matches_reimplementation(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_rbo

    s = defaultdict(lambda: [0.0, 0])
    for r in (
        _t(spark, SF_SMALL, "lineitem")
        .select("l_partkey", "l_extendedprice", "l_quantity")
        .collect()
    ):
        s[r.l_partkey][0] += r.l_extendedprice
        s[r.l_partkey][1] += r.l_quantity
    by_rev = sorted(s, key=lambda k: (-round(s[k][0], 2), k))[:_DEPTH]
    by_qty = sorted(s, key=lambda k: (-s[k][1], k))[:_DEPTH]
    want = _rbo_curve(by_rev, by_qty)
    rows = sorted(stats_rbo(spark, SF_SMALL).collect(), key=lambda r: r.depth)
    assert len(rows) == _DEPTH
    for r, (d, ov, ag, rbo) in zip(rows, want):
        assert (r.depth, r.overlap) == (d, ov)
        assert abs(r.agreement - round(ag, 6)) < 1e-9
        assert abs(r.rbo_at_depth - round(rbo, 7)) < 1e-6
    # rbo is monotone nondecreasing in depth by construction
    vals = [r.rbo_at_depth for r in rows]
    assert vals == sorted(vals)


def test_rbo_axioms_and_top_weighting():
    a = list(range(20))
    same = _rbo_curve(a, a)
    assert all(ag == 1.0 for _, _, ag, _ in same)
    # the identical-lists ceiling at depth k is (1-p) sum p^(d-1)
    ceiling = (1 - _P) * sum(_P ** (d - 1) for d in range(1, 21))
    assert abs(same[-1][3] - ceiling) < 1e-12
    disjoint = _rbo_curve(a, [x + 100 for x in a])
    assert disjoint[-1][3] == 0.0
    # swapping ranks 1-2 hurts more than swapping ranks 19-20
    swap_top = a.copy()
    swap_top[0], swap_top[1] = swap_top[1], swap_top[0]
    swap_tail = a.copy()
    swap_tail[18], swap_tail[19] = swap_tail[19], swap_tail[18]
    assert _rbo_curve(a, swap_top)[-1][3] < _rbo_curve(a, swap_tail)[-1][3]
