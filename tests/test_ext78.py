"""Pins for Kendall's tau-b (queries/stats.py)."""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_SMALL


def _tau_b(xs, ys):
    nc = nd = tx = ty = 0
    n = len(xs)
    for i in range(n):
        for j in range(i + 1, n):
            dx, dy = xs[i] - xs[j], ys[i] - ys[j]
            if dx * dy > 0:
                nc += 1
            elif dx * dy < 0:
                nd += 1
            elif dx == 0 and dy != 0:
                tx += 1
            elif dy == 0 and dx != 0:
                ty += 1
    return nc, nd, tx, ty, (nc - nd) / math.sqrt((nc + nd + tx) * (nc + nd + ty))


def test_tau_matches_pairwise_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_kendall_tau

    monthly: defaultdict = defaultdict(lambda: [0, 0.0])
    for r in (
        _t(spark, SF_SMALL, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    ):
        ym = r.o_orderdate.year * 12 + r.o_orderdate.month
        monthly[ym][0] += 1
        monthly[ym][1] += r.o_totalprice
    yms = sorted(monthly)
    xs = [monthly[m][0] for m in yms]
    ys = [round(monthly[m][1], 2) for m in yms]
    nc, nd, tx, ty, tau = _tau_b(xs, ys)
    r = stats_kendall_tau(spark, SF_SMALL).collect()[0]
    assert (r.nc, r.nd, r.tx, r.ty) == (nc, nd, tx, ty)
    assert r.n_pairs == len(yms) * (len(yms) - 1) // 2
    assert abs(r.tau_b - round(tau, 6)) < 1e-9
    # mechanically coupled series: strong positive association
    assert r.tau_b > 0.5


def test_tau_axioms_and_tie_correction():
    xs = [1, 2, 3, 4, 5, 6]
    assert _tau_b(xs, xs)[4] == 1.0
    assert _tau_b(xs, [-v for v in xs])[4] == -1.0
    # without ties, tau-b reduces to plain tau (nc-nd)/C(n,2)
    ys = [2, 1, 4, 3, 6, 5]
    nc, nd, tx, ty, tau = _tau_b(xs, ys)
    assert tx == ty == 0
    assert abs(tau - (nc - nd) / 15) < 1e-12
    # ties shrink the denominator, never flip the sign
    yt = [1, 1, 2, 2, 3, 3]
    _, _, _, tyt, taut = _tau_b(xs, yt)
    assert tyt > 0 and taut > 0
