"""Pins for the Wald-Wolfowitz runs test (queries/stats.py)."""

from __future__ import annotations

import math
import random

from tests.conftest import SF_SMALL


def _runs_z(xs):
    srt = sorted(range(len(xs)), key=lambda i: (xs[i], i))
    median = xs[srt[(len(xs) + 1) // 2 - 1]]
    above = [1 if v > median else 0 for v in xs]
    n1, n2 = sum(above), len(above) - sum(above)
    r = 1 + sum(1 for a, b in zip(above, above[1:]) if a != b)
    n = n1 + n2
    mu = 2.0 * n1 * n2 / n + 1
    var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1))
    return n1, n2, r, (r - mu) / math.sqrt(var)


def test_runs_match_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_runs_test

    ev = (
        _t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    series: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        series.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in stats_runs_test(spark, SF_SMALL).collect()}
    for t, vals in series.items():
        n1, n2, runs, z = _runs_z(vals)
        r = rows[t]
        assert (r.n1, r.n2, r.r) == (n1, n2, runs)
        assert abs(r.z - round(z, 6)) < 1e-9


def test_both_failure_directions_and_the_null():
    rng = random.Random(23)
    vals = [float(i) for i in range(400)]
    _, _, _, z_sorted = _runs_z(vals)  # monotone: 2 runs, huge deficit
    assert z_sorted < -15
    alt = [float(i % 2) + 0.001 * i for i in range(400)]
    _, _, _, z_alt = _runs_z(alt)  # alternating: ~n runs, huge excess
    assert z_alt > 15
    shuffled = vals[:]
    rng.shuffle(shuffled)
    _, _, _, z_rand = _runs_z(shuffled)
    assert abs(z_rand) < 3.5  # randomness stays in the normal band
