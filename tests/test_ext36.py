"""Pins for the equi-depth histogram / seasonal anomaly wave
(queries: aggregates, events)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_equidepth_buckets_balanced_and_ordered(spark):
    from stockify_spark.queries.aggregates import agg_histogram_equidepth
    from stockify_spark.registry import _t

    rows = sorted(
        agg_histogram_equidepth(spark, SF_SMALL).collect(), key=lambda r: r.bucket
    )
    assert [r.bucket for r in rows] == list(range(8))
    n = _t(spark, SF_SMALL, "orders").count()
    assert sum(r.n_rows for r in rows) == n
    # equal mass within one row
    assert max(r.n_rows for r in rows) - min(r.n_rows for r in rows) <= 1
    # fences are ordered and non-overlapping (duplicate boundary
    # values aside, hi of bucket k <= lo of bucket k+1)
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo


def test_seasonal_anomaly_flags_extreme_residuals_only(spark):
    """Every flagged residual must exceed 5x the type's MAD,
    recomputed independently, and the flag set must be sparse."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from stockify_spark.queries.events import events_seasonal_anomaly
    from stockify_spark.registry import _t

    rows = events_seasonal_anomaly(spark, SF_SMALL).collect()
    ev = _t(spark, SF_SMALL, "events").select(
        "event_type", "event_id", F.hour("ts").alias("hr"), "value"
    ).collect()
    n_events = len(ev)
    assert 0 < len(rows) < n_events / 10
    # independent recomputation
    sums: dict = defaultdict(lambda: [0.0, 0])
    for e in ev:
        s = sums[(e.event_type, e.hr)]
        s[0] += e.value
        s[1] += 1
    resid = {}
    per_type = defaultdict(list)
    for e in ev:
        s1, n = sums[(e.event_type, e.hr)]
        r = e.value - round(s1, 6) / n
        resid[e.event_id] = (e.event_type, r)
        per_type[e.event_type].append(abs(r))
    mad = {}
    for t, v in per_type.items():
        v.sort()
        m = len(v)
        mad[t] = min(v[(m + 1) // 2 - 1], v[(m + 2) // 2 - 1])
    flagged = {r.event_id for r in rows}
    expect = {
        eid for eid, (t, r) in resid.items() if abs(r) > 5 * mad[t]
    }
    assert flagged == expect
