"""Pins for the active-users / SPC wave (queries: events, windows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_active_users_identities(spark):
    """DAU <= WAU <= MAU every day; WAU(d) equals an independently
    computed exact distinct over the trailing 7 days for spot days;
    total days match the event span."""
    from stockify_spark.queries.events import events_active_users
    from stockify_spark.registry import _t

    rows = {r.day: r for r in events_active_users(spark, SF_SMALL).collect()}
    assert rows
    for r in rows.values():
        assert r.dau <= r.wau <= r.mau
    ev = _t(spark, SF_SMALL, "events").select(
        (F.unix_millis(F.date_trunc("day", F.col("ts"))) / 86400000)
        .cast("long")
        .alias("day"),
        "user_id",
    )
    days = sorted(rows)
    for d in (days[0], days[len(days) // 2], days[-1]):
        exact7 = (
            ev.filter((F.col("day") >= d - 6) & (F.col("day") <= d))
            .select("user_id")
            .distinct()
            .count()
        )
        exact1 = (
            ev.filter(F.col("day") == d).select("user_id").distinct().count()
        )
        assert rows[d].wau == exact7, d
        assert rows[d].dau == exact1, d


def test_spc_rules_fire_selectively(spark):
    """Every emitted row has at least one rule set; all three rules
    fire somewhere (discriminative on the events stream); rule-1
    rows are recomputable from pinned per-type moments; the flagged
    set is a strict subset of the stream."""
    from stockify_spark.queries.windows import window_spc_control
    from stockify_spark.registry import _t

    rows = window_spc_control(spark, SF_SMALL).collect()
    n_events = _t(spark, SF_SMALL, "events").count()
    assert 0 < len(rows) < n_events
    assert any(r.rule1 for r in rows)
    assert any(r.rule2 for r in rows)
    assert any(r.rule3 for r in rows)
    for r in rows:
        assert r.rule1 or r.rule2 or r.rule3
    # recompute rule1 membership for one type from pinned moments
    vals = [
        (r.event_id, r.value)
        for r in _t(spark, SF_SMALL, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "value")
        .collect()
    ]
    n = len(vals)
    s1 = round(sum(v for _, v in vals), 6)
    s2 = round(sum(v * v for _, v in vals), 4)
    mu = s1 / n
    sigma = (s2 / n - mu * mu) ** 0.5
    expect_r1 = {i for i, v in vals if abs(v - mu) > 3 * sigma}
    got_r1 = {r.event_id for r in rows if r.event_type == "click" and r.rule1}
    assert got_r1 == expect_r1
