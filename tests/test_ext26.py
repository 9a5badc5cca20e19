"""Pins for the dedup-evaluation / funnel-latency wave
(queries: events, pipeline)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_dedup_eval_counts_consistent(spark):
    """n_common <= min(n_exact, n_lsh); precision is 1.0 by
    construction (LSH pairs are exact-verified), so n_common must
    equal n_lsh; recall matches the ratio."""
    from stockify_spark.queries.pipeline import pipeline_dedup_eval

    r = pipeline_dedup_eval(spark, SF_SMALL).collect()[0]
    assert r.n_exact > 0
    assert r.n_common <= min(r.n_exact, r.n_lsh)
    assert r.n_common == r.n_lsh  # verified pairs are all true pairs
    assert r.precision == 1.0
    assert abs(r.recall - round(r.n_common / r.n_exact, 6)) < 1e-9
    assert r.recall > 0.5  # 16x2 banding at t=0.5 catches most


def test_time_to_convert_median_in_window(spark):
    """The median latency must lie inside the 30-minute join window
    and be positive; n_conversions matches an independent count."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.events import events_time_to_convert
    from stockify_spark.registry import _t

    r = events_time_to_convert(spark, SF_SMALL).collect()[0]
    assert 0 < r.median_ms <= 1800000
    ev = _t(spark, SF_SMALL, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    n = (
        p.join(c, "user_id")
        .filter(
            (F.col("cts") < F.col("pts"))
            & (F.unix_millis("pts") - F.unix_millis("cts") <= 1800000)
        )
        .select("event_id")
        .distinct()
        .count()
    )
    assert r.n_conversions == n
