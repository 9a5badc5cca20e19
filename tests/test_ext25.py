"""Pins for the admission-ensemble / bot-detection wave
(queries: events, pipeline)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_ensemble_covers_corpus_with_consistent_verdicts(spark):
    from stockify_spark.queries.pipeline import pipeline_quality_ensemble
    from stockify_spark.registry import _t

    rows = pipeline_quality_ensemble(spark, SF_SMALL).collect()
    assert len(rows) == _t(spark, SF_SMALL, "documents").count()
    reasons = {"too_short", "too_long", "low_stopwords", "too_repetitive", "ok"}
    for r in rows:
        assert r.reason in reasons
        assert r.keep == (r.reason == "ok")
        assert 0 <= r.stop_ratio <= 1 and 0 <= r.dup_frac < 1
        # rule order: a too-short doc must report too_short even if
        # other rules would also fire
        if r.n_tokens < 10:
            assert r.reason == "too_short"
    assert any(r.keep for r in rows)


def test_bot_detection_moment_identities(spark):
    """Recompute one user's gap CV from raw events and demand exact
    agreement; every flagged bot satisfies the rule's conjuncts."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.events import events_bot_detection
    from stockify_spark.registry import _t
    from tests.test_ext15 import _r6

    rows = {r.user_id: r for r in events_bot_detection(spark, SF_SMALL).collect()}
    assert rows
    for r in rows.values():
        if r.is_bot:
            assert r.n_gaps >= 20 and r.gap_cv < 0.5
    uid = sorted(rows)[0]
    ev = (
        _t(spark, SF_SMALL, "events")
        .filter(F.col("user_id") == uid)
        .select(F.unix_timestamp("ts").alias("s"), "event_id")
        .orderBy("s", "event_id")
        .collect()
    )
    gaps = [b.s - a.s for a, b in zip(ev, ev[1:])]
    n = len(gaps)
    mean = sum(gaps) / n
    var = max(sum(g * g for g in gaps) / n - mean * mean, 0.0)
    assert rows[uid].n_gaps == n
    assert rows[uid].gap_cv == _r6(var**0.5 / mean)
