"""Pins for the bitmap/encoding/Hurst wave (queries: aggregates, functions, windows)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_bitmap_distinct_self_verifies(spark):
    from stockify_spark.queries.aggregates import agg_bitmap_distinct

    rows = agg_bitmap_distinct(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.bitmap_matches is True
        assert r.bitmap_distinct == r.exact_distinct
        assert r.n_words >= 1


def test_base64_roundtrips_every_row(spark):
    import base64

    from stockify_spark.queries.functions import fn_base64_roundtrip

    rows = fn_base64_roundtrip(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.roundtrip_ok is True
        assert base64.b64decode(r.name_b64).decode() == r.name_back
        assert bytes.fromhex(r.segment_hex).decode() in {
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
        }


def test_hurst_mean_reverting_sawtooth(spark):
    """A periodic series is strongly mean-reverting: R/S stops
    growing once the chunk covers full periods, so the log-log slope
    (H) must sit well below the 0.5 random-walk line; R/S values are
    positive and identical across the ten identical series."""
    from stockify_spark.queries.windows import window_hurst_rs

    rows = window_hurst_rs(spark, SF_SMALL).collect()
    assert len(rows) == 10
    first = rows[0]
    for r in rows:
        assert (r.rs_18, r.rs_45, r.rs_90, r.hurst) == (
            first.rs_18, first.rs_45, first.rs_90, first.hurst,
        )
        assert r.rs_18 > 0 and r.rs_45 > 0 and r.rs_90 > 0
        assert r.hurst < 0.5
