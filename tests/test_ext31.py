"""Pins for the revenue-bridge / JSD wave (queries: orders, text)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_bridge_effects_sum_to_delta(spark):
    """The decomposition identity: volume_effect + price_mix_effect
    must equal delta (to rounding) on every month."""
    from stockify_spark.queries.orders import orders_revenue_bridge

    rows = orders_revenue_bridge(spark, SF_SMALL).collect()
    assert len(rows) >= 70
    for r in rows:
        assert abs((r.volume_effect + r.price_mix_effect) - r.delta) < 0.02, r.ym


def test_jsd_bounded_and_positive(spark):
    """0 <= JSD <= ln 2; the two source groups share most vocabulary
    so the divergence is small but nonzero."""
    import math

    from stockify_spark.queries.text import text_js_divergence

    r = text_js_divergence(spark, SF_SMALL).collect()[0]
    assert 0 < r.jsd_nats < math.log(2)
    assert r.vocab_size > 0
