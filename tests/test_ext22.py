"""Pins for the enrichment/backtest/aging/merge wave
(queries: aggregates, orders, streaming)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_enrich_totals_cover_all_events(spark):
    from stockify_spark.queries.streaming import stream_static_enrich
    from stockify_spark.registry import _t

    rows = stream_static_enrich(spark, SF_SMALL).collect()
    assert sum(r.n for r in rows) == _t(spark, SF_SMALL, "events").count()
    assert len({r.segment for r in rows}) >= 3


def test_forecast_eval_counts_and_positive_errors(spark):
    """Each nation evaluates (observed months - 1) forecasts; errors
    are non-negative and MAPE is a sane fraction."""
    from stockify_spark.queries.orders import orders_forecast_eval
    from stockify_spark.queries.orders import orders_holt_forecast

    ev = {r.nation: r for r in orders_forecast_eval(spark, SF_SMALL).collect()}
    holt_counts = (
        orders_holt_forecast(spark, SF_SMALL)
        .groupBy("nation")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    months = {r.nation: r.n for r in holt_counts}
    assert set(ev) == set(months)
    for nation, r in ev.items():
        assert r.n_evals == months[nation] - 1
        assert r.mae >= 0
        assert 0 <= r.mape < 50.0  # tiny months can be badly overshot


def test_backlog_aging_partitions_open_orders(spark):
    from stockify_spark.queries.orders import orders_backlog_aging
    from stockify_spark.registry import _t

    rows = orders_backlog_aging(spark, SF_SMALL).collect()
    n_open = (
        _t(spark, SF_SMALL, "orders").filter(F.col("o_orderstatus") != "F").count()
    )
    assert sum(r.n_orders for r in rows) == n_open
    assert {r.age_bucket for r in rows} <= {"0-1y", "1-2y", "2y+"}
    assert all(r.status != "F" for r in rows)


def test_hll_merge_registers_identical(spark):
    """The core claim: merged registers == direct registers, and the
    merged estimate equals agg_hll_sketch's estimate (same registers,
    same estimator path modulo the small-range branch)."""
    from stockify_spark.queries.aggregates import agg_hll_sketch
    from stockify_spark.queries.aggregates import agg_hll_merge

    m = agg_hll_merge(spark, SF_SMALL).collect()[0]
    assert m.registers_disagreeing == 0
    s = agg_hll_sketch(spark, SF_SMALL).collect()[0]
    assert abs(m.merged_estimate - s.hll_estimate) < 1e-6
