"""Pins for the temporal-join/rolling-corr/eval/peaks wave
(queries: joins, ml, stocks, windows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_scd2_pointintime_balance_split(spark):
    """Temporal matching proof: total orders equals the orders table
    (every order matches exactly one version), and the summed
    balance-at-order exceeds the all-original-balance baseline by
    exactly 100 x (orders by updated customers on/after the split
    date)."""
    from stockify_spark.queries.joins import join_scd2_pointintime
    from stockify_spark.registry import _t

    rows = join_scd2_pointintime(spark, SF_SMALL).collect()
    orders = _t(spark, SF_SMALL, "orders")
    cust = _t(spark, SF_SMALL, "customer")
    assert sum(r.n_orders for r in rows) == orders.count()
    base = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .agg(F.round(F.sum("c_acctbal"), 2).alias("s"))
        .collect()[0]
        .s
    )
    bumped = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(
            (F.col("c_custkey") % 10 < 3)
            & (F.col("o_orderdate").cast("date") >= F.lit("1995-06-01").cast("date"))
        )
        .count()
    )
    got = round(sum(r.acctbal_at_order for r in rows), 2)
    assert abs(got - (base + 100.0 * bumped)) < 0.02


def test_rolling_corr_bounds_and_perfect_prefix(spark):
    """|corr| <= 1 everywhere; the two-point frame at row 1 is
    exactly collinear (corr 1.0) while every larger frame pairs a
    linear series against the quadratic high*low -> corr strictly
    below 1."""
    from stockify_spark.queries.stocks import stocks_rolling_corr

    rows = stocks_rolling_corr(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 1800
    assert rows[0].corr_30 is None  # single-row frame: zero variance
    for r in rows:
        if r.corr_30 is not None:
            assert -1.0 - 1e-9 <= r.corr_30 <= 1.0 + 1e-9
    assert rows[1].corr_30 == 1.0  # two points define a line
    for t in (5, 17, 40, 900):
        assert rows[t].corr_30 < 1.0, t


def test_confusion_metrics_identities(spark):
    """Σ support = Σ pred_n = held-out size; Σ tp <= support; per-row
    metric identities hold on the integer counts."""
    from stockify_spark.queries.ml import ml_confusion_metrics

    rows = ml_confusion_metrics(spark, SF_SMALL).collect()
    assert {r.lang for r in rows} == {"en", "de", "es", "fr", "zh"}
    assert sum(r.support for r in rows) == 100
    for r in rows:
        assert 0 <= r.tp <= r.support
        assert abs(r.recall - r.tp / r.support) < 1e-6
        if r.pred_n:
            assert abs(r.precision - r.tp / r.pred_n) < 1e-6
        if r.precision + r.recall > 0 and r.tp > 0:
            expect_f1 = 2 * r.precision * r.recall / (r.precision + r.recall)
            assert abs(r.f1 - expect_f1) < 1e-5


def test_peaks_are_period_tops(spark):
    """The sawtooth peaks exactly at pos 17 mod 18 (close 670), with
    prominence 670 - max(flanking minima)."""
    from stockify_spark.queries.windows import window_peak_detection

    rows = window_peak_detection(spark, SF_SMALL).orderBy("row_id").collect()
    assert rows
    for r in rows:
        assert r.row_id % 18 == 17
        assert r.close == 670.0
        assert r.prominence > 0
    # interior peaks: left min is close-80 (8 back), right min is 500
    interior = [r for r in rows if 17 < r.row_id < 1782]
    assert interior
    for r in interior:
        assert r.prominence == 670.0 - max(590.0, 500.0)