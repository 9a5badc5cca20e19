"""Pins for the polyfit / Heaps-law wave (queries: ml, text)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_polyfit_matches_numpy(spark):
    import numpy as np

    from stockify_spark.queries.ml import ml_polyfit_series

    rows = {r.symbol: r for r in ml_polyfit_series(spark, SF_SMALL).collect()}
    assert set(rows) == set(range(10))
    x = np.arange(180)
    y = np.array([500.0 + (i % 18) * 10.0 for i in range(180)])
    c2, c1, c0 = np.polyfit(x, y, 2)
    for r in rows.values():
        assert abs(r.c0 - c0) < 1e-4
        assert abs(r.c1 - c1) < 1e-6
        assert abs(r.c2 - c2) < 1e-8


def test_heaps_vocabulary_growth_is_monotone_sublinear(spark):
    """V and N grow monotonically with the prefix; the type-token
    ratio FALLS (sublinear vocabulary growth, Heaps' beta < 1); the
    final checkpoint covers the whole corpus."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.text import text_heaps_law
    from stockify_spark.functions.text import tokens
    from stockify_spark.registry import _t

    rows = sorted(text_heaps_law(spark, SF_SMALL).collect(), key=lambda r: r.k)
    assert len(rows) == 10
    for a, b in zip(rows, rows[1:]):
        assert b.n_tokens >= a.n_tokens
        assert b.v >= a.v
    assert rows[0].type_token_ratio > rows[-1].type_token_ratio
    docs = _t(spark, SF_SMALL, "documents")
    total_vocab = (
        docs.select(F.explode(tokens("text")).alias("t")).select("t").distinct().count()
    )
    total_tokens = docs.select(F.explode(tokens("text")).alias("t")).count()
    assert rows[-1].v == total_vocab
    assert rows[-1].n_tokens == total_tokens
