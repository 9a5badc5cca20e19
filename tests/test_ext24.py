"""Pins for the pivots/detrend/zipf/levenshtein wave
(queries: functions, stocks, text, windows)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_pivot_identities(spark):
    """R2 and S2 are symmetric about the pivot (both offset by H-L),
    and the level ordering R2 >= R1 >= P >= S1 >= S2 holds whenever
    L <= P <= H (true for every ramp bar); spot-check one row
    against hand arithmetic."""
    from stockify_spark.queries.stocks import stocks_pivot_points

    rows = stocks_pivot_points(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 1799
    for r in rows[:50]:
        assert abs((r.r2 - r.pivot) - (r.pivot - r.s2)) < 1e-6
        assert r.r2 >= r.r1 >= r.pivot >= r.s1 >= r.s2
    # row 1 sees bar 0: H=510 L=440 C=500 -> P=483.333333
    assert rows[0].row_id == 1
    assert rows[0].pivot == round((510 + 440 + 500) / 3, 6)


def test_detrend_residuals_sum_to_zero_per_series(spark):
    """OLS residuals sum to ~0 within each series and the identical
    periodic series share slope/r2; residuals reproduce an
    independent numpy fit."""
    from collections import defaultdict

    import numpy as np

    from stockify_spark.queries.windows import window_linear_detrend

    rows = window_linear_detrend(spark, SF_SMALL).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.symbol].append(r)
    assert set(per) == set(range(10))
    x = np.arange(180)
    y = np.array([500.0 + (i % 18) * 10.0 for i in range(180)])
    slope, intercept = np.polyfit(x, y, 1)
    for sym, rs in per.items():
        rs.sort(key=lambda r: r.pos)
        assert abs(sum(r.residual for r in rs)) < 1e-3
        assert abs(rs[0].slope - slope) < 1e-5
        for t in (0, 90, 179):
            assert abs(rs[t].residual - (y[t] - (intercept + slope * t))) < 1e-4


def test_zipf_slope_negative_and_top_token(spark):
    """Frequencies decrease with rank, so the fitted slope must be
    negative; top_freq matches a direct count."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.text import text_zipf_fit
    from stockify_spark.functions.text import tokens
    from stockify_spark.registry import _t

    row = text_zipf_fit(spark, SF_SMALL).collect()[0]
    assert row.n_ranks == 50
    assert row.zipf_slope < 0
    top = (
        _t(spark, SF_SMALL, "documents")
        .select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.max("f"))
        .collect()[0][0]
    )
    assert row.top_freq == top


def test_levenshtein_against_python_reference(spark):
    from stockify_spark.queries.functions import fn_levenshtein
    from stockify_spark.registry import _t

    names = {
        r.p_partkey: r.p_name for r in _t(spark, SF_SMALL, "part").collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rows = fn_levenshtein(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.dist == lev(names[r.p_partkey], names[r.p_partkey + 1])
