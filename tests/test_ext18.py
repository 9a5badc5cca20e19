"""Pins for the transform/sketch/spectral wave (queries: aggregates, graph, ml, stocks, windows)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_haar_reconstructs_and_conserves(spark):
    """Invertibility: level-1 details + the approximation chain must
    reconstruct the original series exactly (a = approx + detail,
    b = approx - detail at every level); coefficient counts are
    64+32+...+1 details plus 1 approximation per series."""
    from collections import defaultdict

    from stockify_spark.queries.windows import window_haar_dwt

    rows = window_haar_dwt(spark, SF_SMALL).collect()
    per = defaultdict(dict)
    for r in rows:
        per[r.symbol][(r.level, r.k)] = r.coef
    assert set(per) == set(range(10))
    for sym, coefs in per.items():
        for lv in range(1, 8):
            n = 128 >> lv
            assert sum(1 for (l, _) in coefs if l == lv) == n, (sym, lv)
        assert sum(1 for (l, _) in coefs if l == 8) == 1
        # reconstruct top-down: approx at level 8 + details downward
        approx = {0: coefs[(8, 0)]}
        for lv in range(7, 0, -1):
            nxt = {}
            for k, a in approx.items():
                d = coefs[(lv, k)]
                nxt[2 * k] = a + d
                nxt[2 * k + 1] = a - d
            approx = nxt
        base = [500.0 + ((sym * 180 + i) % 18) * 10.0 for i in range(128)]
        for i in range(128):
            assert abs(approx[i] - base[i]) < 1e-6, (sym, i)


def test_hll_estimate_close_to_exact(spark):
    """The 64-register estimate must land within the ~13% standard
    error band (3 sigma) of the exact distinct count."""
    from stockify_spark.queries.aggregates import agg_hll_sketch

    row = agg_hll_sketch(spark, SF_SMALL).collect()[0]
    assert row.n_registers == 64
    assert row.exact_distinct > 0
    se = 1.04 / (64**0.5)
    assert abs(row.rel_error) < 3 * se
    assert abs(row.hll_estimate / row.exact_distinct - 1 - row.rel_error) < 1e-3


def test_modularity_sums_and_bounds(spark):
    """Σ edges_within <= m, Σ degree_sum = 2m, and Q = Σ q_c lies in
    [-1, 1]."""
    from stockify_spark.queries.graph import graph_modularity

    rows = graph_modularity(spark, SF_SMALL).collect()
    assert len(rows) == 8
    q = sum(r.q_contribution for r in rows)
    assert -1.0 <= q <= 1.0
    deg_total = sum(r.degree_sum for r in rows)
    assert deg_total % 2 == 0
    m = deg_total // 2
    assert sum(r.edges_within for r in rows) <= m


def test_pca_eigen_properties(spark):
    """lambda1 >= lambda2 >= 0 (covariance PSD), trace equals
    cxx + cyy (recomputed from raw data), and the reported
    eigenvector satisfies the eigen equation approximately."""
    import duckdb
    import numpy as np

    from stockify_spark.queries.ml import ml_pca_2d

    row = ml_pca_2d(spark, SF_SMALL).collect()[0]
    assert row.lambda1 >= row.lambda2 >= 0
    assert 0.5 <= row.explained_ratio <= 1.0
    df = (
        duckdb.connect()
        .execute(
            f"SELECT l_quantity x, l_discount y FROM '{SF_SMALL}/lineitem.parquet'"
        )
        .df()
    )
    cov = np.cov(df.x, df.y, bias=True)
    w = np.linalg.eigvalsh(cov)
    assert abs(row.lambda1 - w[1]) < 1e-4
    assert abs(row.lambda2 - w[0]) < 1e-6
    # eigen equation: C v = lambda1 v for v = (v1_x, v1_y)
    v = np.array([row.v1_x, row.v1_y])
    if np.linalg.norm(v) > 1e-9:
        resid = cov @ v - row.lambda1 * v
        assert np.linalg.norm(resid) < 1e-3 * max(1.0, np.linalg.norm(v))


def test_ichimoku_displacements(spark):
    """Displaced spans: senkou lines are NULL for the first 26 rows,
    chikou NULL for the last 26; tenkan/kijun equal (maxH+minL)/2
    recomputed at a spot row."""
    from stockify_spark.queries.stocks import stocks_ichimoku

    rows = stocks_ichimoku(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 1800
    for r in rows[:26]:
        assert r.senkou_a is None and r.senkou_b is None
    for r in rows[-26:]:
        assert r.chikou is None
    t = 100
    high = [510.0 + (i % 18) * 10.0 for i in range(1800)]
    low = [440.0 + (i % 18) * 10.0 for i in range(1800)]
    close = [500.0 + (i % 18) * 10.0 for i in range(1800)]
    assert rows[t].tenkan == (max(high[t - 8 : t + 1]) + min(low[t - 8 : t + 1])) / 2
    assert rows[t].kijun == (max(high[t - 25 : t + 1]) + min(low[t - 25 : t + 1])) / 2
    assert rows[t].chikou == close[t + 26]
    # senkou_a at t equals (tenkan+kijun)/2 computed 26 bars back
    tb = t - 26
    ten_b = (max(high[tb - 8 : tb + 1]) + min(low[tb - 8 : tb + 1])) / 2
    kij_b = (max(high[tb - 25 : tb + 1]) + min(low[tb - 25 : tb + 1])) / 2
    assert rows[t].senkou_a == (ten_b + kij_b) / 2
