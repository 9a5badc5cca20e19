"""Pins for the integer-exact statistics / closed-form ML wave
(queries: aggregates, graph, ml, stats, text)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_assortativity_in_range_and_matches_definition(spark):
    """r is a correlation: must land in [-1, 1]. Recompute it from
    the edge list with plain Python arithmetic."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.graph import graph_assortativity
    from stockify_spark.registry import _t
    from tests.test_ext15 import _r6

    row = graph_assortativity(spark, SF_SMALL).collect()[0]
    assert -1.0 <= row.assortativity <= 1.0
    # rebuild the same residue graph via the Spark face's own edge
    # logic, then apply the Newman formula independently
    li = _t(spark, SF_SMALL, "lineitem")
    ra = (F.col("l_orderkey") % 80).cast("long")
    rb = (F.col("l_partkey") % 80).cast("long")
    pairs = (
        li.filter(ra != rb)
        .select(F.least(ra, rb).alias("a"), F.greatest(ra, rb).alias("b"))
        .distinct()
    )
    coin = F.conv(
        F.substring(
            F.md5(F.concat(F.col("a").cast("string"), F.lit(":"), F.col("b").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    edges = [(r.a, r.b) for r in pairs.where(coin % 100 < 12).collect()]
    assert row.n_edges == len(edges)
    from collections import Counter

    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    m = float(len(edges))
    s1 = float(sum(deg[a] * deg[b] for a, b in edges))
    s2 = float(sum(deg[a] + deg[b] for a, b in edges))
    s3 = float(sum(deg[a] ** 2 + deg[b] ** 2 for a, b in edges))
    half = s2 / (2.0 * m)
    r = (s1 / m - half * half) / (s3 / (2.0 * m) - half * half)
    assert row.assortativity == _r6(r)


def test_mann_kendall_zero_trend_on_periodic_ramp(spark):
    """Each series is 10 identical sawtooth periods: rises and wraps
    cancel in a specific, hand-checkable way. Verify S against a
    brute-force pair count and the tie term against the known tie
    structure (18 values x 10 repeats per series)."""
    from stockify_spark.queries.stats import stats_mann_kendall
    from tests.test_ext15 import _r6

    rows = {r.symbol: r for r in stats_mann_kendall(spark, SF_SMALL).collect()}
    assert set(rows) == set(range(10))
    close = [500.0 + (i % 18) * 10.0 for i in range(180)]
    s = sum(
        (0 if close[j] == close[i] else (1 if close[j] > close[i] else -1))
        for i in range(180)
        for j in range(i + 1, 180)
    )
    n, t = 180, 10
    tie_term = 18 * (t * (t - 1) * (2 * t + 5))
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    for sym in range(10):
        assert rows[sym].s_stat == s
        assert rows[sym].var_s == _r6(var_s)
        if s > 0:
            assert rows[sym].z == _r6((s - 1.0) / var_s**0.5)


def test_ridge_matches_numpy_solve(spark):
    """The Cramer's-rule solve must agree with numpy.linalg.solve on
    the same normal equations to ~1e-6."""
    import numpy as np
    import duckdb

    from stockify_spark.queries.ml import ml_ridge_closed_form

    row = ml_ridge_closed_form(spark, SF_SMALL).collect()[0]
    df = (
        duckdb.connect()
        .execute(
            f"SELECT l_quantity x1, l_discount x2, l_extendedprice y"
            f" FROM '{SF_SMALL}/lineitem.parquet'"
        )
        .df()
    )
    X = np.column_stack([np.ones(len(df)), df.x1, df.x2])
    beta = np.linalg.solve(X.T @ X + np.eye(3), X.T @ df.y.to_numpy())
    assert row.n_rows == len(df)
    assert abs(row.beta0 - beta[0]) < 1e-4
    assert abs(row.beta1 - beta[1]) < 1e-6
    assert abs(row.beta2 - beta[2]) < 1e-5


def test_readability_counts_and_formula(spark):
    """Spot-check one document: recount words and vowel groups in
    Python and replay the Flesch formula."""
    import re

    from stockify_spark.queries.text import text_readability
    from stockify_spark.registry import _t
    from tests.test_ext15 import _r6

    docs = {r.doc_id: r.text for r in _t(spark, SF_SMALL, "documents").collect()}
    rows = text_readability(spark, SF_SMALL).collect()
    assert len(rows) == len(docs)
    for r in rows[:20]:
        text = docs[r.doc_id]
        words = len(text.strip().lower().split())
        syll = len(re.findall(r"[aeiouy]+", text.lower()))
        sents = max(len(re.findall(r"[.!?]+", text)), 1)
        assert r.n_words == words
        assert r.n_syllables == syll
        assert r.flesch == _r6(206.835 - 1.015 * (words / sents) - 84.6 * (syll / words))


def test_weighted_median_selection_rule(spark):
    """The reported price must be the smallest price whose cumulative
    weight reaches half the total — recheck per flag in Python."""
    from collections import defaultdict

    from stockify_spark.queries.aggregates import agg_weighted_median
    from stockify_spark.registry import _t

    li = _t(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    acc = defaultdict(lambda: defaultdict(int))
    for r in li:
        acc[r.l_returnflag][r.l_extendedprice] += int(r.l_quantity)
    rows = {r.flag: r for r in agg_weighted_median(spark, SF_SMALL).collect()}
    assert set(rows) == set(acc)
    for flag, wm in acc.items():
        tot = sum(wm.values())
        cw = 0
        for price in sorted(wm):
            cw += wm[price]
            if 2 * cw >= tot:
                assert rows[flag].weighted_median_price == price
                assert rows[flag].total_weight == tot
                break
