"""Pins for the smoothing/keyword/robust-trend wave (queries: functions, orders, stats, text, windows)."""

from __future__ import annotations

from tests.conftest import SF_SMALL

_STOP = {"the", "a", "of", "and", "to", "in", "is", "that", "it", "for"}


def test_kalman_gain_converges_and_estimate_bounded(spark):
    """The Kalman gain is data-independent state (k_t depends only on
    t), so it must converge to the steady-state value of the Riccati
    recursion; estimates stay inside the observation envelope."""
    from stockify_spark.queries.windows import window_kalman

    rows = window_kalman(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    assert len(rows) == 1800
    series = [r for r in rows if r.symbol == 4]
    # steady state: p = (1-k)(p+q), k = (p+q)/(p+q+r) — fixed point
    assert abs(series[-1].gain - series[-2].gain) < 1e-6
    assert series[-1].gain > 0
    for r in rows:
        assert 500.0 - 1e-6 <= r.estimate <= 670.0 + 1e-6
        assert r.variance > 0


def test_kalman_matches_independent_recursion(spark):
    from stockify_spark.queries.windows import window_kalman
    from tests.test_ext15 import _r6

    rows = window_kalman(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    series = [r for r in rows if r.symbol == 0]
    z = [500.0 + ((0 * 180 + i) % 18) * 10.0 for i in range(180)]
    x, p = z[0], 1.0
    assert series[0].estimate == _r6(x)
    for t in range(1, 180):
        pp = p + 0.01
        k = pp / (pp + 4.0)
        x = x + k * (z[t] - x)
        p = (1.0 - k) * pp
        assert series[t].estimate == _r6(x), t
        assert series[t].variance == _r6(p), t
        assert series[t].gain == _r6(k), t


def test_holt_forecast_identity_and_coverage(spark):
    """forecast_1 must equal ROUND(level + trend, 6) recomputed from
    the unrounded state (checked via the identity on fresh rows);
    every nation-month of the revenue aggregate appears exactly
    once."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.orders import orders_holt_forecast

    df = orders_holt_forecast(spark, SF_SMALL)
    rows = df.collect()
    keys = {(r.nation, r.ym) for r in rows}
    assert len(keys) == len(rows) == 1975
    # seeds: first month of each nation has trend exactly 0
    firsts = (
        df.groupBy("nation").agg(F.min("ym").alias("ym")).collect()
    )
    first_keys = {(r.nation, r.ym) for r in firsts}
    for r in rows:
        if (r.nation, r.ym) in first_keys:
            assert r.trend == 0.0
            assert r.forecast_1 == r.level


def test_rake_ranks_contiguous_and_stopword_free(spark):
    from collections import defaultdict

    from stockify_spark.queries.text import text_rake

    rows = text_rake(spark, SF_SMALL).collect()
    bydoc = defaultdict(list)
    for r in rows:
        bydoc[r.doc_id].append(r)
        assert r.score > 0
        assert not (set(r.phrase.split()) & _STOP), r.phrase
    for doc, rs in bydoc.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(ranks) + 1)), doc
        assert len(ranks) <= 3
        # ordering contract: rank 1 has the max rounded score
        best = max(x.score for x in rs)
        assert next(x for x in rs if x.rank == 1).score == best


def test_theil_sen_matches_bruteforce_median(spark):
    from stockify_spark.queries.stats import stats_theil_sen
    from tests.test_ext15 import _r6

    rows = {r.symbol: r for r in stats_theil_sen(spark, SF_SMALL).collect()}
    assert set(rows) == set(range(10))
    for sym in (0, 6):
        close = [500.0 + ((sym * 180 + i) % 18) * 10.0 for i in range(180)]
        slopes = sorted(
            (close[j] - close[i]) / (j - i)
            for i in range(180)
            for j in range(i + 1, 180)
        )
        n = len(slopes)
        assert rows[sym].n_pairs == n == 16110
        med = (slopes[(n - 1) // 2] + slopes[n // 2]) / 2
        assert rows[sym].ts_slope == _r6(med)


def test_ip_cidr_subnet_math(spark):
    from stockify_spark.queries.functions import fn_ip_cidr

    rows = fn_ip_cidr(spark, SF_SMALL).collect()
    assert rows
    total = 0
    for r in rows:
        o = r.subnet.split(".")
        assert o[0] == "10" and o[3] == "0/24"
        assert int(o[1]) < 128  # inside 10.0.0.0/9
        assert (r.min_ip >> 8) == (r.max_ip >> 8)  # same /24
        total += r.n_hosts
    # expected: customers whose custkey % 200 < 128
    import duckdb

    exp = (
        duckdb.connect()
        .execute(
            f"SELECT COUNT(*) FROM '{SF_SMALL}/customer.parquet'"
            " WHERE c_custkey % 200 < 128"
        )
        .fetchone()[0]
    )
    assert total == exp
