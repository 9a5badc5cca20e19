"""Property pins for rank statistics, rolling regression, URL parsing
and the stochastic oscillator (queries: functions, stats, stocks, windows).

These are invariant checks — the value-level contract is the DuckDB
differential gate (tools/check_oracle.py); here we pin the
mathematical properties that the oracle comparison alone would not
distinguish from a consistently-wrong pair."""

from __future__ import annotations

import math

from tests.conftest import SF_SMALL


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_stochastic_bounds_and_extremes(spark):
    """%K is in [0, 100]; a row at the 14-row rolling high closes at
    100 only if close == max(high) never happens on the ramp (close
    < high by 10 always), so %K < 100 strictly; %D stays within the
    min/max of its 3-row frame."""
    from stockify_spark.queries.stocks import stocks_stochastic

    rows = stocks_stochastic(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 1800
    ks = [r.pct_k for r in rows]
    assert all(0.0 <= k < 100.0 for k in ks)
    for i, r in enumerate(rows):
        frame = ks[max(0, i - 2) : i + 1]
        assert min(frame) - 1e-6 <= r.pct_d <= max(frame) + 1e-6


def test_rolling_slope_on_pure_ramp_segment(spark):
    """Inside one 18-row ramp cycle the series is exactly close =
    500 + 10*(row_id % 18): any 20-row frame that ends mid-cycle
    still spans a wrap, but the first 18 rows are a pure line of
    slope 10 — rows 1..17 (frames entirely inside the first cycle)
    must report slope exactly 10 and intercept exactly 500."""
    from stockify_spark.queries.windows import window_rolling_slope

    rows = window_rolling_slope(spark, SF_SMALL).orderBy("row_id").collect()
    assert rows[0].slope is None  # single-point frame: NULLIF guard
    for r in rows[1:18]:
        assert r.slope == 10.0
        assert r.intercept == 500.0
    # a frame spanning the cycle wrap is NOT the pure line
    assert rows[20].slope != 10.0


def test_mannwhitney_group_swap_antisymmetry(spark):
    """Swapping the two cohorts negates z and reflects U about
    n1*n2: U1 + U2 == n1*n2 exactly (rank-sum identity)."""
    from pyspark.sql import functions as F

    from stockify_spark.queries.stats import stats_mannwhitney

    r = _one(stats_mannwhitney(spark, SF_SMALL))
    # recompute the swapped test by symmetry identities, not a
    # second pipeline: U2 = n1*n2 - U1, z2 = -z1
    u2 = r.n1 * r.n2 - r.u1
    assert u2 >= 0
    assert abs(r.z) < 50  # sane normal-scale statistic
    # ranks of the pooled sample sum to N(N+1)/2: r1 = u1 + n1(n1+1)/2
    # is bounded by the total rank mass
    total = (r.n1 + r.n2) * (r.n1 + r.n2 + 1) / 2
    assert 0 < r.u1 + r.n1 * (r.n1 + 1) / 2 < total


def test_anova_f_matches_brute_force(spark):
    """F recomputed in pure Python from the same cents data matches
    the distributed two-level aggregation."""
    import duckdb

    from stockify_spark.queries.stats import stats_anova

    r = _one(stats_anova(spark, SF_SMALL))
    con = duckdb.connect()
    rows = con.execute(
        "SELECT p_brand, ROUND(p_retailprice * 100) FROM "
        f"'{SF_SMALL}/part.parquet' WHERE p_retailprice IS NOT NULL"
    ).fetchall()
    groups: dict[str, list[float]] = {}
    for b, c in rows:
        groups.setdefault(b, []).append(c)
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    s = sum(sum(v) for v in groups.values())
    q = sum(x * x for v in groups.values() for x in v)
    w = sum(sum(v) ** 2 / len(v) for v in groups.values())
    ssb, ssw = w - s * s / n, q - w
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r.k_groups == k and r.n_rows == n
    assert math.isclose(r.f_stat, f, rel_tol=1e-6)


def test_spearman_self_correlation_is_one(spark):
    """rho(x, x) == 1 exactly under the doubled-rank formula, and
    the registered price-vs-size rho is within [-1, 1]."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stockify_spark.queries.stats import stats_spearman

    r = _one(stats_spearman(spark, SF_SMALL))
    assert -1.0 <= r.spearman_rho <= 1.0
    # self-correlation: run the same doubled-rank Pearson on (v, v)
    df = spark.range(0, 500, 1, 4).select(
        ((F.col("id") * 37) % 83).cast("double").alias("v")
    )
    dr = (
        2 * F.rank().over(Window.orderBy("v"))
        + F.count(F.lit(1)).over(Window.partitionBy("v"))
        - 1
    ).cast("double")
    ranked = df.select(dr.alias("rx"), dr.alias("ry"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    ).collect()[0]
    rho = (agg.n * agg.sxy - agg.sx * agg.sy) / (
        math.sqrt(agg.n * agg.sxx - agg.sx * agg.sx)
        * math.sqrt(agg.n * agg.syy - agg.sy * agg.sy)
    )
    assert math.isclose(rho, 1.0, abs_tol=1e-12)


def test_url_parse_components_reassemble(spark):
    """protocol://host path ? query reassembles the original URL,
    and the extracted page param equals the trailing modulus."""
    from stockify_spark.queries.functions import fn_url_parse

    rows = fn_url_parse(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 3000
    for r in rows[:100]:
        assert r.protocol == "https"
        assert r.host.endswith(".example.org")
        url = f"{r.protocol}://{r.host}{r.path}?{r.query}"
        assert url.startswith("https://host") and "?q=t" in url
        assert r.page == str(r.row_id % 9)


def test_atr_first_row_and_flat_gap(spark):
    """Row 0 falls back to high-low (70 on the ramp); inside a ramp
    the true range is max(70, |high-prev_close|, |low-prev_close|)
    and at the cycle wrap (i%18==0, close drops 170) the gap term
    dominates: tr = |low - prev_close| = |440 - 670| = 230? No —
    high-prev = |510-670| = 160, low-prev = |440-670| = 230, span
    70 → tr = 230. Pin both shapes."""
    from stockify_spark.queries.stocks import stocks_atr

    rows = stocks_atr(spark, SF_SMALL).orderBy("row_id").collect()
    assert rows[0].tr == 70.0
    assert rows[18].tr == 230.0  # wrap row: gap down dominates
    assert rows[1].tr == 70.0  # in-ramp: +10 step, span dominates


def test_obv_cycle_structure(spark):
    """Within a cycle every step is an up-day (+volume); at each
    wrap the close drops (−volume). OBV at the end of cycle c is
    therefore sum of 17 up-volumes per cycle minus the wrap
    volumes — pin the first few exact values."""
    from stockify_spark.queries.stocks import stocks_obv

    rows = stocks_obv(spark, SF_SMALL).orderBy("row_id").collect()
    assert rows[0].obv == 0.0  # first row: no direction
    # rows 1..17: up days, volumes 1.3e6 .. 2.9e6
    expect = sum(1_200_000.0 + j * 100_000.0 for j in range(1, 18))
    assert rows[17].obv == expect
    # wrap at row 18: close falls, subtract volume 1.2e6
    assert rows[18].obv == expect - 1_200_000.0
