"""Pins for the round-13 statistics wave (queries: events, stats, windows).

Each test recomputes the statistic from first principles in pure
Python over the same sf0.001 tables and compares — an oracle
INDEPENDENT of both Spark and DuckDB, so an error shared by the two
engines' SQL would still be caught.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from tests.conftest import SF_SMOKE

_SGW = (-3.0, 12.0, 17.0, 12.0, -3.0)


def _series(spark):
    """Per-user value series at SF_SMOKE, ordered by (ms, event_id)."""
    from stockify_spark.registry import _t
    from pyspark.sql import functions as F

    rows = (
        _t(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "value", F.unix_millis("ts").alias("ms"))
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ms, r.event_id, r.value))
    return {u: sorted(v) for u, v in by_user.items()}


def test_savitzky_golay_matches_python_and_preserves_quadratic(spark):
    from stockify_spark.queries.windows import window_savitzky_golay

    series = _series(spark)
    want = {}
    for u, v in series.items():
        ys = [x[2] for x in v]
        for i in range(2, len(ys) - 2):
            sg = (
                -3 * ys[i - 2] + 12 * ys[i - 1] + 17 * ys[i] + 12 * ys[i + 1] - 3 * ys[i + 2]
            ) / 35
            want[v[i][1]] = sg
    got = {r.event_id: r.sg for r in window_savitzky_golay(spark, SF_SMOKE).collect()}
    assert got == want  # identical IEEE order → exact

    # the defining SG property: a quadratic is reproduced EXACTLY
    # (a moving average would flatten it); weights sum to the window
    q = [3.0 * t * t - 2.0 * t + 7.0 for t in range(-2, 3)]
    center = sum(w * y for w, y in zip(_SGW, q)) / 35
    assert abs(center - q[2]) < 1e-9
    assert sum(_SGW) == 35.0


def _acf(ys, k):
    pairs = [(ys[i], ys[i - k]) for i in range(k, len(ys))]
    n = len(pairs)
    mx = sum(p[0] for p in pairs) / n
    my = sum(p[1] for p in pairs) / n
    num = sum((a - mx) * (b - my) for a, b in pairs)
    dx = math.sqrt(sum((a - mx) ** 2 for a, _ in pairs))
    dy = math.sqrt(sum((b - my) ** 2 for _, b in pairs))
    return num / (dx * dy)


def test_pacf_durbin_levinson_matches_python(spark):
    from stockify_spark.queries.windows import window_pacf

    series = _series(spark)
    got = defaultdict(dict)
    for r in window_pacf(spark, SF_SMOKE).collect():
        got[r.user_id][r.lag] = r.pacf
    checked = 0
    for u, v in series.items():
        ys = [x[2] for x in v]
        if len(ys) < 8:
            continue
        r1, r2, r3 = _acf(ys, 1), _acf(ys, 2), _acf(ys, 3)
        phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
        phi21 = r1 - phi22 * r1
        phi33 = (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2)
        for lag, want in ((1, r1), (2, phi22), (3, phi33)):
            assert abs(got[u][lag] - want) < 1e-5, (u, lag)
        checked += 1
    assert checked >= 3


def test_negbinom_moments_and_consistency(spark):
    from stockify_spark.queries.stats import stats_negbinom_mom

    rows = stats_negbinom_mom(spark, SF_SMOKE).collect()
    assert len(rows) == 5  # one fit per event type
    for r in rows:
        if r.nb_r is not None:
            # MoM consistency: the fitted NB's mean r(1-p)/p is the
            # sample mean, its variance r(1-p)/p^2 the sample variance
            assert abs(r.nb_r * (1 - r.nb_p) / r.nb_p - r.mean_k) < 1e-3
            assert abs(r.nb_r * (1 - r.nb_p) / r.nb_p**2 - r.var_k) < 1e-2
            assert r.var_k > r.mean_k  # only fitted when overdispersed


def test_poisson_rate_test_python_recompute(spark):
    from pyspark.sql import functions as F
    from stockify_spark.registry import _t
    from stockify_spark.queries.events import events_poisson_rate_test

    rows = (
        _t(spark, SF_SMOKE, "events")
        .select("event_type", F.unix_millis("ts").alias("ms"))
        .collect()
    )
    k = Counter(r.event_type for r in rows)
    span = {
        t: (max(r.ms for r in rows if r.event_type == t) - min(r.ms for r in rows if r.event_type == t)) / 1000
        for t in ("click", "view")
    }
    got = events_poisson_rate_test(spark, SF_SMOKE).collect()[0]
    assert (got.k1, got.k2) == (k["click"], k["view"])
    n, p0 = k["click"] + k["view"], span["click"] / (span["click"] + span["view"])
    z = (k["click"] - n * p0) / math.sqrt(n * p0 * (1 - p0))
    assert abs(got.z_cond - z) < 1e-5
    assert abs(got.rate1 - k["click"] / span["click"]) < 1e-5


def test_cramers_v_python_recompute_and_correction_shrinks(spark):
    from pyspark.sql import functions as F
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_cramers_v

    rows = (
        _t(spark, SF_SMOKE, "orders")
        .select("o_orderpriority", F.year("o_orderdate").alias("yr"))
        .collect()
    )
    obs = Counter((r.o_orderpriority, r.yr) for r in rows)
    rm, cm = Counter(), Counter()
    for (p, y), n in obs.items():
        rm[p] += n
        cm[y] += n
    t = sum(obs.values())
    chi2 = sum(
        (n - rm[p] * cm[y] / t) ** 2 / (rm[p] * cm[y] / t)
        for (p, y), n in obs.items()
    )
    r, c = len(rm), len(cm)
    v = math.sqrt(chi2 / (t * min(r - 1, c - 1)))
    got = stats_cramers_v(spark, SF_SMOKE).collect()[0]
    assert (got.n, got.n_rows, got.n_cols) == (t, r, c)
    assert abs(got.chi2 - chi2) < 1e-4
    assert abs(got.cramers_v - v) < 1e-6
    # Bergsma correction only ever shrinks the estimate
    assert got.cramers_v_corrected <= got.cramers_v + 1e-12


def test_brown_forsythe_python_recompute(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_brown_forsythe

    rows = (
        _t(spark, SF_SMOKE, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r.o_orderpriority].append(r.o_totalprice)

    def median(xs):
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    z = {g: [abs(y - median(ys)) for y in ys] for g, ys in groups.items()}
    k = len(z)
    nt = sum(len(v) for v in z.values())
    zg = sum(sum(v) for v in z.values()) / nt
    num = sum(len(v) * (sum(v) / len(v) - zg) ** 2 for v in z.values())
    den = sum(
        (x - sum(v) / len(v)) ** 2 for v in z.values() for x in v
    )
    w = (nt - k) / (k - 1) * num / den
    got = stats_brown_forsythe(spark, SF_SMOKE).collect()[0]
    assert (got.df1, got.df2) == (k - 1, nt - k)
    assert abs(got.w_stat - w) < 1e-5
