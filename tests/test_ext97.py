"""Pins for the round-13 measurement-science wave (queries: ml, similarity, stats)."""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_SMOKE


def _moments(pairs):
    n = len(pairs)
    mx = sum(a for a, _ in pairs) / n
    my = sum(b for _, b in pairs) / n
    sxx = sum((a - mx) ** 2 for a, _ in pairs) / n
    syy = sum((b - my) ** 2 for _, b in pairs) / n
    sxy = sum((a - mx) * (b - my) for a, b in pairs) / n
    return mx, my, sxx, syy, sxy


def test_lin_ccc_matches_python_and_is_bounded_by_pearson(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_lin_ccc

    rows = (
        _t(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "value", F.unix_millis("ts").alias("ms"))
        .collect()
    )
    series = defaultdict(list)
    for r in rows:
        series[r.user_id].append((r.ms, r.event_id, r.value))
    pairs = []
    for v in series.values():
        vals = [x[2] for x in sorted(v)]
        pairs += list(zip(vals[1:], vals[:-1]))
    mx, my, sxx, syy, sxy = _moments(pairs)
    ccc = 2 * sxy / (sxx + syy + (mx - my) ** 2)
    r_ = sxy / math.sqrt(sxx * syy)
    got = stats_lin_ccc(spark, SF_SMOKE).collect()[0]
    assert got.n == len(pairs)
    assert abs(got.ccc - ccc) < 1e-5
    assert abs(got.pearson_r - r_) < 1e-5
    # Lin's inequality: |CCC| <= |r|, equality iff no location/scale
    # shift; c_b is the bias factor in (0, 1]
    assert abs(got.ccc) <= abs(got.pearson_r) + 1e-9
    assert 0 < got.c_b <= 1 + 1e-9


def test_deming_matches_python_and_beats_ols_attenuation(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_deming_regression

    o = _t(spark, SF_SMOKE, "orders").select("o_custkey", "o_totalprice").collect()
    c = {
        r.c_custkey: r.c_acctbal
        for r in _t(spark, SF_SMOKE, "customer").select("c_custkey", "c_acctbal").collect()
    }
    agg = defaultdict(lambda: [0, 0.0])
    for r in o:
        agg[r.o_custkey][0] += 1
        agg[r.o_custkey][1] += r.o_totalprice
    pairs = [(c[k], s / n) for k, (n, s) in agg.items() if k in c]
    mx, my, sxx, syy, sxy = _moments(pairs)
    slope = (syy - sxx + math.sqrt((syy - sxx) ** 2 + 4 * sxy**2)) / (2 * sxy)
    got = stats_deming_regression(spark, SF_SMOKE).collect()[0]
    assert got.n == len(pairs)
    assert abs(got.slope - slope) < 1e-4
    assert abs(got.intercept - (my - slope * mx)) < 0.1
    # errors-in-variables: |Deming slope| >= |OLS slope| (attenuation)
    assert abs(slope) >= abs(sxy / sxx) - 1e-12


def test_matryoshka_rerank_recall_vs_bruteforce(spark):
    """The prefix stage is approximate; what's PINNED is the exact
    contract: stage-2 results are the true top-5 AMONG the stage-1
    shortlist, and on this corpus the shortlist of 32 recovers most
    of the exact top-5."""
    import numpy as np

    from stockify_spark.registry import _t
    from stockify_spark.queries.similarity import sim_matryoshka_topk

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in _t(spark, SF_SMOKE, "embeddings").collect()
    }
    got = defaultdict(list)
    for r in sim_matryoshka_topk(spark, SF_SMOKE).collect():
        got[r.query_id].append((r.rank, r.vec_id, r.cos_full))

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    hits = total = 0
    for q in range(5):
        qv = emb[q]
        pre = sorted(
            ((cos(qv[:8], emb[i][:8]), -i) for i in emb if i != q), reverse=True
        )[:32]
        cand = {-negi for _, negi in pre}
        exact_in_cand = sorted(
            ((cos(qv, emb[i]), -i) for i in cand), reverse=True
        )[:5]
        want = [-negi for _, negi in exact_in_cand]
        rows = sorted(got[q])
        assert [v for _, v, _ in rows] == want
        brute = {
            -negi
            for _, negi in sorted(
                ((cos(qv, emb[i]), -i) for i in emb if i != q), reverse=True
            )[:5]
        }
        hits += len(brute & set(want))
        total += 5
    # these synthetic embeddings are NOT MRL-trained, so prefix
    # recall is weak by construction (~24% here) — the pin is only
    # that the shortlist genuinely overlaps the exact answer; the
    # HARD contract asserted above is exactness within the shortlist
    assert hits / total >= 0.15


def test_lda_fisher_direction_maximizes_separation(spark):
    """Fisher's w maximizes between/within separation: compare its
    criterion value against axis-aligned and random directions."""
    import numpy as np

    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_lda_fisher

    got = ml_lda_fisher(spark, SF_SMOKE).collect()[0]
    raw = _t(spark, SF_SMOKE, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.col("o_totalprice").alias("r1"),
        (F.unix_millis("o_orderdate") / 86400000.0).alias("r2"),
    ).collect()
    x = np.array([[r.r1, r.r2] for r in raw])
    y = np.array([r.y for r in raw])
    z = (x - x.mean(axis=0)) / x.std(axis=0)
    z = np.round(z, 6)

    def crit(w):
        p = z @ w
        m1, m0 = p[y == 1].mean(), p[y == 0].mean()
        v = np.concatenate([p[y == 1] - m1, p[y == 0] - m0])
        return (m1 - m0) ** 2 / (v @ v / len(v))

    w = np.array([got.w1, got.w2])
    best = crit(w)
    rng = np.random.default_rng(7)
    for other in [np.array([1.0, 0]), np.array([0, 1.0])] + [
        rng.normal(size=2) for _ in range(20)
    ]:
        assert best >= crit(other) - 1e-6
    # train accuracy is reported against the midpoint rule
    pred = (z @ w > got.t).astype(int)
    assert abs((pred == y).mean() - got.train_acc) < 1e-6


def test_mcnemar_counts_and_statistic(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_mcnemar

    o = _t(spark, SF_SMOKE, "orders").select(
        "o_totalprice", "o_orderstatus", "o_orderpriority"
    ).collect()
    vals = sorted(r.o_totalprice for r in o)
    n = len(vals)
    md = vals[n // 2] if n % 2 else (vals[n // 2 - 1] + vals[n // 2]) / 2
    b = c = 0
    for r in o:
        y = 1 if r.o_orderstatus == "F" else 0
        pa = 1 if r.o_totalprice > md else 0
        pb = 1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
        if pa == y and pb != y:
            b += 1
        if pa != y and pb == y:
            c += 1
    got = stats_mcnemar(spark, SF_SMOKE).collect()[0]
    assert (got.b, got.c) == (b, c)
    assert abs(got.chi2_cc - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-6
