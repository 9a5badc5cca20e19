"""Pins for the round-13 scoring/tails wave (queries: events, ml, orders, stats).

Hill and scorecard tests run at SF_SMALL (sf0.01): the Hill
estimator needs > k+1 = 31 user series and sf0.001 has 15.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from tests.conftest import SF_SMALL, SF_SMOKE


def test_scorecard_woe_iv_python_recompute(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.orders import orders_credit_scorecard

    rows = _t(spark, SF_SMALL, "orders").select(
        "o_totalprice", "o_orderstatus"
    ).collect()
    data = sorted(
        (r.o_totalprice, 1 if r.o_orderstatus == "F" else 0) for r in rows
    )
    n = len(data)
    # NTILE semantics: first (n % 10) buckets get ceil(n/10)
    base, extra = divmod(n, 10)
    buckets = []
    pos = 0
    for b in range(10):
        size = base + (1 if b < extra else 0)
        buckets.append(data[pos : pos + size])
        pos += size
    tbad = sum(y for _, y in data)
    tgood = n - tbad
    iv = 0.0
    woes = []
    for bk in buckets:
        nbad = sum(y for _, y in bk)
        ngood = len(bk) - nbad
        woe = math.log((ngood / tgood) / (nbad / tbad))
        woes.append((len(bk), nbad, woe))
        iv += (ngood / tgood - nbad / tbad) * woe
    got = sorted(
        orders_credit_scorecard(spark, SF_SMALL).collect(),
        key=lambda r: r.bucket,
    )
    assert len(got) == 10
    for r, (sz, nbad, woe) in zip(got, woes):
        assert r.n == sz
        assert abs(r.woe - woe) < 1e-5
        assert abs(r.iv - iv) < 1e-5
        assert abs(r.pct_bad - nbad / tbad) < 1e-6


def test_auc_equals_pair_counting(spark):
    """The Mann-Whitney rank formula must equal the O(n²) definition:
    P(score_pos > score_neg) + ½P(tie), counted directly."""
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_gini_auc

    rows = _t(spark, SF_SMOKE, "orders").select(
        "o_totalprice", "o_orderstatus"
    ).collect()
    vals = [r.o_totalprice for r in rows]
    mu = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / len(vals))
    pos = [round((r.o_totalprice - mu) / sd, 6) for r in rows if r.o_orderstatus == "F"]
    neg = [round((r.o_totalprice - mu) / sd, 6) for r in rows if r.o_orderstatus != "F"]
    wins = ties = 0
    for a in pos:
        for b in neg:
            if a > b:
                wins += 1
            elif a == b:
                ties += 1
    auc = (wins + ties / 2) / (len(pos) * len(neg))
    got = stats_gini_auc(spark, SF_SMOKE).collect()[0]
    assert (got.n_pos, got.n_neg) == (len(pos), len(neg))
    assert abs(got.auc - auc) < 1e-6
    assert abs(got.gini - (2 * auc - 1)) < 1e-6


def test_hill_estimator_matches_python_and_recovers_pareto(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.events import events_power_law_hill

    counts = Counter()
    for r in _t(spark, SF_SMALL, "events").select("user_id").collect():
        counts[r.user_id] += 1
    xs = sorted(counts.values(), reverse=True)
    k = 30
    xk = xs[k]
    alpha = k / sum(math.log(x / xk) for x in xs[:k])
    got = events_power_law_hill(spark, SF_SMALL).collect()[0]
    assert got.k_used == k
    assert abs(got.x_k - xk) < 1e-9
    assert abs(got.hill_alpha - alpha) < 1e-4
    assert abs(got.pareto_exponent - (1 + alpha)) < 1e-4
    # estimator sanity on a known tail: exact Pareto(α=2) order stats
    # x_(i) = (k+1 choose i)-ish spacing — use the deterministic
    # quantile ladder x_i = (1 - i/(n+1))^(-1/2): Hill ≈ 2
    n = 4000
    ladder = sorted(
        ((1 - i / (n + 1)) ** -0.5 for i in range(1, n + 1)), reverse=True
    )
    kk = 200
    a2 = kk / sum(math.log(x / ladder[kk]) for x in ladder[:kk])
    assert abs(a2 - 2.0) < 0.15


def test_nearest_centroid_matches_numpy(spark):
    import numpy as np

    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_nearest_centroid

    rows = _t(spark, SF_SMOKE, "embeddings").collect()
    by_label = defaultdict(list)
    for r in rows:
        by_label[r.label].append(np.array(r.embedding, dtype=np.float64))
    cents = {l: np.mean(v, axis=0) for l, v in by_label.items()}
    conf = Counter()
    for r in rows:
        x = np.array(r.embedding, dtype=np.float64)
        scored = sorted(
            (
                (-round(float(x @ c / np.linalg.norm(c)), 6), l)
                for l, c in cents.items()
            )
        )
        conf[(r.label, scored[0][1])] += 1
    got = {
        (r.label, r.predicted): r.n
        for r in ml_nearest_centroid(spark, SF_SMOKE).collect()
    }
    assert got == dict(conf)
    # the classifier must beat the majority-class baseline on its
    # own training data (centroids carry real signal here)
    correct = sum(n for (t, p), n in got.items() if t == p)
    total = sum(got.values())
    majority = max(
        sum(n for (t, _), n in got.items() if t == l)
        for l in {t for t, _ in got}
    )
    assert correct > majority
