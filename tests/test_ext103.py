"""Pins for the round-13 pipeline-health wave (queries: pipeline, similarity, stats)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from tests.conftest import SF_SMOKE


def test_dedup_impact_consistent_with_dedup_exact(spark):
    from stockify_spark.llm.dedup import exact_dedup
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import pipeline_dedup_impact

    docs = _t(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    groups = Counter(r.text for r in docs)
    toks = {}
    for r in docs:
        toks[r.text] = len(r.text.split(" "))
    got = pipeline_dedup_impact(spark, SF_SMOKE).collect()[0]
    assert got.docs_before == len(docs)
    assert got.docs_after == len(groups)
    assert got.docs_removed == len(docs) - len(groups)
    assert got.tokens_before == sum(groups[t] * toks[t] for t in groups)
    assert got.tokens_after == sum(toks[t] for t in groups)
    assert got.largest_dup_group == max(groups.values())
    assert abs(got.doc_dup_ratio - (1 - len(groups) / len(docs))) < 1e-6
    # relationship with the operator it predicts: exact_dedup
    # fingerprints NORMALIZED text, which can only merge MORE than
    # raw-text equality — its keeper count is bounded by docs_after
    kept = exact_dedup(
        _t(spark, SF_SMOKE, "documents"), "text", "doc_id"
    ).count()
    assert kept <= got.docs_after


def test_embedding_health_matches_numpy(spark):
    import numpy as np

    from stockify_spark.registry import _t
    from stockify_spark.queries.similarity import sim_embedding_health

    by_label = defaultdict(list)
    for r in _t(spark, SF_SMOKE, "embeddings").collect():
        by_label[r.label].append(np.array(r.embedding, dtype=np.float64))
    got = {r.label: r for r in sim_embedding_health(spark, SF_SMOKE).collect()}
    assert set(got) == set(by_label)
    for lab, vecs in by_label.items():
        norms = [float(np.sqrt(v @ v)) for v in vecs]
        g = got[lab]
        assert g.n_vecs == len(vecs) and g.dim == 64
        assert abs(g.norm_min - min(norms)) < 1e-5
        assert abs(g.norm_max - max(norms)) < 1e-5
        mean = sum(norms) / len(norms)
        assert abs(g.norm_mean - mean) < 1e-5
        sd = math.sqrt(sum((x - mean) ** 2 for x in norms) / len(norms))
        assert abs(g.norm_cv - sd / mean) < 1e-5
        assert g.n_degenerate == sum(1 for x in norms if x < 1e-6)
        # health invariants this corpus satisfies (an index build
        # would assert exactly these)
        assert g.n_degenerate == 0 and g.norm_min > 0


def test_cohens_d_matches_python_and_g_shrinks(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_cohens_d

    rows = _t(spark, SF_SMOKE, "events").select("event_type", "value").collect()
    a = [r.value for r in rows if r.event_type == "click"]
    b = [r.value for r in rows if r.event_type == "view"]

    def mean(x):
        return sum(x) / len(x)

    def var_s(x):
        m = mean(x)
        return sum((v - m) ** 2 for v in x) / (len(x) - 1)

    n1, n2 = len(a), len(b)
    pooled = ((n1 - 1) * var_s(a) + (n2 - 1) * var_s(b)) / (n1 + n2 - 2)
    d = (mean(a) - mean(b)) / math.sqrt(pooled)
    got = stats_cohens_d(spark, SF_SMOKE).collect()[0]
    assert (got.n1, got.n2) == (n1, n2)
    assert abs(got.cohens_d - d) < 1e-5
    g = d * (1 - 3 / (4 * (n1 + n2) - 9))
    assert abs(got.hedges_g - g) < 1e-5
    # Hedges' correction SHRINKS toward zero, never past it
    assert abs(got.hedges_g) <= abs(got.cohens_d)
    assert got.hedges_g * got.cohens_d >= 0
    assert got.se_d > 0


def test_bland_altman_matches_python(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.stats import stats_bland_altman

    series = defaultdict(list)
    for r in (
        _t(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "value", F.unix_millis("ts").alias("ms"))
        .collect()
    ):
        series[r.user_id].append((r.ms, r.event_id, r.value))
    diffs = []
    for v in series.values():
        vals = [x[2] for x in sorted(v)]
        diffs += [b - a for a, b in zip(vals, vals[1:])]
    n = len(diffs)
    bias = sum(diffs) / n
    sd = math.sqrt(sum((d - bias) ** 2 for d in diffs) / (n - 1))
    within = sum(1 for d in diffs if bias - 1.96 * sd <= d <= bias + 1.96 * sd) / n
    got = stats_bland_altman(spark, SF_SMOKE).collect()[0]
    assert got.n == n
    assert abs(got.bias - bias) < 1e-5
    assert abs(got.sd_diff - sd) < 1e-5
    assert abs(got.loa_lower - (bias - 1.96 * sd)) < 1e-4
    assert abs(got.loa_upper - (bias + 1.96 * sd)) < 1e-4
    assert abs(got.frac_within - within) < 1e-6
    # near-normal differences put ~95% inside the limits
    assert 0.90 <= got.frac_within <= 0.99
