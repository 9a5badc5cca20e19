"""Pins for Burrows' Delta stylometry (queries/text.py)."""

from __future__ import annotations

from collections import Counter

import numpy as np

from tests.conftest import SF_SMALL

_M = 20


def _profiles(spark):
    from stockify_spark.registry import _t

    per_source: dict = {}
    corpus: Counter = Counter()
    for r in _t(spark, SF_SMALL, "documents").select("source", "text").collect():
        toks = r.text.lower().split(" ")
        per_source.setdefault(r.source, Counter()).update(toks)
        corpus.update(toks)
    markers = [
        w for w, _ in sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:_M]
    ]
    sources = sorted(per_source)
    fr = np.array(
        [
            [per_source[s][w] / sum(per_source[s].values()) for w in markers]
            for s in sources
        ]
    )
    return sources, markers, fr


def test_delta_matches_numpy_and_is_a_metric_on_profiles(spark):
    from stockify_spark.queries.text import text_stylometry_delta

    sources, _markers, fr = _profiles(spark)
    mu = fr.mean(axis=0)
    sd = np.sqrt((fr * fr).mean(axis=0) - mu * mu)
    keep = sd > 0
    z = (fr[:, keep] - mu[keep]) / sd[keep]
    rows = {
        (r.src_a, r.src_b): r.delta
        for r in text_stylometry_delta(spark, SF_SMALL).collect()
    }
    n = len(sources)
    assert len(rows) == n * (n - 1) // 2
    for i in range(n):
        for j in range(i + 1, n):
            want = float(np.mean(np.abs(z[i] - z[j])))
            got = rows[(sources[i], sources[j])]
            assert abs(got - want) < 1e-4, (sources[i], sources[j])
            assert got > 0  # distinct synthetic sources never tie at 0
    # z-scoring equalizes marker contributions: every kept word has
    # unit variance across sources
    assert np.allclose((z * z).mean(axis=0) - z.mean(axis=0) ** 2, 1.0)


def test_delta_flags_a_cloned_source():
    """The provenance property: a style-clone (identical frequency
    profile) sits at delta 0 from its origin while genuinely
    different profiles are far — built on constructed profiles, the
    engine's arithmetic mirrored exactly."""
    fr = np.array(
        [
            [0.10, 0.05, 0.02, 0.01],
            [0.10, 0.05, 0.02, 0.01],   # clone of source 0
            [0.01, 0.02, 0.05, 0.10],   # reversed style
        ]
    )
    mu = fr.mean(axis=0)
    sd = np.sqrt((fr * fr).mean(axis=0) - mu * mu)
    z = (fr - mu) / sd
    d01 = np.mean(np.abs(z[0] - z[1]))
    d02 = np.mean(np.abs(z[0] - z[2]))
    assert d01 == 0.0
    assert d02 > 1.0
