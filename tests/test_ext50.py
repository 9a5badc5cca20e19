"""Pins for the seeded Laplace DP release (queries/pipeline.py)."""

from __future__ import annotations

import hashlib
import math

from tests.conftest import SF_SMALL

from stockify_spark.queries.pipeline import _B, _SEED


def _noise(key: str) -> float:
    u = (
        int(hashlib.md5(f"{_SEED}|{key}".encode()).hexdigest()[:8], 16)
        / 4294967296.0
    )
    return -_B * (1.0 if u >= 0.5 else -1.0) * math.log(1 - 2 * abs(u - 0.5))


def test_release_matches_reimplemented_mechanism(spark):
    from pyspark.sql import functions as F

    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import dq_dp_counts

    true = {
        r.event_type: r.n
        for r in _t(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = dq_dp_counts(spark, SF_SMALL).collect()
    assert len(rows) == len(true)
    for r in rows:
        assert r.n_users == true[r.event_type]
        assert abs(r.noisy_count - round(true[r.event_type] + _noise(r.event_type), 6)) < 1e-9
        assert r.epsilon == 0.5
        # noise is bounded in practice but must actually perturb
        assert r.noisy_count != r.n_users


def test_inverse_cdf_produces_laplace():
    """Distributional pin over 20k seeded keys: symmetric sign
    split, E|x| -> b, and P(|x| > t) -> exp(-t/b) at two fences."""
    xs = [_noise(f"key-{i}") for i in range(20_000)]
    n = len(xs)
    pos = sum(1 for x in xs if x > 0)
    assert abs(pos / n - 0.5) < 0.02
    mean_abs = sum(abs(x) for x in xs) / n
    assert abs(mean_abs - _B) < 0.05 * _B
    for t in (1.0, 3.0):
        tail = sum(1 for x in xs if abs(x) > t) / n
        assert abs(tail - math.exp(-t / _B)) < 0.02
