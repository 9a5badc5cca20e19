"""Pins for the information-gain decision stump (queries/ml.py)."""

from __future__ import annotations

import math

from tests.conftest import SF_SMALL


def _H(p: float) -> float:
    if p <= 0 or p >= 1:
        return 0.0
    return -p * math.log2(p) - (1 - p) * math.log2(1 - p)


def test_stump_matches_per_candidate_rescan(spark):
    """Ground truth by the naive method the operator avoids: rescan
    the full data per candidate threshold."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.ml import ml_decision_stump

    data = [
        (
            r.o_totalprice,
            1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0,
        )
        for r in _t(spark, SF_SMALL, "orders")
        .select("o_totalprice", "o_orderpriority")
        .collect()
    ]
    nn = len(data)
    kk = sum(y for _, y in data)
    rows = sorted(ml_decision_stump(spark, SF_SMALL).collect(), key=lambda r: r.thr)
    assert len(rows) == 9
    for r in rows:
        nl = sum(1 for x, _ in data if x <= r.thr)
        kl = sum(y for x, y in data if x <= r.thr)
        assert (r.n_left, r.k_left) == (nl, kl)
        gain = (
            _H(kk / nn)
            - (nl / nn) * _H(kl / nl)
            - ((nn - nl) / nn) * _H((kk - kl) / (nn - nl))
        )
        assert abs(r.gain - round(gain, 6)) < 1e-9
        assert r.gain >= 0  # information gain is never negative
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    assert best[0].gain == max(r.gain for r in rows)
    # candidates genuinely fence deciles: left counts are spread, not
    # clustered at one end
    fracs = sorted(r.n_left / nn for r in rows)
    assert fracs[0] < 0.2 and fracs[-1] > 0.8


def test_gain_is_zero_for_independent_and_positive_for_separating():
    """Algebraic sanity on constructed contingencies: a split that
    preserves the label rate gains exactly 0; a perfectly separating
    split recovers the full parent entropy."""
    nn, kk = 100, 40
    # label-independent split: left is 50 rows with 20 positives
    nl, kl = 50, 20
    gain0 = (
        _H(kk / nn) - (nl / nn) * _H(kl / nl)
        - ((nn - nl) / nn) * _H((kk - kl) / (nn - nl))
    )
    assert abs(gain0) < 1e-12
    # perfect split: all positives left
    nl, kl = 40, 40
    gain1 = (
        _H(kk / nn) - (nl / nn) * _H(kl / nl)
        - ((nn - nl) / nn) * _H((kk - kl) / (nn - nl))
    )
    assert abs(gain1 - _H(kk / nn)) < 1e-12
