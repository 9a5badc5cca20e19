"""Pins for interpolated Kneser-Ney smoothing (queries/text.py)."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from tests.conftest import SF_SMALL

_D = 0.75


def _counts(spark):
    from stockify_spark.registry import _t

    c2: Counter = Counter()
    for r in _t(spark, SF_SMALL, "documents").select("text").collect():
        ts = re.split(r"\s+", r.text.lower().strip())
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] += 1
    return c2


def _kn(c2):
    c1: Counter = Counter()
    n1p: Counter = Counter()
    nc: Counter = Counter()
    for (a, b), c in c2.items():
        c1[a] += c
        n1p[a] += 1
        nc[b] += 1
    ntot = len(c2)

    def p(a, b):
        return max(c2.get((a, b), 0) - _D, 0) / c1[a] + (
            (_D * n1p[a]) / c1[a]
        ) * (nc[b] / ntot)

    return p, c1, n1p, nc


def test_kn_rows_match_and_every_context_normalizes(spark):
    from stockify_spark.queries.text import text_kneser_ney

    c2 = _counts(spark)
    p, c1, n1p, nc = _kn(c2)
    rows = text_kneser_ney(spark, SF_SMALL).collect()
    assert len(rows) == 50
    vocab2 = set(nc)
    checked_ctx = set()
    for r in rows:
        assert r.n == c2[(r.w1, r.w2)]
        assert abs(r.p_kn - round(p(r.w1, r.w2), 6)) < 1e-9
        checked_ctx.add(r.w1)
    # full-vocabulary normalization: sum over every possible w2
    # (observed AND unseen pairs) is exactly 1 for each context
    for a in list(checked_ctx)[:5]:
        total = sum(p(a, b) for b in vocab2)
        assert abs(total - 1.0) < 1e-9, (a, total)


def test_continuation_beats_frequency():
    """The KN signature ('san francisco'): a word that is FREQUENT
    but follows only one context gets LESS unseen-pair probability
    than a rarer word with diverse contexts. Constructed counts:
    'francisco' appears 20x, always after 'san'; 'city' appears 6x
    after 6 different words."""
    c2 = Counter({("san", "francisco"): 20})
    for i in range(6):
        c2[(f"w{i}", "city")] = 1
    c2[("the", "house")] = 5  # an unrelated context to query from
    p, _, _, nc = _kn(c2)
    freq = defaultdict(int)
    for (_, b), c in c2.items():
        freq[b] += c
    assert freq["francisco"] > freq["city"]  # raw frequency says francisco
    assert nc["city"] > nc["francisco"]  # continuation says city
    # unseen-pair backoff: P(city | the) must beat P(francisco | the)
    assert p("the", "city") > p("the", "francisco")
    # while the seen pair keeps dominating its own context
    assert p("san", "francisco") > p("san", "city")
