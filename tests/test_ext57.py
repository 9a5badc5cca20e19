"""Pins for skip-gram pairs + negative sampling (queries/text.py)."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_SMALL

_W = 2


def _pairs(spark):
    from stockify_spark.registry import _t

    pc: Counter = Counter()
    for r in _t(spark, SF_SMALL, "documents").select("text").collect():
        ts = r.text.lower().split(" ")
        for i, w in enumerate(ts):
            for d in range(1, _W + 1):
                if i + d < len(ts):
                    pc[(w, ts[i + d])] += 1
                    pc[(ts[i + d], w)] += 1
    return pc


def test_top_pairs_match_and_are_symmetric(spark):
    from stockify_spark.queries.text import text_skipgram_pairs

    pc = _pairs(spark)
    rows = text_skipgram_pairs(spark, SF_SMALL).collect()
    assert len(rows) == 100
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    got = sorted(
        ((r.center, r.context), r.n) for r in rows
    )
    assert got == sorted(want)
    # symmetry: every top pair's mirror has the same count
    for (c, x), n in want:
        assert pc[(x, c)] == n


def test_three_quarter_power_lifts_rare_words(spark):
    """The published property of unigram^0.75: relative to the raw
    unigram distribution, rare words gain sampling mass and frequent
    words lose it (p_neg/p_unigram decreases monotonically in
    frequency)."""
    from stockify_spark.queries.text import text_skipgram_pairs

    pc = _pairs(spark)
    uni: Counter = Counter()
    for (_, x), n in pc.items():
        uni[x] += n
    tot_f = sum(uni.values())
    tot_p = round(sum(f**0.75 for f in uni.values()), 6)
    rows = text_skipgram_pairs(spark, SF_SMALL).collect()
    seen = {}
    for r in rows:
        seen[r.context] = (uni[r.context], r.p_neg_context)
    assert len(seen) >= 2
    ordered = sorted(seen.values())
    for (f1, p1), (f2, p2) in zip(ordered, ordered[1:]):
        if f1 == f2:
            continue
        # lift ratio vs raw unigram must decrease with frequency
        lift1 = p1 / (f1 / tot_f)
        lift2 = p2 / (f2 / tot_f)
        assert lift1 > lift2, (f1, f2)
    # and the operator's p matches the closed form
    for w, (f, p) in seen.items():
        assert abs(p - round(f**0.75 / tot_p, 6)) < 1e-6
