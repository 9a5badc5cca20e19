"""Pins for the character-entropy quality signal (queries/text.py)."""

from __future__ import annotations

import math
import zlib
from collections import Counter

from tests.conftest import SF_SMALL


def _H(text: str) -> float:
    cnt = Counter(text)
    n = len(text)
    return -sum(k / n * math.log2(k / n) for k in cnt.values())


def test_entropy_matches_brute_recount_and_bounds(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.text import text_char_entropy

    docs = {
        r.doc_id: r.text
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    rows = {r.doc_id: r for r in text_char_entropy(spark, SF_SMALL).collect()}
    assert set(rows) == set(docs)
    for doc_id, text in docs.items():
        r = rows[doc_id]
        assert r.n_chars == len(text)
        assert r.alphabet == len(set(text))
        assert abs(r.entropy_bits - round(_H(text), 6)) < 1e-6
        # Shannon bounds: 0 <= H <= log2(alphabet)
        assert -1e-9 <= r.entropy_bits <= math.log2(r.alphabet) + 1e-9


def test_entropy_tracks_compressibility():
    """The reason the signal exists: low-entropy (repetitive) text
    compresses far better under a real compressor. Constructed
    extremes plus the axioms (one-char text = 0 bits, uniform
    alphabet = log2|A| exactly, concentration lowers H)."""
    flat = "ab" * 500
    prose = (
        "the quick brown fox jumps over the lazy dog while many other "
        "animals watch from beyond the quiet green hill in the evening "
    ) * 8
    assert _H("aaaa") == 0.0
    uniform = "abcdefgh" * 100
    assert abs(_H(uniform) - 3.0) < 1e-12
    assert _H("aaab") < _H("aabb")  # concentration lowers entropy
    ratio_flat = len(zlib.compress(flat.encode())) / len(flat)
    ratio_prose = len(zlib.compress(prose.encode())) / len(prose)
    assert _H(flat) < _H(prose)
    assert ratio_flat < ratio_prose  # entropy ordered with compression
