"""Pins for BPE encoding (queries/text.py)."""

from __future__ import annotations

import re
from collections import Counter

from tests.conftest import SF_SMALL


def _serial_bpe(words: Counter, steps: int = 4):
    """Independent serial BPE (list-of-symbols form, no string
    fencing): returns (merges, encoded) for cross-checking the
    fenced-replace implementation."""
    enc = {w: list(w) for w in words}
    merges = []
    for _ in range(steps):
        pc: Counter = Counter()
        for w, syms in enc.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += words[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w, syms in enc.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            enc[w] = out
    return merges, enc


def _vocab(spark):
    from stockify_spark.registry import _t

    words: Counter = Counter()
    for r in _t(spark, SF_SMALL, "documents").select("text").collect():
        for w in r.text.lower().split(" "):
            if re.fullmatch(r"[a-z]+", w) and 2 <= len(w) <= 12:
                words[w] += 1
    return words


def test_encoding_matches_independent_serial_bpe(spark):
    from stockify_spark.queries.text import tokenizer_bpe_apply

    words = _vocab(spark)
    _, enc = _serial_bpe(words)
    rows = tokenizer_bpe_apply(spark, SF_SMALL).collect()
    assert len(rows) == len(enc)
    for r in rows:
        assert r.tokens.split(" ") == enc[r.word], r.word
        assert r.n_tokens == len(enc[r.word])
        assert r.cnt == words[r.word]
        assert "".join(r.tokens.split(" ")) == r.word  # lossless


def test_encoding_is_merge_order_dependent(spark):
    """Applying the learned merges in REVERSE order must change at
    least one word's encoding — otherwise the 'in learned order'
    clause of the contract is vacuous on this corpus. (A later merge
    can consume a symbol an earlier merge created; reversing starves
    it.)"""
    words = _vocab(spark)
    merges, enc = _serial_bpe(words)
    chained = any(
        m2[0] == m1[0] + m1[1] or m2[1] == m1[0] + m1[1]
        for i, m1 in enumerate(merges)
        for m2 in merges[i + 1 :]
    )
    rev = {w: list(w) for w in words}
    for best in reversed(merges):
        for w, syms in rev.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            rev[w] = out
    if chained:
        assert rev != enc
    else:
        # corpus didn't produce chained merges at 4 steps — the pin
        # still verifies reverse-apply equals forward-apply then
        assert rev == enc
