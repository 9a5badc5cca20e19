"""Pins for content-defined chunking dedup (queries/pipeline.py)."""

from __future__ import annotations

import hashlib
from collections import Counter

from tests.conftest import SF_SMALL

_W = 8
_D = 32

# non-repetitive filler: every 55-char segment is unique, so neither
# test can pass by accident through text periodicity
_FILLER = "".join(
    f"seg{i:03d}-alpha{i:03d}-beta{i:03d}-gamma{i:03d}-delta{i:03d}; "
    for i in range(24)
)


def _cuts(text: str) -> list[int]:
    """Independent reimplementation of the CDC boundary rule:
    1-based end positions where md5int of the trailing 8 chars is
    0 mod 32, plus the document end."""
    n = len(text)
    cuts = [
        i
        for i in range(_W, n + 1)
        if int(hashlib.md5(text[i - _W : i].encode()).hexdigest()[:8], 16)
        % _D
        == 0
    ]
    if not cuts or cuts[-1] != n:
        cuts.append(n)
    return cuts


def _chunks(text: str) -> list[str]:
    out, s = [], 0
    for e in _cuts(text):
        out.append(text[s:e])
        s = e
    return out


def test_cdc_report_matches_independent_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import pipeline_cdc_chunk_dedup

    texts = {
        r.doc_id: r.text
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    occ: Counter = Counter()
    per_doc: dict = {}
    for doc_id, text in texts.items():
        ch = _chunks(text)
        per_doc[doc_id] = ch
        for c in ch:
            occ[c] += 1
    rows = pipeline_cdc_chunk_dedup(spark, SF_SMALL).collect()
    assert len(rows) == len(texts)
    for r in rows:
        ch = per_doc[r.doc_id]
        assert r.n_chunks == len(ch)
        assert r.n_chars == len(texts[r.doc_id])
        # chunks cover the document exactly once
        assert sum(len(c) for c in ch) == r.n_chars
        dup = sum(len(c) for c in ch if occ[c] > 1)
        assert r.dup_chars == dup
        assert 0.0 <= r.dup_ratio <= 1.0


def test_cdc_boundaries_shift_invariant():
    """The CDC property fixed-stride chunking lacks: prepending a
    prefix perturbs only the chunks that overlap it — every chunk
    that starts at least W-1 chars past the prefix reappears
    verbatim in the shifted document's chunk set."""
    base = _FILLER
    shifted = "INSERTED-PREFIX-" + base
    a = _chunks(base)
    b = set(_chunks(shifted))
    prefix_reach = len("INSERTED-PREFIX-") + _W - 1
    pos = 0
    survivors = 0
    for c in a:
        # chunk starts after the prefix's hash influence and is
        # closed by a content cut (not the artificial doc end)
        if pos >= _W - 1 and pos + len(c) < len(base):
            assert c in b
            survivors += 1
        pos += len(c)
    assert survivors >= 3  # the property is exercised, not vacuous


def test_cdc_fixed_stride_breaks_under_shift():
    """Contrast pin: fixed 32-char blocks share (almost) nothing
    after an offset shift, which is exactly why the CDC operator
    exists."""
    base = _FILLER
    shifted = "INSERTED-PREFIX-" + base
    fixed = {base[i : i + 32] for i in range(0, len(base), 32)}
    fixed_shifted = {shifted[i : i + 32] for i in range(0, len(shifted), 32)}
    # offset 16 is coprime-ish with 32: every interior block moves
    assert len(fixed & fixed_shifted) <= 1
