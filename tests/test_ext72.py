"""Pins for TTR/MATTR lexical diversity (queries/text.py)."""

from __future__ import annotations

from tests.conftest import SF_SMALL

_W = 25


def _mattr(toks):
    if len(toks) < _W:
        return None
    ds = [
        len(set(toks[i : i + _W])) for i in range(len(toks) - _W + 1)
    ]
    return sum(ds) / (len(ds) * _W)


def test_mattr_matches_brute_force_window_recount(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.text import text_mattr

    docs = {
        r.doc_id: r.text.lower().split(" ")
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    rows = {r.doc_id: r for r in text_mattr(spark, SF_SMALL).collect()}
    assert set(rows) == set(docs)
    n_defined = 0
    for doc_id, toks in docs.items():
        r = rows[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_types == len(set(toks))
        assert abs(r.ttr - round(len(set(toks)) / len(toks), 6)) < 1e-9
        want = _mattr(toks)
        if want is None:
            assert r.mattr is None
        else:
            n_defined += 1
            assert abs(r.mattr - round(want, 6)) < 1e-9
            # MATTR of a window mean can never exceed 1 or raw window
            # diversity bounds
            assert 1.0 / _W <= r.mattr <= 1.0
    assert n_defined > 0


def test_mattr_is_length_invariant_where_ttr_is_not():
    """Self-concatenating a text halves its TTR but leaves MATTR
    (window-local by construction) essentially unchanged — the
    defect MATTR was invented to fix."""
    base = (
        "the quick brown fox jumps over one lazy dog while many "
        "other animals watch from beyond that quiet green hill today "
        "as bright clouds drift slowly across a pale evening sky "
        "and distant birds call softly near the old stone bridge"
    ).split(" ")
    assert len(base) >= _W  # MATTR defined on the single copy too
    doubled = base + base
    ttr1 = len(set(base)) / len(base)
    ttr2 = len(set(doubled)) / len(doubled)
    assert ttr2 < 0.75 * ttr1  # raw TTR collapses
    m1, m2 = _mattr(base), _mattr(doubled)
    assert m1 is not None and m2 is not None
    assert abs(m1 - m2) < 0.12  # MATTR holds (seam windows differ a bit)
