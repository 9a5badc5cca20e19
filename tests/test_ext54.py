"""Pins for positional proximity search (queries/text.py)."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_SMALL


def test_near_matches_brute_force_pair_scan(spark):
    """Ground truth by the quadratic definition the operator
    deliberately avoids: min over ALL occurrence pairs."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.text import text_proximity_search

    docs = {
        r.doc_id: r.text.lower().split(" ")
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    freq: Counter = Counter()
    for toks in docs.values():
        freq.update(toks)
    (t1, _), (t2, _) = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    rows = {r.doc_id: r for r in text_proximity_search(spark, SF_SMALL).collect()}
    expected_docs = 0
    for doc_id, toks in docs.items():
        p1 = [i + 1 for i, w in enumerate(toks) if w == t1]
        p2 = [i + 1 for i, w in enumerate(toks) if w == t2]
        if not p1 or not p2:
            assert doc_id not in rows
            continue
        expected_docs += 1
        r = rows[doc_id]
        assert r.n1 == len(p1) and r.n2 == len(p2)
        assert r.min_dist == min(abs(a - b) for a in p1 for b in p2)
    assert len(rows) == expected_docs
    assert expected_docs > 0


def test_adjacent_gap_argument_on_adversarial_layout():
    """The merged-order trick must survive the layout that breaks
    naive 'adjacent row' reasoning: same-term runs between the true
    closest pair."""
    toks = "a x x a b x a x x x b".split()
    p1 = [i for i, w in enumerate(toks) if w == "a"]
    p2 = [i for i, w in enumerate(toks) if w == "b"]
    brute = min(abs(a - b) for a in p1 for b in p2)
    merged = sorted([(p, 1) for p in p1] + [(p, 2) for p in p2])
    adj = min(
        b[0] - a[0] for a, b in zip(merged, merged[1:]) if a[1] != b[1]
    )
    assert adj == brute == 1
