"""Pins for repeated-n-gram span coverage (queries/pipeline.py)."""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMALL

_NG = 8


def test_coverage_matches_brute_force_position_union(spark):
    """Ground truth built the slow, unarguable way: the exact set of
    covered token positions per doc, via nested loops over raw
    grams (no interval closed form, no hashing)."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import pipeline_ngram_coverage

    docs = {
        r.doc_id: r.text.split(" ")
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    where: dict = defaultdict(set)
    for d, toks in docs.items():
        for i in range(len(toks) - _NG + 1):
            where[tuple(toks[i : i + _NG])].add(d)
    covered: dict = defaultdict(set)
    for d, toks in docs.items():
        for i in range(len(toks) - _NG + 1):
            if len(where[tuple(toks[i : i + _NG])]) > 1:
                covered[d].update(range(i, i + _NG))
    rows = pipeline_ngram_coverage(spark, SF_SMALL).collect()
    assert len(rows) == len(docs)
    any_covered = 0
    for r in rows:
        assert r.n_tokens == len(docs[r.doc_id])
        assert r.covered_tokens == len(covered[r.doc_id])
        assert 0.0 <= r.dup_frac <= 1.0
        any_covered += r.covered_tokens > 0
    # the synthetic corpus shares boilerplate; coverage must fire
    assert any_covered > 0


def test_within_document_repeats_do_not_count(spark):
    """A gram repeated only inside one document contributes nothing:
    its distinct-doc count is 1. Checked against the ground-truth
    construction above by asserting the operator never covers a
    position whose gram-set is single-document."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import pipeline_ngram_coverage

    docs = {
        r.doc_id: r.text.split(" ")
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    where: dict = defaultdict(set)
    for d, toks in docs.items():
        for i in range(len(toks) - _NG + 1):
            where[tuple(toks[i : i + _NG])].add(d)
    cross_possible = {
        d: any(
            len(where[tuple(toks[i : i + _NG])]) > 1
            for i in range(len(toks) - _NG + 1)
        )
        for d, toks in docs.items()
    }
    for r in pipeline_ngram_coverage(spark, SF_SMALL).collect():
        if not cross_possible[r.doc_id]:
            assert r.covered_tokens == 0 and r.dup_frac == 0.0
