"""Pins for the chunk-reconstruction audit (queries/pipeline.py)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_every_document_reconstructs(spark):
    """The audit's core claim: reconstruction_ok on EVERY doc, chunk
    counts match doc_chunk_stride's own output, and a hand stitch of
    one document agrees."""
    from collections import defaultdict

    from stockify_spark.queries.pipeline import pipeline_chunk_audit
    from stockify_spark.registry import QUERIES, _t

    rows = {r.doc_id: r for r in pipeline_chunk_audit(spark, SF_SMALL).collect()}
    assert rows
    assert all(r.reconstruction_ok for r in rows.values())
    chunks = QUERIES["doc_chunk_stride"](spark, SF_SMALL).collect()
    per = defaultdict(int)
    for ch in chunks:
        per[ch.doc_id] += 1
    assert {d: r.n_chunks for d, r in rows.items()} == dict(per)
    # hand stitch doc 1
    text = {
        r.doc_id: r.text for r in _t(spark, SF_SMALL, "documents").collect()
    }[1]
    toks = text.split(" ")
    ours = []
    k = (len(toks) - 1) // 48
    for i in range(k + 1):
        if i < k:
            ours.extend(toks[i * 48 : i * 48 + 48])
        else:
            ours.extend(toks[i * 48 : i * 48 + 64])
    assert " ".join(ours) == " ".join(toks)
