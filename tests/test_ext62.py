"""Pins for the Python UDTF surface (queries/functions.py)."""

from __future__ import annotations

from tests.conftest import SF_SMALL

_W = 40


def test_udtf_chunks_match_python_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.functions import fn_udtf_chunks

    texts = {
        r.doc_id: r.text
        for r in _t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    }
    got: dict = {}
    for r in fn_udtf_chunks(spark, SF_SMALL).collect():
        got.setdefault(r.doc_id, []).append((r.part, r.piece, r.n_chars))
    for doc_id, text in texts.items():
        want = [
            (i, text[i * _W : (i + 1) * _W], len(text[i * _W : (i + 1) * _W]))
            for i in range((len(text) + _W - 1) // _W)
        ]
        assert sorted(got.get(doc_id, [])) == want
        # chunks reassemble losslessly
        assert "".join(p for _, p, _ in want) == text
        # every chunk but the last is exactly full width
        for _, _, n in want[:-1]:
            assert n == _W


def test_udtf_is_lateral_composable(spark):
    """The point of the TABLE-function form: it composes in SQL with
    per-row arguments, filters push below it, and aggregates stack
    on top — one statement, no DataFrame plumbing."""
    from stockify_spark.queries.functions import fn_udtf_chunks

    fn_udtf_chunks(spark, SF_SMALL)  # registers chunk_text + the view
    out = spark.sql(
        """
        SELECT d.doc_id, COUNT(*) AS n_chunks, SUM(c.n_chars) AS n_chars
        FROM documents_udtf_src d, LATERAL chunk_text(d.text) c
        WHERE d.doc_id < 10
        GROUP BY d.doc_id
        """
    ).collect()
    assert 0 < len(out) <= 10
    base = {
        r.doc_id: len(r.text)
        for r in spark.sql(
            "SELECT doc_id, text FROM documents_udtf_src WHERE doc_id < 10"
        ).collect()
    }
    for r in out:
        assert r.n_chars == base[r.doc_id]
