"""Pins for the dataset card (queries/pipeline.py)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

from tests.conftest import SF_SMALL


def test_card_fields_match_independent_recount(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.pipeline import pipeline_dataset_card

    docs = (
        _t(spark, SF_SMALL, "documents")
        .select("doc_id", "lang", "source", "text")
        .collect()
    )
    fps = set()
    vocab = set()
    langs: Counter = Counter()
    sources = set()
    n_tokens = 0
    max_toks = 0
    for r in docs:
        norm = re.sub(r"\s+", " ", r.text.lower().strip())
        fps.add(hashlib.md5(norm.encode()).hexdigest())
        toks = r.text.lower().split(" ")
        vocab.update(toks)
        n_tokens += len(toks)
        max_toks = max(max_toks, len(toks))
        langs[r.lang] += 1
        sources.add(r.source)
    card = pipeline_dataset_card(spark, SF_SMALL).collect()
    assert len(card) == 1
    c = card[0]
    n = len(docs)
    assert c.n_docs == n
    assert c.n_tokens == n_tokens
    assert c.vocab_size == len(vocab)
    assert c.n_sources == len(sources)
    assert c.max_doc_tokens == max_toks
    assert abs(c.mean_doc_tokens - round(n_tokens / n, 6)) < 1e-9
    assert abs(c.exact_dup_rate - round(1 - len(fps) / n, 6)) < 1e-9
    H = -sum(k / n * math.log2(k / n) for k in langs.values())
    assert abs(c.lang_entropy - round(H, 6)) < 1e-6
    # entropy bounded by the label-count ceiling
    assert 0 <= c.lang_entropy <= math.log2(len(langs)) + 1e-9


def test_card_is_consistent_with_the_dedup_operator(spark):
    """The card's dup rate must agree with dedup_exact's own view of
    the corpus: n_docs - n_unique == number of EXCESS members across
    dedup_exact's duplicate groups."""
    from stockify_spark.registry import QUERIES
    from stockify_spark.queries.pipeline import pipeline_dataset_card

    c = pipeline_dataset_card(spark, SF_SMALL).collect()[0]
    groups = QUERIES["dedup_exact"](spark, SF_SMALL).collect()
    # dedup_exact emits one row per fingerprint group with n_copies;
    # the card's dup mass is the excess membership across groups
    excess = sum(r.n_copies - 1 for r in groups)
    assert len(groups) == c.n_docs - round(c.exact_dup_rate * c.n_docs)
    assert round(c.exact_dup_rate * c.n_docs) == excess
