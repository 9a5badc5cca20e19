"""Pins for tokenizer fertility (queries/text.py)."""

from __future__ import annotations

import re
from collections import Counter

from tests.conftest import SF_SMALL

from tests.test_ext43 import _serial_bpe


def test_fertility_matches_serial_bpe_reimplementation(spark):
    from stockify_spark.registry import _t
    from stockify_spark.queries.text import tokenizer_fertility

    docs = _t(spark, SF_SMALL, "documents").select("lang", "text").collect()
    vocab: Counter = Counter()
    occ_by_lang: dict = {}
    for r in docs:
        for w in r.text.lower().split(" "):
            if re.fullmatch(r"[a-z]+", w) and 2 <= len(w) <= 12:
                vocab[w] += 1
                occ_by_lang.setdefault(r.lang, []).append(w)
    _, enc = _serial_bpe(vocab, steps=4)
    rows = {r.lang: r for r in tokenizer_fertility(spark, SF_SMALL).collect()}
    assert set(rows) == set(occ_by_lang)
    for lang, occ in occ_by_lang.items():
        r = rows[lang]
        n_tok = sum(len(enc[w]) for w in occ)
        n_chr = sum(len(w) for w in occ)
        assert r.n_word_occurrences == len(occ)
        assert r.n_tokens == n_tok
        assert abs(r.fertility - round(n_tok / len(occ), 6)) < 1e-9
        assert abs(r.chars_per_token - round(n_chr / n_tok, 6)) < 1e-9
        # a merge never splits: fertility is bounded by word length
        # above and by 1 token below
        assert 1.0 <= r.fertility <= 12.0
        # 4 merges can save at most 4 characters of fertility vs the
        # character baseline chars_per_token >= 1
        assert r.chars_per_token >= 1.0


def test_merges_help_languages_containing_them(spark):
    """The fairness property fertility exists to expose: a language
    whose words contain the learned merges gets a real fertility
    discount vs its character baseline; a language with none gets
    exactly the baseline (fertility == mean word length)."""
    from stockify_spark.registry import _t
    from stockify_spark.queries.text import tokenizer_fertility

    docs = _t(spark, SF_SMALL, "documents").select("lang", "text").collect()
    vocab: Counter = Counter()
    occ_by_lang: dict = {}
    for r in docs:
        for w in r.text.lower().split(" "):
            if re.fullmatch(r"[a-z]+", w) and 2 <= len(w) <= 12:
                vocab[w] += 1
                occ_by_lang.setdefault(r.lang, []).append(w)
    rows = {r.lang: r for r in tokenizer_fertility(spark, SF_SMALL).collect()}
    helped = 0
    for lang, occ in occ_by_lang.items():
        baseline = sum(len(w) for w in occ) / len(occ)
        assert rows[lang].fertility <= baseline + 1e-9
        helped += rows[lang].fertility < baseline - 1e-9
    assert helped >= 1  # the merges exist in the corpus somewhere
