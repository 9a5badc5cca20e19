"""Pins for Jaro-Winkler similarity (queries/functions.py)."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_SMALL

from stockify_spark.queries.functions import _jaro, _jw


def test_textbook_values_and_duckdb_parity():
    """The published examples, plus randomized parity against the
    oracle engine's builtin — the same check the driver runs, made
    adversarial with edge shapes (empty, equal, transposed, prefix
    families, length skew)."""
    assert round(_jw("martha", "marhta"), 6) == 0.961111
    assert round(_jaro("dixon", "dicksonx"), 6) == 0.766667
    assert _jw("same", "same") == 1.0
    assert _jw("ab", "ba") == 0.0
    assert _jw("a", "") == 0.0
    # boost threshold: jaro <= 0.7 gets NO prefix bonus
    assert _jaro("abcdxxxx", "abcdyyyy") <= 0.7
    assert _jw("abcdxxxx", "abcdyyyy") == _jaro("abcdxxxx", "abcdyyyy")
    # prefix cap at 4
    j = _jaro("prefixaa", "prefixbb")
    assert abs(_jw("prefixaa", "prefixbb") - (j + 4 * 0.1 * (1 - j))) < 1e-12
    con = duckdb.connect()
    import random

    rng = random.Random(9)
    alpha = "abcdef"
    for _ in range(300):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        want_j, want_w = con.execute(
            "SELECT jaro_similarity(?, ?), jaro_winkler_similarity(?, ?)",
            [a, b, a, b],
        ).fetchone()
        assert abs(_jaro(a, b) - want_j) < 1e-12, (a, b)
        assert abs(_jw(a, b) - want_w) < 1e-12, (a, b)


def test_query_ranks_by_boosted_score(spark):
    from stockify_spark.queries.functions import fn_jaro_winkler

    rows = fn_jaro_winkler(spark, SF_SMALL).collect()
    assert len(rows) == 100
    for r in rows:
        assert r.part_b == r.part_a + 1
        assert 0.0 <= r.jaro <= 1.0
        # winkler never lowers a score
        assert r.jw >= r.jaro - 1e-9
    # ranked output: scores are non-increasing
    jws = [r.jw for r in sorted(rows, key=lambda r: (-r.jw, r.part_a))]
    assert jws == sorted(jws, reverse=True)
