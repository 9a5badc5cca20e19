"""Pins for the gaps/streaks/novelty wave (queries: stocks, text)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_gap_structure_on_sawtooth(spark):
    """Every bar after the first gaps down (within a period the open
    sits 40 under the prior close; 220 under at the wrap), and
    every gap is filled (the bar's range spans the prior close)
    except the wrap bars where the prior close 670 exceeds the new
    high 510."""
    from stockify_spark.queries.stocks import stocks_gap_analysis

    rows = stocks_gap_analysis(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 1799
    for r in rows:
        assert r.gap_dir == "down"
        if r.row_id % 18 == 0:  # wrap bar
            assert r.gap == round(450.0 - 670.0, 6)
            assert r.gap_filled is False
        else:
            assert r.gap == -40.0
            assert r.gap_filled is True


def test_streaks_closed_form(spark):
    """Each 180-row series has 10 up-streaks of 17 (one per period)
    and 9 down-streaks of 1 (the wraps between periods)."""
    from stockify_spark.queries.stocks import stocks_streaks

    rows = {r.symbol: r for r in stocks_streaks(spark, SF_SMALL).collect()}
    assert set(rows) == set(range(10))
    for r in rows.values():
        assert r.longest_up == 17
        assert r.longest_down == 1
        assert r.n_up_streaks == 10
        assert r.n_down_streaks == 9


def test_novelty_monotone_context(spark):
    """doc 0 is fully novel by definition; ratios live in [0, 1];
    mean novelty must exceed 0 and at least one later doc repeats
    content (ratio < 1 somewhere, the planted duplicates)."""
    from stockify_spark.queries.text import text_novelty_ratio

    rows = {r.doc_id: r for r in text_novelty_ratio(spark, SF_SMALL).collect()}
    assert rows[0].novelty_ratio == 1.0
    assert all(0.0 <= r.novelty_ratio <= 1.0 for r in rows.values())
    assert any(r.novelty_ratio < 0.2 for r in rows.values())  # near-dup docs
    for r in rows.values():
        assert r.n_novel <= r.n_shingles
