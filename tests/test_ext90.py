"""Round-12 wave: fold checkpoint / keep-one dedup are covered in
test_pca.py / test_dedup.py; here the retrieval-fusion, resampling,
Gopher-ngram, and distance-profile queries get known-answer and
invariant pins beyond the oracle hash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_rrf_fusion_ranks_and_bounds(spark):
    from stockify_spark.registry import QUERIES

    rows = QUERIES["sim_rrf_fusion"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    # fused score strictly follows the definition from the rank cols
    for r in rows:
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            want += 1.0 / (60 + r["sem_rank"])
        assert r["rrf"] == pytest.approx(want, abs=1e-9)
    # sorted by (rrf desc, doc_id)
    keys = [(-r["rrf"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    # a doc ranked #1 by BOTH rankers would score 2/61; nobody exceeds
    assert all(r["rrf"] <= 2.0 / 61 + 1e-12 for r in rows)


def test_jackknife_closed_form_equals_brute(spark):
    """The sufficient-statistic collapse must equal the literal
    delete-one resample, computed here in plain python per group."""
    from stockify_spark.registry import QUERIES

    got = {
        r["o_orderpriority"]: r
        for r in QUERIES["stats_jackknife"](spark, SF_SMOKE).collect()
    }
    from stockify_spark.sources.io import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    import math
    from collections import defaultdict

    groups = defaultdict(list)
    for r in orders:
        groups[r["o_orderpriority"]].append(
            1 if r["o_totalprice"] > 150_000.0 else 0
        )
    for pri, ys in groups.items():
        n, s = len(ys), sum(ys)
        thetas = [(s - b) / (n - 1) for b in ys]
        tbar = sum(thetas) / n
        ss = sum((t - s / n) ** 2 for t in thetas)
        se = math.sqrt((n - 1) / n * ss)
        assert got[pri]["n"] == n
        assert got[pri]["prop"] == pytest.approx(s / n, abs=1e-6)
        assert got[pri]["jack_se"] == pytest.approx(se, abs=1e-6)
        assert tbar == pytest.approx(s / n, abs=1e-12)  # Σθ_(i) = s


def test_permutation_test_exact_formula(spark):
    from stockify_spark.registry import QUERIES

    row = QUERIES["stats_permutation_test"](spark, SF_SMOKE).collect()[0]
    assert row["n1"] > 0 and row["n0"] > 0
    assert 0.0 < row["p_value"] <= 1.0
    # add-one Monte-Carlo estimator, P=200 replicates (none degenerate
    # at these group sizes)
    assert row["p_value"] == pytest.approx(
        (1 + row["n_extreme"]) / 201, abs=1e-6
    )


def test_gopher_ngrams_known_doc(spark):
    """Hand-built doc: 'a b a b a b c' → top 2-gram 'a b' (3×, 3
    chars) over 13 chars; dup 5-grams: none repeated → 0."""
    from stockify_spark.queries.text import doc_quality_gopher_ngrams
    from stockify_spark.queries import text as m

    df = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "x y z w v u t s r q")],
        "doc_id long, text string",
    )
    import stockify_spark.registry as reg

    orig = reg._t
    try:
        reg._t = lambda sp, sf, name: df  # the query reads `documents`
        m._t = reg._t
        out = {r["doc_id"]: r for r in m.doc_quality_gopher_ngrams(spark, "x").collect()}
    finally:
        reg._t = orig
        m._t = orig
    d1 = out[1]
    assert d1["top2_frac"] == pytest.approx(3 * 3 / 13, abs=1e-6)
    # 'a b a' x2? 3-grams: aba bab aba bab abc -> 'a b a' twice (5 ch)
    assert d1["top3_frac"] == pytest.approx(2 * 5 / 13, abs=1e-6)
    for n in range(5, 11):
        assert d1[f"dup{n}_frac"] == 0.0
    d2 = out[2]  # all tokens distinct: every frac is count-1 top only
    assert d2["top2_frac"] == pytest.approx(3 / 19, abs=1e-6)
    for n in range(5, 11):
        assert d2[f"dup{n}_frac"] == 0.0


def test_gopher_ngrams_bounds_on_corpus(spark):
    from stockify_spark.registry import QUERIES

    rows = QUERIES["doc_quality_gopher_ngrams"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        for n in range(2, 5):
            assert 0.0 <= r[f"top{n}_frac"] <= 1.0
        for n in range(5, 11):
            assert 0.0 <= r[f"dup{n}_frac"] <= 1.0


def test_distance_profile_matches_numpy_reference(spark):
    """Independent numpy reference over the same deterministic
    series: every profile value to 1e-6, the self-match zero at
    pos 0, and zeros EXACTLY at the affine-match positions (query
    phase (0 mod 7) reproduced with an unwrapped 18-ramp — z-norm
    distance is shift/scale invariant, so those windows are exact
    affine copies of the query)."""
    import numpy as np

    from stockify_spark.registry import QUERIES

    rows = QUERIES["window_distance_profile"](spark, SF_SMOKE).collect()
    by_sym = {}
    for r in rows:
        by_sym.setdefault(r["symbol"], {})[r["pos"]] = r["dist"]
    assert len(by_sym) == 10
    w, slen = 8, 180
    x = np.array(
        [500 + (i % 18) * 10 + (i % 7) for i in range(1800)], dtype=float
    )
    for sym, prof in by_sym.items():
        assert len(prof) == slen - w + 1
        s = x[sym * slen : (sym + 1) * slen]
        q = s[:w]
        qz = (q - q.mean()) / q.std()
        for p, d in prof.items():
            win = s[p : p + w]
            wz = (win - win.mean()) / win.std()
            want = float(np.sqrt(max(((wz - qz) ** 2).sum(), 0.0)))
            assert d == pytest.approx(want, abs=1e-6), (sym, p)
        # self-match plus every affine copy of the query's phase
        zeros = sorted(p for p, d in prof.items() if d == 0.0)
        # slen = 180 ≡ 0 (mod 18) and ≡ 5 (mod 7), so relative to the
        # query the %7 phase matches iff p ≡ 0 (mod 7) and the 18-ramp
        # stays unwrapped iff p % 18 <= 10 (offsets r..r+7 inside 0..17)
        expect = sorted(
            p for p in range(slen - w + 1) if p % 7 == 0 and p % 18 <= 10
        )
        assert 0 in zeros and zeros == expect
