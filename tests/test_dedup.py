"""Dedup-operator tests on crafted fixtures with planted duplicates
(the sf tables carry natural near-dups too — those are covered by the
oracle gate; here we control the ground truth)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockify_spark.llm.dedup import (
    exact_dedup,
    minhash_lsh_pairs_seeded,
    ngram_jaccard_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
)
NEAR = (
    "the quick brown fox jumps over the lazy cat and runs far away into the green forest tonight"
)
OTHER = "completely different text about database engines and distributed query processing systems"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),              # exact dup of 0
        (2, "  " + BASE + " "),  # whitespace-variant dup of 0
        (3, NEAR),              # near dup (1 word of 17 changed)
        (4, OTHER),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_normalizes_whitespace(docs):
    out = exact_dedup(docs, "text", "doc_id").collect()
    by_keeper = {r["keeper_id"]: r["n_copies"] for r in out}
    assert by_keeper[0] == 3  # docs 0,1,2 collapse
    assert by_keeper[3] == 1 and by_keeper[4] == 1 and by_keeper[5] == 1
    assert sum(by_keeper.values()) == 6


def test_ngram_jaccard_finds_planted_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.4).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 3)] >= 0.4  # one word changed → most shingles shared
    assert (0, 4) not in pairs and (3, 4) not in pairs


def test_minhash_lsh_matches_exact_jaccard_recall(docs):
    exact = {(r["id_a"], r["id_b"]) for r in
             ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs_seeded(docs, "text", "doc_id", num_hashes=32, bands=16,
                                    jaccard_threshold=0.5).collect()}
    # LSH verifies candidates with the exact jaccard, so it can only
    # miss pairs whose bands never collide; at 16 bands×2 rows and
    # j>=0.5 collision probability is ~0.99 per pair
    assert lsh == exact
    assert exact  # fixture actually contains qualifying pairs


def test_connected_components_handles_chains_and_cliques(spark):
    """Transitivity beyond cliques: a chain 10-11-12-13 must collapse
    to one component even though 10 and 13 never share an edge."""
    from stockify_spark.llm.dedup import connected_components

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain
         (20, 21), (21, 20),             # duplicate edge + cycle
         (30, 31), (30, 32), (31, 32)],  # clique
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {10: 10, 11: 10, 12: 10, 13: 10,
                    20: 20, 21: 20,
                    30: 30, 31: 30, 32: 30}


def test_duplicate_clusters_groups_planted_dups(spark, docs):
    """The exact dups 0-2 and the one-word near dup 3 form one
    cluster under the smallest id; docs 4 and 5 have no near dup and
    do not appear."""
    from stockify_spark.llm.dedup import duplicate_clusters

    got = {r["doc_id"]: r["component"] for r in
           duplicate_clusters(docs, "text", "doc_id").collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}


def test_connected_components_long_chain_path_doubling(spark):
    """A 200-node chain (diameter 199) must converge inside the
    default max_iters=20: pointer jumping doubles the propagation
    horizon each round (2^t - 1 >= 199 at t=8), and materializing
    every round keeps plan depth bounded. Labels must equal the
    transitive-closure answer: every node -> component 0."""
    from stockify_spark.llm.dedup import connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_long_chain_matches_recursive_cte(spark):
    """Cross-engine: the same 120-node two-chain graph labeled by a
    DuckDB recursive CTE (min reachable id) must match exactly."""
    import duckdb

    from stockify_spark.llm.dedup import connected_components

    pairs = [(i, i + 1) for i in range(59)] + [(i, i + 1) for i in range(60, 119)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e(id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = dict(
        con.execute(
            "WITH RECURSIVE sym AS (SELECT id_a AS s, id_b AS d FROM e"
            " UNION SELECT id_b, id_a FROM e),"
            " reach(node, r) AS ("
            "  SELECT s, s FROM sym UNION SELECT sym.s, reach.r FROM sym"
            "  JOIN reach ON sym.d = reach.node)"
            " SELECT node, MIN(r) FROM reach GROUP BY node"
        ).fetchall()
    )
    assert got == want


def test_repeated_substring_spans_exact(spark):
    """Hand-built corpus: one shared 6-token phrase across two docs
    (and twice in one of them, overlapping nothing) must produce
    exactly the covering maximal spans; unique text produces none."""
    from stockify_spark.llm.dedup import repeated_substring_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} unrelated tail words here and {shared}"),
        (3, "completely unique text with no repeats anywhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in repeated_substring_spans(df, "text", "doc_id", 6).collect()
    }
    # doc 1: tokens 3..8; doc 2: tokens 1..6 and 12..17 (1-based)
    assert out == {(1, 3, 8, 6), (2, 1, 6, 6), (2, 12, 17, 6)}


def test_repeated_substring_spans_merges_overlaps(spark):
    """A 8-token repeat with L=6 yields THREE overlapping repeated
    windows that must merge into one maximal span."""
    from stockify_spark.llm.dedup import repeated_substring_spans

    rep = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, f"x {rep} y"), (2, f"p q {rep}")], "doc_id long, text string"
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeated_substring_spans(df, "text", "doc_id", 6).collect()
    }
    assert out == {(1, 2, 9), (2, 3, 10)}


def test_repeated_substring_spans_short_docs(spark):
    """Docs shorter than L tokens produce no windows and no error."""
    from stockify_spark.llm.dedup import repeated_substring_spans

    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc")], "doc_id long, text string"
    )
    assert repeated_substring_spans(df, "text", "doc_id", 6).count() == 0


def test_remove_repeated_spans_cuts_and_accounts(spark):
    from stockify_spark.llm.dedup import remove_repeated_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} tail words"),
        (3, "unique text here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_removed"], r["n_tokens_kept"])
        for r in remove_repeated_spans(df, "text", "doc_id", 6).collect()
    }
    assert got[1] == ("one two three four", 6, 4)
    assert got[2] == ("tail words", 6, 2)
    assert got[3] == ("unique text here entirely", 0, 4)


def test_contaminated_spans_cross_set(spark):
    """Train spans covered by eval windows only — train-internal
    repeats must NOT be flagged (that's repeated_substring_spans'
    job), and eval docs never appear in the output."""
    from stockify_spark.llm.dedup import contaminated_spans

    bench = "the quick brown fox jumps over the lazy dog today"
    train = spark.createDataFrame(
        [
            (1, f"intro words {bench} outro words"),   # contaminated
            (2, "dup dup dup dup dup dup dup dup dup dup dup dup"),  # train-internal only
            (3, "fully clean text with nothing shared at all here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    out = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in contaminated_spans(train, ev, "text", "doc_id", 10).collect()
    }
    assert out == {(1, 3, 12)}


def test_substring_exchange_carries_hash_not_text(spark):
    """Scale pin: the window stream that feeds the corpus-wide
    exchanges is (id, pos, 64-bit hash) — NO string column — and the
    physical plan of the full operator hashes windows with xxhash64.
    This is the 100 TB guarantee: ~50-token window text never ships
    through a corpus-sized shuffle (it is re-sliced only for the
    candidate subset)."""
    from pyspark.sql import types as T

    from stockify_spark.llm import dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f z z")],
        "doc_id long, text string",
    )
    wh = dedup._windows_hashed(df, "text", "doc_id", 6)
    assert not any(
        isinstance(f.dataType, T.StringType) for f in wh.schema.fields
    ), "window exchange schema must not carry text"
    assert set(wh.columns) == {"_id", "sp", "h"}
    # the hash is computed map-side, before the (checkpointed) frame
    # ever reaches an exchange — pin it on the window stream's own
    # plan (the full operator's plan starts at the checkpoint RDD, so
    # the xxhash64 expression no longer appears there)
    plan = wh._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan


def test_substring_count_is_skew_safe_not_window(spark):
    """Scale pin for the r11 verdict hazard: the occurrence count
    over the 64-bit window hash must be groupBy partial-agg + semi-
    join-back, NEVER count().over(Window.partitionBy(h)) — repeated-
    substring hashes are power-law keys (a boilerplate span repeated
    10⁷× corpus-wide puts 10⁷ rows in one WindowExec buffer, and AQE
    splits skewed JOINS, not windows). Plants one ~90k-occurrence
    window and checks (a) the plan shape and (b) exact output."""
    from stockify_spark.llm import dedup

    reps, ndocs, L = 30, 600, 5
    hot = "a b c d e " * reps  # 150 hot tokens per doc, shared by all
    rows = [(i, f"unique{i} token filler{i} {hot.strip()}") for i in range(ndocs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.repeated_substring_spans(df, "text", "doc_id", L)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the ONLY window operators are _merge_spans' per-doc (_id, sp)
    # ones — no window partitioned by the hash or text key
    assert "windowspecdefinition(h#" not in plan
    assert "windowspecdefinition(w#" not in plan
    assert "windowspecdefinition(_id#" in plan
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in out.collect()
    }
    # tokens 1-3 are per-doc unique; the hot region is tokens 4..153,
    # every L-window inside it is corpus-repeated → one maximal span
    assert got == {(i, 4, 3 + 5 * reps, 5 * reps) for i in range(ndocs)}


def test_substring_hash_collisions_rejected(monkeypatch, spark):
    """Collision handling: squeeze the window hash to 2 bits so
    DIFFERENT windows collide constantly — the exact-text verify
    pass must still produce exactly the true repeated spans (and
    contaminated_spans exactly the true eval hits)."""
    from pyspark.sql import functions as F

    from stockify_spark.llm import dedup

    monkeypatch.setattr(
        dedup, "_win_hash", lambda w: F.pmod(F.xxhash64(w), F.lit(2))
    )
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} unrelated tail words here and {shared}"),
        (3, "completely unique text with no repeats anywhere at all"),
        (4, "more filler prose that collides in hash space but not text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.repeated_substring_spans(df, "text", "doc_id", 6).collect()
    }
    assert out == {(1, 3, 8, 6), (2, 1, 6, 6), (2, 12, 17, 6)}

    bench = "the quick brown fox jumps over the lazy dog today"
    train = spark.createDataFrame(
        [
            (1, f"intro words {bench} outro words"),
            (2, "dup dup dup dup dup dup dup dup dup dup dup dup"),
            (3, "fully clean text with nothing shared at all here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.contaminated_spans(train, ev, "text", "doc_id", 10).collect()
    }
    assert got == {(1, 3, 12)}


def test_keepone_substring_spans(spark):
    """Keeper rule: every occurrence of a repeated window in the
    LOWEST doc_id survives (even multiple occurrences inside that
    doc); every other doc's occurrences become cut spans. Doc 3 has
    no repeats → no rows."""
    from stockify_spark.llm import dedup

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (5, f"one two {shared} three four"),          # NOT keeper → cut
        (2, f"{shared} mid words pad pad and {shared}"),  # keeper: BOTH stay
        (3, "completely unique text with no repeats anywhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.keepone_substring_spans(df, "text", "doc_id", 6).collect()
    }
    assert got == {(5, 3, 8, 6)}


def test_keepone_collisions_rejected(monkeypatch, spark):
    """Squeezed 2-bit hash: colliding windows must not create cut
    spans — the keeper aggregate runs on verified TEXT."""
    from pyspark.sql import functions as F

    from stockify_spark.llm import dedup

    monkeypatch.setattr(
        dedup, "_win_hash", lambda w: F.pmod(F.xxhash64(w), F.lit(2))
    )
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} unrelated tail words here padd"),
        (3, "totally different filler text colliding only in hash land"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.keepone_substring_spans(df, "text", "doc_id", 6).collect()
    }
    assert got == {(2, 1, 6)}  # doc 1 keeps; doc 3's collisions rejected


def test_df_counts_are_skew_safe_across_family(spark):
    """r12 policy pin: no operator in the dedup/text family counts a
    content-derived key (shingle/token/chunk-hash) with a window —
    the plans must carry the groupBy + join-back shape. Windows over
    entity-bounded keys (_id, doc_id) remain."""
    from stockify_spark.llm import dedup
    from stockify_spark.registry import QUERIES
    from tests.conftest import SF_SMOKE

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    docs = spark.createDataFrame(
        [(i, f"common phrase shared by every doc plus unique tail {i} x{i} y{i}")
         for i in range(40)],
        "doc_id long, text string",
    )
    p = plan_of(dedup.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5))
    assert "windowspecdefinition(shingle#" not in p
    p = plan_of(
        dedup.shingle_containment_pairs(docs, "text", "doc_id", k=3, threshold=0.5)
    )
    assert "windowspecdefinition(shingle#" not in p

    parts = spark.createDataFrame(
        [(i, f"widget alpha beta part{i}") for i in range(30)],
        "p_id long, p_name string",
    ).select("p_id", F.array_distinct(F.split("p_name", " ")).alias("toks"))
    p = plan_of(
        dedup.fuzzy_set_join(
            parts.filter(F.col("p_id") % 2 == 0),
            parts.filter(F.col("p_id") % 2 == 1),
            "p_id", "toks", threshold=0.3,
        )
    )
    assert "windowspecdefinition(tok#" not in p

    for q in ("text_tfidf_topk", "pipeline_cdc_chunk_dedup"):
        p = plan_of(QUERIES[q](spark, SF_SMOKE))
        assert "windowspecdefinition(token#" not in p, q
        assert "windowspecdefinition(h#" not in p, q


def test_jaccard_hot_shingle_correctness(spark):
    """Planted hot key: every doc shares an 8-token boilerplate
    prefix (its shingles are corpus-hot), only one near-dup pair
    exists above threshold — the prefix-filtered join must still
    find exactly it."""
    from stockify_spark.llm.dedup import ngram_jaccard_pairs

    boiler = "standard license header text appears on every file"
    rows = [(i, f"{boiler} unique body {i} alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(300)]
    # the planted near-dup: 301 differs from 300 by one token
    rows.append((1300, f"{boiler} unique body 299 alpha299 beta299 gamma299 CHANGED"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.75).collect()
    }
    assert pairs == {(299, 1300)}


def _sig60(text: str) -> int:
    """Python recomputation of the seeded SimHash signature: 60-bit
    md5-prefix token hashes, bit set where more than half the tokens
    (duplicates kept) have it."""
    import hashlib
    from collections import Counter

    toks = Counter(text.strip().lower().split())
    n = sum(toks.values())
    ones = [0] * 60
    for t, c in toks.items():
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for b in range(60):
            ones[b] += c * ((h >> b) & 1)
    return sum(1 << b for b in range(60) if 2 * ones[b] > n)


def _seeded_simhash_reference(texts, max_hamming: int) -> set:
    """Pairs the expected way: agreement on one 15-bit band, then the
    hamming bound."""
    want = {i: _sig60(t) for i, t in texts}

    def bands(s):
        return {(c, (s >> (c * 15)) & 0x7FFF) for c in range(4)}

    expected = set()
    for i, _ in texts:
        for j, _ in texts:
            if i < j and bands(want[i]) & bands(want[j]):
                d = bin(want[i] ^ want[j]).count("1")
                if d <= max_hamming:
                    expected.add((i, j, d))
    return expected


def _seeded_simhash_pairs(spark, texts, max_hamming: int) -> set:
    from stockify_spark.llm.dedup import simhash_near_dup_pairs_seeded

    df = spark.createDataFrame(texts, "doc_id long, text string")
    return {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs_seeded(
            df, "text", "doc_id", max_hamming=max_hamming
        ).collect()
    }


def test_seeded_signature_hof_matches_chained_reference(spark):
    """r15: simhash_near_dup_pairs_seeded assembles the 60-bit
    signature with one higher-order aggregate instead of a 60-term
    chained when-sum (the chained tree made Catalyst planning the
    dominant cost). Pin the fold bit-for-bit against a Python
    recomputation of the packed-field majority rule on real rows."""
    texts = [
        (0, BASE),
        (1, NEAR),
        (2, OTHER),
        (3, "one"),
        (4, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        (5, BASE),  # exact dup of 0: hamming 0, guarantees a pair
    ]
    expected = _seeded_simhash_reference(texts, 10)
    assert _seeded_simhash_pairs(spark, texts, 10) == expected and len(expected) > 0


def test_seeded_simhash_token_bound(spark):
    """A 15-bit packed field counts at most 32,767 tokens. A document
    at the bound still matches the Python reference; one token more
    must raise, not overflow into the next field and lose the pair."""
    at_bound = [(0, " ".join(["x"] * 32_767)), (1, "x")]
    want = _seeded_simhash_reference(at_bound, 10)
    assert _seeded_simhash_pairs(spark, at_bound, 10) == want == {(0, 1, 0)}
    over = [(0, " ".join(["x"] * 32_768)), (1, "x")]
    with pytest.raises(Exception, match="32767-token bound"):
        _seeded_simhash_pairs(spark, over, 60)
