"""Text queries: tokenization, BPE training and encoding, language
identification, n-gram language models, chunking, keyword extraction
and document-quality signals.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F, Window

from stockify_spark.functions.bpe import bpe_learn, bpe_learn_batched, word_frequencies
from stockify_spark.functions.scale import materialize
from stockify_spark.functions.text import fingerprint, lang_id, LANG_PROFILES, quality_score
from stockify_spark.registry import register, _t


# ---------------------------------------------------------------------------
# LLM-pipeline operators (north star §7.6.6-7)
# ---------------------------------------------------------------------------
_TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"


@register(
    "text_stats",
    f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)"
    " SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,"
    " ROUND(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks), 6)"
    " AS avg_token_len,"
    " ROUND(CAST(len(list_filter(toks,"
    " x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS DOUBLE)"
    " / len(toks), 6) AS en_stopword_ratio FROM t",
)
def text_stats(spark, sf_dir):
    """r15: the token array is bound ONCE per row (the shingles()
    one-element-transform idiom) — composing token_count +
    avg_token_len + stopword_ratio re-ran the lower+trim+split chain
    5× per row (each helper evaluates its tokens() argument per
    reference; HOF lambdas get no cross-expression CSE). Identical
    arithmetic per statistic, so results are unchanged (oracled)."""
    from stockify_spark.functions.text import tokens

    df = _t(spark, sf_dir, "documents")
    sw = LANG_PROFILES["en"]

    def stats_of(ts):
        n = F.size(ts)
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.round(
                F.aggregate(
                    ts, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
                )
                / n,
                6,
            ).alias("avg_token_len"),
            F.round(
                F.size(F.filter(ts, lambda x: x.isin(*sw))).cast("double") / n, 6
            ).alias("en_stopword_ratio"),
        )

    s = F.element_at(F.transform(F.array(tokens("text")), stats_of), 1)
    return df.select(
        "doc_id",
        s["n_tokens"].alias("n_tokens"),
        s["avg_token_len"].alias("avg_token_len"),
        s["en_stopword_ratio"].alias("en_stopword_ratio"),
    )


@register(
    "text_fingerprint",
    "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint"
    " FROM documents",
)
def text_fingerprint(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", fingerprint("text").alias("fingerprint"))


@register(
    "doc_quality",
    f"SELECT doc_id, ROUND(LEAST(CAST(len({_TOKS_SQL}) AS DOUBLE) / 64.0, 1.0) *"
    f" (CASE WHEN list_sum(list_transform({_TOKS_SQL}, x -> CAST(length(x) AS DOUBLE)))"
    f" / len({_TOKS_SQL}) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 6) AS quality"
    " FROM documents",
)
def doc_quality(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", quality_score("text").alias("quality"))


_IN = lambda words: "(" + ",".join(f"'{w}'" for w in words) + ")"  # noqa: E731

_LANG_COUNT = {
    lang: f"len(list_filter({_TOKS_SQL}, x -> x IN {_IN(sw)}))" for lang, sw in LANG_PROFILES.items()
}


@register(
    "lang_detect",
    "SELECT doc_id, CASE"
    f" WHEN {_LANG_COUNT['de']} > GREATEST({_LANG_COUNT['en']}, {_LANG_COUNT['es']}, {_LANG_COUNT['fr']}) THEN 'de'"
    f" WHEN {_LANG_COUNT['fr']} > GREATEST({_LANG_COUNT['en']}, {_LANG_COUNT['es']}) THEN 'fr'"
    f" WHEN {_LANG_COUNT['es']} > {_LANG_COUNT['en']} THEN 'es'"
    f" WHEN {_LANG_COUNT['en']} > 0 THEN 'en'"
    " ELSE 'unknown' END AS detected_lang FROM documents",
)
def lang_detect(spark, sf_dir):
    """Stopword-profile language heuristic; argmax with profile-order
    tie-break (the CASE in the oracle is the same argmax unrolled)."""
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", lang_id("text").alias("detected_lang"))


# ---------------------------------------------------------------------------
# Text: BPE-ish regex token counting (training-data pipeline).
# ---------------------------------------------------------------------------
_BPE_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@register(
    "text_bpe_tokens",
    f"SELECT doc_id, CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)"
    " AS n_bpe_tokens FROM documents",
)
def text_bpe_tokens(spark, sf_dir):
    """GPT-2-style pre-tokenizer count: runs of letters / digits /
    punctuation, each optionally absorbing one leading space — the
    standard proxy for LLM token budgeting, as a pure codegen'd
    column expression (no Python in the loop)."""
    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{_BPE_RE}', 0))").cast("long").alias("n_bpe_tokens"),
    )


@register(
    "text_winnow_fingerprints",
    # Exact cross-engine oracle: the md5-prefix 60-bit gram hash (the
    # MinHash/SimHash family, llm/dedup.py:141) is nameable in ANSI
    # SQL, so DuckDB reproduces every fingerprint VALUE — k-grams via
    # unnest(range(..)) (Spark's sequence() is inclusive-end, range()
    # is exclusive-end, hence the +1), min over the same 4-gram
    # sliding window, distinct. regexp_replace needs the 'g' flag in
    # DuckDB (global is Spark's default).
    "WITH n AS (SELECT doc_id,"
    "  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t"
    "  FROM documents WHERE doc_id < 100),"
    " g AS (SELECT doc_id, t,"
    "  unnest(range(0, greatest(length(t) - 5, 0) + 1)) AS pos FROM n),"
    " h AS (SELECT doc_id, pos,"
    "  CAST(CONCAT('0x', substr(md5(substr(t, CAST(pos AS INT) + 1, 5)), 1, 15))"
    "   AS BIGINT) AS h FROM g),"
    " k AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos"
    "  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint FROM h)"
    " SELECT DISTINCT doc_id, fingerprint FROM k",
)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints: min k-gram hash per
    sliding window, distinct per doc. Uses the cross-engine md5-prefix
    hash family so the oracle checks every fingerprint value exactly
    (the xxhash64 family in functions/text.py is the faster JVM-only
    production alternative); the containment properties (identical
    docs → identical sets; shared substrings → shared fingerprints)
    are pinned in tests/test_text.py."""
    from stockify_spark.functions.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_fingerprints(docs, "text", "doc_id", hash_family="md5")


@register(
    "doc_quality_gopher",
    # All fractions are single IEEE divisions of exact integer counts
    # → bit-identical cross-engine; SUM() outputs are CAST to BIGINT
    # (DuckDB HUGEINT degrades to float64 in the driver's pandas
    # path).
    f"WITH d AS (SELECT doc_id, {_TOKS_SQL} AS l FROM documents),"
    " tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM"
    "  (SELECT doc_id, unnest(l) AS tok FROM d) GROUP BY doc_id, tok),"
    " uni AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,"
    "  MAX(c) AS top_c, COUNT(*) AS n_distinct FROM tc GROUP BY doc_id),"
    " bg AS (SELECT doc_id, array_to_string(l[i + 1:i + 2], ' ') AS b FROM"
    "  (SELECT doc_id, l, unnest(range(greatest(len(l) - 1, 0))) AS i FROM d)),"
    " bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),"
    " bi AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,"
    "  MAX(c) AS top_bg_c FROM bc GROUP BY doc_id)"
    " SELECT u.doc_id, u.n_tokens,"
    "  CAST(u.top_c AS DOUBLE) / u.n_tokens AS top_token_frac,"
    "  CAST(u.n_tokens - u.n_distinct AS DOUBLE) / u.n_tokens AS dup_token_frac,"
    "  CASE WHEN coalesce(b.n_bigrams, 0) > 0"
    "   THEN CAST(b.top_bg_c AS DOUBLE) / b.n_bigrams ELSE 0.0 END"
    "   AS top_bigram_frac,"
    "  (u.n_tokens >= 30 AND CAST(u.top_c AS DOUBLE) / u.n_tokens <= 0.12"
    "   AND CAST(u.n_tokens - u.n_distinct AS DOUBLE) / u.n_tokens <= 0.6)"
    "   AS keep"
    " FROM uni u LEFT JOIN bi b USING (doc_id)",
)
def doc_quality_gopher(spark, sf_dir):
    """Gopher/MassiveText repetition filters (functions.text.
    repetition_stats): most-common-token fraction, duplicate-token
    fraction, most-common-bigram fraction, and the keep decision the
    pipeline would act on. Two partial-aggregated groupBys + one
    per-doc lead() window — nothing corpus-global."""
    from stockify_spark.functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    stats = repetition_stats(docs, "text", "doc_id")
    return stats.select(
        "doc_id",
        "n_tokens",
        "top_token_frac",
        "dup_token_frac",
        "top_bigram_frac",
        (
            (F.col("n_tokens") >= 30)
            & (F.col("top_token_frac") <= 0.12)
            & (F.col("dup_token_frac") <= 0.6)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Training-data hygiene operators
# (PII redaction, distinctive-term extraction, trigram LM counts), the
# MP3 frame-header probe, weighted PageRank, and product-quantized
# ANN. Same determinism conventions as registry.py: every float in an
# output is ROUND()ed identically on both engines, ties broken by a
# total order, and regex patterns restricted to the syntax subset that
# behaves identically in Java regex (Spark) and RE2 (DuckDB): no
# lookaround, no backreferences, leftmost-first alternation.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Distinctive terms per document (tf-idf family). Ranking is kept in
# integer space — (tf DESC, df ASC, token ASC) — because ln() is not
# bit-reproducible across libm implementations; tf, df, and n_docs
# are emitted so the float tf·idf is reconstructable downstream.
# ---------------------------------------------------------------------------
_TFIDF_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


@register(
    "text_tfidf_topk",
    "WITH tok AS (SELECT doc_id, unnest("
    f" {_TFIDF_TOKS_SQL}) AS token FROM documents),"
    " tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf"
    "  FROM tok GROUP BY doc_id, token),"
    " withdf AS (SELECT doc_id, token, tf,"
    "  CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df FROM tf),"
    " scored AS (SELECT doc_id, token, tf, df,"
    "  ROW_NUMBER() OVER (PARTITION BY doc_id"
    "   ORDER BY tf DESC, df ASC, token ASC) AS rk"
    "  FROM withdf)"
    " SELECT doc_id, token, tf, df, CAST(rk AS BIGINT) AS rk"
    " FROM scored WHERE rk <= 3",
)
def text_tfidf_topk(spark, sf_dir):
    """Top-3 distinctive terms per document: term frequency widened
    with corpus document frequency, ranked (tf DESC, df ASC, token).

    Scale shape: the raw exploded-token stream (the 100 TB-scale
    thing) is scanned ONCE into the tf aggregate (map-side combine on
    doc_id+token), which is checkpointed; document frequency is a
    vocabulary-sized groupBy over that compact result joined back on
    token (skew-safe: a stopword's df rows would pin a single
    WindowExec buffer, while the join is broadcast-able or
    AQE-skew-splittable — the substring-dedup lesson), and the top-k
    is a bounded per-doc window. The checkpoint is what keeps the
    source single-scan across the two df consumers (exchange reuse
    does not fire across differently-filtered subtrees)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    # the raw exploded-token stream (the 100 TB thing) is scanned
    # exactly once into the compact (doc_id, token, tf) table, which
    # is checkpointed so BOTH df consumers below read the
    # materialized rows instead of re-running the explode.
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    # df: groupBy + join-back, not COUNT OVER (PARTITION BY token) —
    # token document-frequency is the canonical power-law key (a
    # stopword appears in ~every doc, putting n_docs rows in ONE
    # WindowExec buffer at corpus scale; AQE splits skewed joins,
    # not windows). The map-side partial count absorbs the hot
    # token; the df table is vocabulary-sized (broadcast-able).
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    withdf = tf.join(dfreq, "token")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        withdf.select("doc_id", "token", "tf", "df", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# N-gram language-model counts (the KenLM-style corpus statistics a
# perplexity quality filter is built from). Everything is exact
# integers — counts and continuation counts — so the comparison is
# hash-exact; downstream smoothing (Kneser-Ney etc.) is a pure
# function of these tables.
# ---------------------------------------------------------------------------
@register(
    "text_ngram_lm",
    "WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts"
    "  FROM documents),"
    " tri AS (SELECT ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3"
    "  FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM tok"
    "        WHERE len(ts) >= 3)),"
    " counted AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n"
    "  FROM tri GROUP BY w1, w2, w3),"
    " withcont AS (SELECT w1, w2, w3, n,"
    "  CAST(COUNT(*) OVER (PARTITION BY w2, w3) AS BIGINT) AS continuations,"
    "  CAST(SUM(n) OVER (PARTITION BY w2, w3) AS BIGINT) AS bigram_total"
    "  FROM counted)"
    " SELECT w1, w2, w3, n, continuations, bigram_total"
    " FROM withcont WHERE n >= 3",
)
def text_ngram_lm(spark, sf_dir):
    """Trigram LM count table with Kneser-Ney continuation counts:
    per trigram, its count, the number of DISTINCT left contexts of
    its (w2, w3) suffix, and that suffix's total count — the exact
    integer statistics interpolated-KN smoothing needs (the n >= 3
    floor is the usual count pruning).

    Scale shape: trigrams come from a per-row array zip (no
    self-join of the token stream, which is scanned once); one
    shuffle builds the trigram counts with map-side combine, and the
    suffix statistics are window aggregates over that compact table
    re-partitioned on (w2, w3). At 100 TB the trigram table is the
    big intermediate — it shuffles as (3 words, count) rows only,
    and the count-floor prunes the long tail at the end."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " ").alias("ts")
    ).filter(F.size("ts") >= 3)
    tri = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 2),
                F.arrays_zip(
                    F.slice(F.col("ts"), 2, F.size("ts") - 2),
                    F.slice(F.col("ts"), 3, F.size("ts") - 2),
                ),
                lambda a, b: F.struct(
                    a.alias("w1"), b["0"].alias("w2"), b["1"].alias("w3")
                ),
            )
        ).alias("g")
    ).select("g.w1", "g.w2", "g.w3")
    counted = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("n"))
    # suffix statistics as window aggregates over the compact count
    # table — the join-back formulation recomputed `counted` (and its
    # upstream trigram explode) twice, same exchange-reuse miss as
    # text_tfidf_topk's first draft
    wcont = Window.partitionBy("w2", "w3")
    return (
        counted.select(
            "w1", "w2", "w3", "n",
            F.count(F.lit(1)).over(wcont).alias("continuations"),
            F.sum("n").over(wcont).alias("bigram_total"),
        )
        .filter(F.col("n") >= 3)
    )


# ---------------------------------------------------------------------------
# Normalization dedup — canonicalize text (case-fold, punctuation →
# space, whitespace collapse) and group by the canonical form's
# md5. The normalization pipeline is the operator under test;
# dedup_exact covers the raw-bytes variant.
# ---------------------------------------------------------------------------
@register(
    "text_normalize",
    "SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"
    "  AS norm_key,"
    " CAST(COUNT(*) AS BIGINT) AS n_docs,"
    " MIN(doc_id) AS keep_doc_id,"
    " CAST(MIN(length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))"
    "  AS BIGINT) AS norm_len"
    " FROM documents GROUP BY 1",
)
def text_normalize(spark, sf_dir):
    """Canonicalization dedup: lower → non-alnum runs to one space →
    trim → md5 group key, keeping the lowest doc_id as survivor.
    Pure column expressions ahead of one 16-byte-key shuffle; at
    100 TB the map side reduces each document to (hash, id, len)
    before the exchange — same shape as dedup_exact with the
    normalization pass fused into the scan."""
    t = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        t.select("doc_id", F.md5(norm).alias("norm_key"), F.length(norm).alias("_len"))
        .groupBy("norm_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.min("_len").cast("long").alias("norm_len"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics per source — token/type counts and
# type-token ratio (the Heaps-law inputs a corpus report needs).
# ---------------------------------------------------------------------------
@register(
    "text_vocab_stats",
    "WITH tok AS (SELECT source, unnest(list_filter("
    "  string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))"
    "  AS token FROM documents)"
    " SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,"
    " CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types,"
    " ROUND(CAST(COUNT(DISTINCT token) AS DOUBLE) / COUNT(*), 6)"
    "  AS type_token_ratio,"
    " CAST(MAX(length(token)) AS BIGINT) AS max_token_len"
    " FROM tok GROUP BY source",
)
def text_vocab_stats(spark, sf_dir):
    """Per-source vocabulary profile: token count, type (distinct
    token) count, type-token ratio, longest token. One exploded-token
    aggregate; countDistinct expands to the standard two-phase
    distinct (partial per-partition dedup before the exchange), so
    shuffle bytes track per-source vocabulary, not the token
    stream."""
    tok = _t(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("token"),
    )
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
        F.round(
            F.countDistinct("token").cast("double") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
        F.max(F.length("token")).cast("long").alias("max_token_len"),
    )


# ---------------------------------------------------------------------------
# Tokenizer training, chunking, entity-resolution
# join, sketch-pruned exact aggregation.
#
# Each query has an exact DuckDB oracle (driver contract,
# __spark_entry__.py). Reference attribution: the reference engine
# (stockify.cu) has none of these surfaces; they extend the
# training-data-pipeline coverage mandated by SURVEY §2 (LLM ops).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# doc_chunk_stride — context-window chunking with overlap
# ---------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 64, 48


_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id, toks,
             unnest(range(0, ((len(toks)-1)//{_CHUNK_S})+1)) AS i FROM t)
SELECT doc_id, i::BIGINT AS chunk_id,
       array_to_string(list_slice(toks, i*{_CHUNK_S}+1, i*{_CHUNK_S}+{_CHUNK_W}), ' ') AS chunk_text,
       len(list_slice(toks, i*{_CHUNK_S}+1, i*{_CHUNK_S}+{_CHUNK_W}))::BIGINT AS n_tokens
FROM e
"""


@register("doc_chunk_stride", _CHUNK_SQL)
def doc_chunk_stride(spark, sf_dir):
    """Sliding-window document chunking: windows of 64 tokens with
    stride 48 (16-token overlap) — the standard way a long document
    becomes training-context rows. Pure per-row expressions
    (split → sequence → explode → slice): embarrassingly parallel,
    no shuffle, and the explode multiplies rows AFTER the scan so
    column pruning still reaches parquet."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size("toks")
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.floor((n - 1) / _CHUNK_S).cast("int"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_id"),
            F.array_join(
                F.slice("toks", F.col("i") * _CHUNK_S + 1, F.lit(_CHUNK_W)), " "
            ).alias("chunk_text"),
            F.size(
                F.slice("toks", F.col("i") * _CHUNK_S + 1, F.lit(_CHUNK_W))
            ).cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# tokenizer_bpe_merges — distributed BPE merge learning
# ---------------------------------------------------------------------------

def _bpe_oracle(steps: int) -> str:
    sel = " UNION ALL ".join(
        f"SELECT {i}::BIGINT AS step, l AS lhs, r AS rhs, c AS pair_cnt FROM best{i}"
        for i in range(1, steps + 1)
    )
    return _bpe_ctes(steps) + f"\nSELECT * FROM ({sel}) ORDER BY step"


def _bpe_ctes(steps: int) -> str:
    """The shared train-chain CTEs: words → s0 → (p/best/s)×steps.
    Used by the merge-learning oracle here and the encoder oracle in
    tokenizer_bpe_apply (apply = read s{steps} instead of the bests)."""
    sql = """WITH words AS (
  SELECT w AS word, COUNT(*)::BIGINT AS cnt
  FROM (SELECT unnest(string_split(lower(text),' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 12
  GROUP BY w
), s0 AS (SELECT regexp_replace(word, '(.)', ',\\1,', 'g') AS s, cnt FROM words)"""
    for i in range(1, steps + 1):
        sql += f""",
p{i} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, SUM(cnt)::BIGINT AS c
  FROM (SELECT string_split(substr(s, 2, length(s)-2), ',,') AS syms, cnt FROM s{i-1}),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i) u
  GROUP BY 1, 2
),
best{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
s{i} AS (
  SELECT replace(s, ',' || b.l || ',,' || b.r || ',', ',' || b.l || b.r || ',') AS s, cnt
  FROM s{i-1}, best{i} b
)"""
    return sql


@register("tokenizer_bpe_merges", _bpe_oracle(4))
def tokenizer_bpe_merges(spark, sf_dir):
    """First 4 BPE merges learned over the corpus vocabulary
    (functions/bpe.py). Each step is one pair-count shuffle over the
    distinct-word table + a map-side literal replace; the serial BPE
    semantics (left-to-right non-overlapping merges, count-then-lex
    tie-break) are reproduced exactly, proven by the chained-CTE
    DuckDB oracle."""
    words = word_frequencies(_t(spark, sf_dir, "documents"))
    return bpe_learn(spark, words, steps=4)


# ---------------------------------------------------------------------------
# Batched BPE merge selection (tokenizer-training
# scale path) and txlog MERGE upsert.
#
# Each query has an exact DuckDB oracle (driver contract,
# __spark_entry__.py). Reference attribution: the reference engine
# (stockify.cu) has none of these surfaces; they extend the
# training-data-pipeline coverage mandated by SURVEY §2 (LLM ops).
# ---------------------------------------------------------------------------
_BPE_ROUNDS, _BPE_BATCH = 3, 8


# Separator for the (pattern, replacement) strings folded by
# list_reduce in the oracle: symbols are [a-z]+ only (word filter),
# so '>' can never occur inside a pattern.
_SEP = ">"


def _bpe_batched_oracle(rounds: int, batch: int) -> str:
    """Chained-CTE reproduction of bpe_learn_batched: per round, rank
    pairs by (count DESC, l, r), keep the conservative independent
    set among the top ``batch`` (NOT EXISTS a higher-ranked top-batch
    pair sharing a symbol), and apply the selected merges as a
    list_reduce replace fold in rank order — the same fold order the
    Spark side chains."""
    sql = """WITH words AS (
  SELECT w AS word, COUNT(*)::BIGINT AS cnt
  FROM (SELECT unnest(string_split(lower(text),' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 12
  GROUP BY w
), s0 AS (SELECT regexp_replace(word, '(.)', ',\\1,', 'g') AS s, cnt FROM words)"""
    for i in range(1, rounds + 1):
        sql += f""",
t{i} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, SUM(cnt)::BIGINT AS c
  FROM (SELECT string_split(substr(s, 2, length(s)-2), ',,') AS syms, cnt FROM s{i-1}),
       LATERAL (SELECT unnest(range(1, len(syms))) AS i) u
  GROUP BY 1, 2
),
top{i} AS (
  SELECT l, r, c, ROW_NUMBER() OVER (ORDER BY c DESC, l, r) AS rn
  FROM t{i} QUALIFY rn <= {batch}
),
sel{i} AS (
  SELECT a.l, a.r, a.c, a.rn FROM top{i} a
  WHERE NOT EXISTS (
    SELECT 1 FROM top{i} b
    WHERE b.rn < a.rn AND (b.l IN (a.l, a.r) OR b.r IN (a.l, a.r)))
),
s{i} AS (
  SELECT list_reduce(
           list_prepend(s{i-1}.s, m.ms),
           (acc, x) -> replace(acc, split_part(x, '{_SEP}', 1), split_part(x, '{_SEP}', 2))
         ) AS s, cnt
  FROM s{i-1},
       (SELECT COALESCE(list(',' || l || ',,' || r || ',{_SEP},' || l || r || ',' ORDER BY rn), []) AS ms
        FROM sel{i}) m
)"""
    sel = " UNION ALL ".join(
        f"SELECT {i}::BIGINT AS round, rn::BIGINT AS rn, l AS lhs, r AS rhs, c AS pair_cnt FROM sel{i}"
        for i in range(1, rounds + 1)
    )
    return sql + f"\nSELECT * FROM ({sel}) ORDER BY round, rn"


@register("tokenizer_bpe_batched", _bpe_batched_oracle(_BPE_ROUNDS, _BPE_BATCH))
def tokenizer_bpe_batched(spark, sf_dir):
    """Batched BPE merge learning (functions/bpe.bpe_learn_batched):
    3 rounds x top-8 conservative independent set — one pair-count
    shuffle and ONE bounded driver collect per ROUND instead of per
    merge, the scale path that keeps a 30k-merge vocabulary at ~30k/m
    Spark jobs instead of 30k. Selection rule and fold order are
    reproduced exactly by the chained-CTE oracle; the divergence from
    serial BPE (within-round recount deferral) is documented on the
    function and pinned by tests/test_ext6.py property tests."""
    words = word_frequencies(_t(spark, sf_dir, "documents"))
    return bpe_learn_batched(spark, words, rounds=_BPE_ROUNDS, batch=_BPE_BATCH)


# ---------------------------------------------------------------------------
# text_perplexity — LM-based document quality scoring (CCNet-style)
# ---------------------------------------------------------------------------
_PPL_SQL = """
WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
  FROM documents),
tri AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok
        WHERE len(ts) >= 3)),
tcnt AS (SELECT w1, w2, w3, COUNT(*) AS n FROM tri GROUP BY 1, 2, 3),
bcnt AS (SELECT w1, w2, COUNT(*) AS cn FROM tri GROUP BY 1, 2),
v AS (SELECT COUNT(DISTINCT w3) AS vsz FROM tri),
scored AS (
  SELECT t.doc_id, ln((c.n + 1.0) / (b.cn + v.vsz)) AS logp
  FROM tri t
  JOIN tcnt c ON c.w1 = t.w1 AND c.w2 = t.w2 AND c.w3 = t.w3
  JOIN bcnt b ON b.w1 = t.w1 AND b.w2 = t.w2
  CROSS JOIN v)
SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams,
       ROUND(exp(-AVG(logp)), 4) AS ppl
FROM scored GROUP BY doc_id
"""


@register("text_perplexity", _PPL_SQL)
def text_perplexity(spark, sf_dir):
    """Per-document perplexity under an add-one-smoothed trigram LM
    trained on the corpus itself — the CCNet-style LM quality filter
    (low perplexity = fluent/common text, high = noise), the scoring
    half that text_ngram_lm's count tables feed.

    Scale shape: the trigram stream is materialized once
    (it feeds the trigram counts, the context
    counts, the vocab scalar, AND the per-instance scoring join).
    This was re-litigated in round 8: WITHOUT the checkpoint the
    executed plan shows 8 parquet scans and ZERO ReusedExchange —
    the explode recomputes per consumer, a scan multiplication local
    page cache hides but a 100 TB object store bills for — while
    local wall-clock is within noise either way, so the checkpoint
    stays (the pagerank lesson, measured not assumed). Count tables
    shuffle as compact (words, count) rows and join back on their
    keys (AQE broadcasts them while they fit); the document score is
    one groupBy(doc_id) average. Cross-engine float policy: ln/exp
    drift is ~ulp-scale while the ROUND is 4dp — the pagerank margin
    argument (DESIGN.md float policy)."""
    tok = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
        ).alias("ts"),
    ).filter(F.size("ts") >= 3)
    tri = tok.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 2),
                F.arrays_zip(
                    F.slice(F.col("ts"), 2, F.size("ts") - 2),
                    F.slice(F.col("ts"), 3, F.size("ts") - 2),
                ),
                lambda a, b: F.struct(
                    a.alias("w1"), b["0"].alias("w2"), b["1"].alias("w3")
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2", "g.w3").transform(materialize)
    # ONE aggregation over the data-sized trigram stream; the context
    # counts and the vocab scalar are rollups of the (much smaller)
    # trigram-count table — counts are exact integers, so
    # SUM-of-counts == direct COUNT and COUNT(DISTINCT w3 of tcnt) ==
    # COUNT(DISTINCT w3 of tri), saving two full-stream shuffles
    tcnt = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("n"))
    bcnt = tcnt.groupBy(
        F.col("w1").alias("b1"), F.col("w2").alias("b2")
    ).agg(F.sum("n").alias("cn"))
    v = tcnt.agg(F.countDistinct("w3").alias("vsz"))
    scored = (
        tri.join(tcnt, ["w1", "w2", "w3"])
        .join(bcnt, (F.col("w1") == F.col("b1")) & (F.col("w2") == F.col("b2")))
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.ln((F.col("n") + 1.0) / (F.col("cn") + F.col("vsz"))).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.round(F.exp(-F.avg("logp")), 4).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# text_collocations — corpus-level collocation mining by PMI
# ---------------------------------------------------------------------------
_COLLOC_SQL = """
WITH tok AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS ts FROM documents),
uni AS (
  SELECT w, CAST(COUNT(*) AS DOUBLE) AS u
  FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY w),
tot AS (SELECT SUM(u) AS t FROM uni),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS b
  FROM (SELECT ts[i] AS w1, ts[i+1] AS w2
        FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tok
              WHERE len(ts) >= 2))
  GROUP BY w1, w2),
btot AS (SELECT SUM(b) AS bt FROM bi)
SELECT w1, w2, CAST(b AS BIGINT) AS n_pair,
       ROUND(ln((b / bt) / ((u1.u / t) * (u2.u / t))), 6) AS pmi
FROM bi JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2
CROSS JOIN tot CROSS JOIN btot
WHERE b >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 50
"""


@register("text_collocations", _COLLOC_SQL)
def text_collocations(spark, sf_dir):
    """Top-50 collocations (adjacent word pairs with count ≥ 5) by
    pointwise mutual information — the phrase-mining statistic
    (Church & Hanks) a tokenizer-vocabulary or keyphrase pipeline
    computes corpus-wide. Shape: one exploded token scan feeds both
    the unigram and bigram counts (compact (words, count) shuffles
    with map-side combine), the two scalar totals broadcast, and the
    top-50 is a TakeOrdered — no global sort. PMI's ln is a per-row
    op on exact-count ratios: ~ulp drift against the 6dp round."""
    d = _t(spark, sf_dir, "documents").select(
        F.split(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
        ).alias("ts")
    )
    toks = d.select(F.explode("ts").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("u"))
    bi = (
        d.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ts"), 1, F.size("ts") - 1),
                    F.slice(F.col("ts"), 2, F.size("ts") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("b"))
    )
    t = uni.agg(F.sum("u").alias("t"))
    bt = bi.agg(F.sum("b").alias("bt"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("u").alias("u1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("u").alias("u2"))
    return (
        bi.filter(F.col("b") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(bt))
        .select(
            "w1",
            "w2",
            F.col("b").cast("long").alias("n_pair"),
            F.round(
                F.ln(
                    (F.col("b") / F.col("bt"))
                    / ((F.col("u1") / F.col("t")) * (F.col("u2") / F.col("t")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# text_inverted_index — token → document posting lists
# ---------------------------------------------------------------------------
_INVIDX_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE tok <> '')
SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 50), ',') AS postings
FROM toks GROUP BY 1
"""


@register("text_inverted_index", _INVIDX_SQL)
def text_inverted_index(spark, sf_dir):
    """Inverted index construction: token → document frequency +
    the first 50 postings (sorted doc_ids, scalarized to CSV because
    the driver's pandas hash cannot digest list cells). The shape IS
    the search-engine build job: explode to (doc, token), ONE
    groupBy per token with collect_set doing the per-document dedup
    inside the aggregation state (a separate distinct() would be a
    second data-sized shuffle for nothing — the set dedups on the
    map side too, so duplicate (doc, tok) pairs collapse before the
    wire). df counts the full set; the rendered postings are capped
    at 50 because an uncapped posting string for a stopword-grade
    token on a 100 TB corpus is itself the OOM (the full set must
    exist to count df exactly — the all-exact contract here; a
    production index would spill postings columnar rather than
    render them). Tokenization matches functions/text.py: lower →
    trim → split on whitespace runs."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    posting_set = F.sort_array(F.collect_set("doc_id"))
    return toks.groupBy("tok").agg(
        F.size(posting_set).cast("long").alias("df"),
        F.array_join(
            F.transform(F.slice(posting_set, 1, 50), lambda x: x.cast("string")),
            ",",
        ).alias("postings"),
    )


_STOP16 = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

_STOP16_SQL = "('" + "','".join(_STOP16) + "')"

_TOKS16 = "string_split_regex(trim(lower(text)), '\\s+')"


_RAKE_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(generate_subscripts({_TOKS16}, 1) AS INT) AS pos,
         unnest({_TOKS16}) AS tok
  FROM documents
),
ns AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM tok WHERE tok NOT IN {_STOP16_SQL}
),
ph AS (
  SELECT doc_id, grp,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM ns GROUP BY doc_id, grp
),
pw AS (
  SELECT ns.doc_id, ns.grp, ns.tok, ph.plen
  FROM ns JOIN ph ON ph.doc_id = ns.doc_id AND ph.grp = ns.grp
),
ws AS (
  SELECT tok, CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS wscore
  FROM pw GROUP BY tok
),
psc AS (
  SELECT pw.doc_id, pw.grp, SUM(ws.wscore) AS score
  FROM pw JOIN ws ON ws.tok = pw.tok
  GROUP BY pw.doc_id, pw.grp
),
ranked AS (
  SELECT ph.doc_id, ph.phrase, psc.score,
         row_number() OVER (PARTITION BY ph.doc_id
                            ORDER BY ROUND(psc.score, 6) DESC, ph.phrase) AS rn
  FROM ph JOIN psc ON psc.doc_id = ph.doc_id AND psc.grp = ph.grp
)
SELECT doc_id, CAST(rn AS BIGINT) AS rank, phrase, ROUND(score, 6) AS score
FROM ranked WHERE rn <= 3
"""


@register("text_rake", _RAKE_SQL)
def text_rake(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (the gaps-and-islands
    pos - row_number grouping); word score = degree/frequency where
    degree(w) sums the lengths of every phrase containing w; phrase
    score sums its word scores with multiplicity; top-3 phrases per
    doc ordered by 6dp-rounded score then phrase text. Corpus-wide
    word statistics are one vocabulary-keyed shuffle; everything
    else is per-doc window work. The en-stopword list is the same
    public 10-word profile lang_detect uses."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    # materialize the non-stopword token stream ONCE: it feeds the
    # phrase build AND the word-stat join tree, which otherwise
    # re-runs the tokenize+window pass per reference (the perplexity
    # lesson: self-referenced pre-exchange subtrees recompute —
    # ReusedExchange only dedups AFTER an exchange)
    ns = tok.filter(~F.col("tok").isin(*_STOP16)).withColumn(
        "grp",
        F.col("pos") - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    ).transform(materialize)
    ph = ns.groupBy("doc_id", "grp").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("pos", "tok"))).tok).alias(
            "phrase"
        ),
        F.count(F.lit(1)).alias("plen"),
    ).transform(materialize)  # phrase-level (rows = phrases), read 2x below
    pw = ns.join(ph.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
    ws = pw.groupBy("tok").agg(
        (F.sum("plen").cast("double") / F.count(F.lit(1))).alias("wscore")
    )
    psc = pw.join(ws, "tok").groupBy("doc_id", "grp").agg(F.sum("wscore").alias("score"))
    ranked = ph.join(psc, ["doc_id", "grp"]).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.round("score", 6).desc(), F.col("phrase").asc()
            )
        ),
    )
    return ranked.filter(F.col("rn") <= 3).select(
        "doc_id",
        F.col("rn").cast("long").alias("rank"),
        "phrase",
        F.round("score", 6).alias("score"),
    )


_READ_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
         AS n_words,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                             AS DOUBLE)
                        / GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1))
             - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                            AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\\s+'))),
             6) AS flesch
FROM documents
"""


@register("text_readability", _READ_SQL)
def text_readability(spark, sf_dir):
    """Flesch reading-ease per document: 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words), with the standard
    vowel-group syllable heuristic ([aeiouy]+ runs — consonants and
    whitespace both break a run, so whole-text counting equals
    per-word counting) and sentence count from [.!?]+ runs floored
    at 1. All three counts are integers; the formula is one
    stateless column expression — map-only at any scale."""
    from pyspark.sql import functions as F

    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(tokens("text"))
    n_syll = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
    )
    flesch = (
        206.835
        - 1.015 * (n_words.cast("double") / n_sent)
        - 84.6 * (n_syll.cast("double") / n_words)
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
    )


_ZIPF_TOP = 50

_TOKS24 = "string_split_regex(trim(lower(text)), '\\s+')"


def _zipf_oracle() -> str:
    lns = [math.log(float(r)) for r in range(1, _ZIPF_TOP + 1)]
    um = sum(lns) / _ZIPF_TOP
    du = {r: lns[r - 1] - um for r in range(1, _ZIPF_TOP + 1)}
    suu = sum(x * x for x in du.values())
    case = " ".join(
        f"WHEN {r} THEN CAST({du[r]!r} AS DOUBLE)" for r in range(1, _ZIPF_TOP + 1)
    )
    return f"""
WITH tok AS (SELECT unnest({_TOKS24}) AS tok FROM documents),
freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
ranked AS (
  SELECT tok, f,
         row_number() OVER (ORDER BY f DESC, tok) AS rank
  FROM freq
)
SELECT CAST({_ZIPF_TOP} AS BIGINT) AS n_ranks,
       ROUND(SUM((CASE rank {case} END) * ln(CAST(f AS DOUBLE)))
             / CAST({suu!r} AS DOUBLE), 6) AS zipf_slope,
       CAST(MAX(CASE WHEN rank = 1 THEN f END) AS BIGINT) AS top_freq
FROM ranked WHERE rank <= {_ZIPF_TOP}
"""


@register("text_zipf_fit", _zipf_oracle())
def text_zipf_fit(spark, sf_dir):
    """Zipf-law fit over the corpus rank-frequency curve: OLS slope
    of ln(frequency) on ln(rank) for the top 50 tokens (rank ties
    broken by token text on both faces). The centered ln(rank)
    design weights are Python literals shared by both engines (the
    literal-design-row pattern — the only per-row transcendental is
    ln(f) on identical integer counts). A natural corpus obeys slope
    ≈ −1; the synthetic corpus's flatter slope is pinned in tests.
    One vocabulary shuffle + a 50-row reduce."""
    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("tok")))
    ).filter(F.col("rank") <= _ZIPF_TOP)
    lns = [math.log(float(r)) for r in range(1, _ZIPF_TOP + 1)]
    um = sum(lns) / _ZIPF_TOP
    du = {r: lns[r - 1] - um for r in range(1, _ZIPF_TOP + 1)}
    suu = sum(x * x for x in du.values())
    w = F.when(F.col("rank") == 1, F.lit(du[1]))
    for r in range(2, _ZIPF_TOP + 1):
        w = w.when(F.col("rank") == r, F.lit(du[r]))
    return ranked.agg(
        F.lit(_ZIPF_TOP).cast("long").alias("n_ranks"),
        F.round(
            F.sum(w * F.log(F.col("f").cast("double"))) / F.lit(suu), 6
        ).alias("zipf_slope"),
        F.max(F.when(F.col("rank") == 1, F.col("f"))).cast("long").alias("top_freq"),
    )


_HEAPS_CHECKPOINTS = 10

_TOKS29 = "string_split_regex(trim(lower(text)), '\\s+')"


def _heaps_oracle() -> str:
    # literal log-log OLS design over the checkpoint fractions
    fr = [(i + 1) / _HEAPS_CHECKPOINTS for i in range(_HEAPS_CHECKPOINTS)]
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS29}) AS tok FROM documents),
firsts AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok),
maxd AS (SELECT MAX(doc_id) AS md FROM documents),
cp AS (
  SELECT i + 1 AS k,
         CAST(FLOOR((CAST({fr!r}[i + 1] AS DOUBLE)) * (md + 1)) - 1 AS BIGINT)
           AS cutoff
  FROM range({_HEAPS_CHECKPOINTS}) t(i) CROSS JOIN maxd
),
vocab AS (
  SELECT cp.k, cp.cutoff,
         CAST((SELECT COUNT(*) FROM firsts WHERE first_doc <= cp.cutoff)
              AS BIGINT) AS v,
         CAST((SELECT COUNT(*) FROM tok WHERE doc_id <= cp.cutoff)
              AS BIGINT) AS n_tokens
  FROM cp
)
SELECT k, cutoff, n_tokens, v,
       ROUND(CAST(v AS DOUBLE) / n_tokens, 6) AS type_token_ratio
FROM vocab
"""


@register("text_heaps_law", _heaps_oracle())
def text_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: distinct-vocabulary size
    at 10 corpus prefixes (by doc_id), computed in ONE token pass —
    each token's FIRST-occurrence document is a single groupBy, and
    V(prefix) is just how many first occurrences fall inside it (no
    per-prefix rescans, the cumulative-distinct trick). Emits the
    (corpus tokens, vocabulary, type-token ratio) curve per
    checkpoint; sublinear growth (Heaps' β < 1) is pinned in tests.
    All counts integer-exact."""
    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    firsts = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    md = docs.agg(F.max("doc_id").alias("md")).collect()[0].md
    cuts = [
        (k + 1, int(math.floor((k + 1) / _HEAPS_CHECKPOINTS * (md + 1))) - 1)
        for k in range(_HEAPS_CHECKPOINTS)
    ]
    cp = docs.sparkSession.createDataFrame(cuts, "k long, cutoff long")
    v = (
        cp.join(firsts, firsts["first_doc"] <= cp["cutoff"])
        .groupBy("k", "cutoff")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    nt = (
        cp.join(tok, tok["doc_id"] <= cp["cutoff"])
        .groupBy("k", "cutoff")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    return (
        v.join(nt, ["k", "cutoff"])
        .select(
            "k",
            "cutoff",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("v").cast("long").alias("v"),
            F.round(F.col("v").cast("double") / F.col("n_tokens"), 6).alias(
                "type_token_ratio"
            ),
        )
    )


_TOKS30 = "string_split_regex(trim(lower(text)), '\\s+')"

_SHINGLES30 = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS30}) - 3, 0) + 1),"
    f" i -> array_to_string({_TOKS30}[i + 1:i + 3], ' ')))"
)


_NOVELTY_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES30}) AS sh FROM documents),
firsts AS (SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh),
per_doc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM s JOIN firsts f ON f.sh = s.sh
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       ROUND(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty_ratio
FROM per_doc
"""


@register("text_novelty_ratio", _NOVELTY_SQL)
def text_novelty_ratio(spark, sf_dir):
    """Per-document shingle novelty in corpus order: the fraction of
    a doc's distinct 3-shingles whose FIRST corpus occurrence is
    this doc (the text_heaps_law first-occurrence trick at document
    granularity). Ingest freshness: near-1 docs add new content,
    near-0 docs repeat the crawl. One shingle shuffle + one
    broadcast-sized first-occurrence join; integer counts."""
    from stockify_spark.llm.dedup import shingles

    docs = _t(spark, sf_dir, "documents")
    s = docs.select("doc_id", F.explode(shingles("text", 3)).alias("sh"))
    firsts = s.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        s.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty_ratio"),
    )


_TOKS31 = "string_split_regex(trim(lower(text)), '\\s+')"


_JSD_SQL = f"""
WITH tok AS (
  SELECT CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
              THEN 'even' ELSE 'odd' END AS grp,
         unnest({_TOKS31}) AS tok
  FROM documents
),
cnt AS (SELECT grp, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT grp, CAST(SUM(c) AS DOUBLE) AS t FROM cnt GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM cnt),
pq AS (
  SELECT v.tok,
         COALESCE(MAX(CASE WHEN cnt.grp = 'even' THEN cnt.c END), 0)
           / MAX(CASE WHEN tot.grp = 'even' THEN tot.t END) AS p,
         COALESCE(MAX(CASE WHEN cnt.grp = 'odd' THEN cnt.c END), 0)
           / MAX(CASE WHEN tot.grp = 'odd' THEN tot.t END) AS q
  FROM vocab v
  LEFT JOIN cnt ON cnt.tok = v.tok
  CROSS JOIN tot
  GROUP BY v.tok
)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
       ROUND(SUM(CASE WHEN p > 0
                      THEN 0.5 * p * ln(p / (0.5 * (p + q))) ELSE 0 END)
             + SUM(CASE WHEN q > 0
                        THEN 0.5 * q * ln(q / (0.5 * (p + q))) ELSE 0 END),
             6) AS jsd_nats
FROM pq
"""


@register("text_js_divergence", _JSD_SQL)
def text_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between the unigram distributions
    of the even- and odd-numbered sources: JSD = ½KL(P‖M) + ½KL(Q‖M)
    with M the midpoint — symmetric, bounded by ln 2, and defined
    even where one side has zero mass (those terms vanish by the
    CASE guards, identical on both faces). Probabilities are integer
    counts over integer totals; corpus drift monitoring between
    ingest sources at any scale is this one contingency shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from stockify_spark.functions.text import tokens

    grp = F.when(
        F.substring("source", 4, 10).cast("long") % 2 == 0, "even"
    ).otherwise("odd")
    tok = docs.select(grp.alias("grp"), F.explode(tokens("text")).alias("tok"))
    cnt = materialize(
        tok.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c")), eager=False
    )
    tot = cnt.groupBy("grp").agg(F.sum("c").cast("double").alias("t"))
    c = F.col
    # per-group totals enter via broadcast cross joins so a token
    # absent from one group still gets a well-defined 0 probability
    tote = tot.filter(c("grp") == "even").select(c("t").alias("te"))
    toto = tot.filter(c("grp") == "odd").select(c("t").alias("to"))
    base = (
        cnt.groupBy("tok")
        .agg(
            F.coalesce(F.max(F.when(c("grp") == "even", c("c"))), F.lit(0)).alias(
                "ce"
            ),
            F.coalesce(F.max(F.when(c("grp") == "odd", c("c"))), F.lit(0)).alias(
                "co"
            ),
        )
        .crossJoin(F.broadcast(tote))
        .crossJoin(F.broadcast(toto))
        .select(
            (c("ce") / c("te")).alias("p"), (c("co") / c("to")).alias("q")
        )
    )
    m = 0.5 * (c("p") + c("q"))
    term_p = F.when(c("p") > 0, 0.5 * c("p") * F.log(c("p") / m)).otherwise(0.0)
    term_q = F.when(c("q") > 0, 0.5 * c("q") * F.log(c("q") / m)).otherwise(0.0)
    return base.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.round(F.sum(term_p) + F.sum(term_q), 6).alias("jsd_nats"),
    )


# ---------------------------------------------------------------------------
# BPE encoding (tokenizer APPLY).
#
# tokenizer_bpe_merges / tokenizer_bpe_batched learn the merge table;
# this is the other half of a tokenizer — ENCODING the vocabulary with
# the learned merges. Training is K shuffles + K bounded collects;
# encoding is embarrassingly parallel: the merge table is driver model
# state (K rows), and applying it is a chain of K literal replaces
# over the comma-fenced symbol encoding (functions/bpe.py module
# docstring) — one fused map stage, no shuffle at all. That asymmetry
# (train once centrally, encode anywhere at 100 TB in map-only form)
# is the reason production tokenizers ship as merge lists.
# ---------------------------------------------------------------------------
_BPE_APPLY_STEPS = 4


_APPLY_SQL = _bpe_ctes(_BPE_APPLY_STEPS) + f"""
SELECT replace(s, ',', '') AS word, cnt,
       array_to_string(string_split(substr(s, 2, length(s) - 2), ',,'), ' ')
         AS tokens,
       len(string_split(substr(s, 2, length(s) - 2), ',,'))::BIGINT
         AS n_tokens
FROM s{_BPE_APPLY_STEPS}
"""


@register("tokenizer_bpe_apply", _APPLY_SQL)
def tokenizer_bpe_apply(spark, sf_dir):
    """Encode the corpus vocabulary with the 4 learned BPE merges:
    learn the merge table (bpe_learn — the serial-exact trainer),
    collect it as model state, and apply the merges IN LEARNED ORDER
    as literal replaces over the fenced symbol string; emit (word,
    cnt, tokens, n_tokens). The left-to-right non-overlapping
    replace on the fenced encoding reproduces serial BPE encoding
    exactly, and the oracle proves it end-to-end: DuckDB re-learns
    the same merges in chained CTEs and reads the same final symbol
    state. Merge-order dependence (applying merges out of order
    changes the encoding) is pinned in tests/test_ext43.py.

    Scale shape: training cost is vocabulary-sized (see bpe_learn);
    the encode pass is ONE narrow map over the vocabulary — at
    100 TB you encode the corpus, not the vocabulary, with the same
    replace chain applied per document, still map-only."""
    words = word_frequencies(_t(spark, sf_dir, "documents"))
    merges = sorted(
        bpe_learn(spark, words, steps=_BPE_APPLY_STEPS).collect(),
        key=lambda r: r.step,
    )
    enc = words.select(
        F.regexp_replace("word", "(.)", ",$1,").alias("s"), "cnt"
    )
    for m in merges:
        enc = enc.select(
            F.replace(
                F.col("s"),
                F.lit(f",{m.lhs},,{m.rhs},"),
                F.lit(f",{m.lhs}{m.rhs},"),
            ).alias("s"),
            "cnt",
        )
    syms = F.split(F.expr("substring(s, 2, length(s)-2)"), ",,")
    return enc.select(
        F.replace(F.col("s"), F.lit(","), F.lit("")).alias("word"),
        "cnt",
        F.array_join(syms, " ").alias("tokens"),
        F.size(syms).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney smoothing.
#
# text_ngram_lm ships the exact count tables and notes that smoothing
# is a pure function of them — this operator is that function, for the
# bigram model: interpolated Kneser-Ney (Kneser & Ney 1995; Chen &
# Goodman 1998) with absolute discount D = 0.75,
#
#   P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1,.)
#            + (D * N1+(w1,.) / c(w1,.)) * (N1+(.,w2) / N1+(.,.))
#
# where N1+ are distinct-continuation counts. The continuation
# distribution — "how many contexts has w2 followed?" rather than "how
# often?" — is the insight that makes KN the strongest classical LM
# smoother: 'francisco' is frequent but follows only 'san', so its
# unigram backoff mass collapses. Everything is a ratio of exact
# integers; the formula is evaluated with identical parenthesization
# on both engines and rounded once at 6dp.
# ---------------------------------------------------------------------------
_D = 0.75

_KN_TOPN = 50


_KN_SQL = f"""
WITH tok AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ts
             FROM documents),
bi AS (SELECT ts[i] AS w1, ts[i+1] AS w2
       FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tok
             WHERE len(ts) >= 2)),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2),
l AS (SELECT w1, SUM(c) AS c1, COUNT(*) AS n1p FROM c2 GROUP BY 1),
r AS (SELECT w2, COUNT(*) AS nc FROM c2 GROUP BY 1),
t AS (SELECT COUNT(*) AS ntot FROM c2),
p AS (SELECT c2.w1, c2.w2, c2.c,
             ROUND((GREATEST(c2.c - {_D}, 0) / l.c1)
                   + (({_D} * l.n1p) / l.c1)
                     * (nc / CAST(t.ntot AS DOUBLE)), 6) AS p_kn,
             ROW_NUMBER() OVER (ORDER BY c2.c DESC, c2.w1, c2.w2) AS rnk
      FROM c2 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t)
SELECT w1, w2, c AS n, p_kn FROM p WHERE rnk <= {_KN_TOPN}
"""


@register("text_kneser_ney", _KN_SQL)
def text_kneser_ney(spark, sf_dir):
    """Interpolated-KN bigram probabilities for the corpus's top 50
    bigrams (count-desc, lexicographic tie-break). Properly
    normalized: summing the formula over the FULL vocabulary gives
    exactly 1 for every context (the discounted mass D*N1+(w1,.)
    re-enters through the continuation distribution, which itself
    sums to 1) — pinned algebraically in tests/test_ext49.py over
    full contexts, alongside the continuation-vs-frequency
    separation that distinguishes KN from additive smoothing.

    Scale shape: one bigram-count shuffle with map-side combine
    (corpus-sized input, vocabulary^2-bounded output), then two
    vocabulary-sized aggregates (left-context totals, continuation
    counts) and one scalar; the probability join re-partitions only
    the compact count table — the text_ngram_lm layout with the
    smoothing arithmetic fused on top."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
        ).alias("ts")
    ).filter(F.size("ts") >= 2)
    bi = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    l = c2.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    r = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("nc"))
    t = c2.agg(F.count(F.lit(1)).alias("ntot"))
    p_kn = F.round(
        (F.greatest(F.col("c") - _D, F.lit(0.0)) / F.col("c1"))
        + ((_D * F.col("n1p")) / F.col("c1"))
        * (F.col("nc") / F.col("ntot").cast("double")),
        6,
    )
    p = (
        c2.join(l, "w1")
        .join(r, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c",
            p_kn.alias("p_kn"),
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "w1", "w2"))
            .alias("rnk"),
        )
    )
    return p.filter(F.col("rnk") <= _KN_TOPN).select(
        "w1", "w2", F.col("c").alias("n"), "p_kn"
    )


# ---------------------------------------------------------------------------
# Positional proximity search (NEAR).
#
# text_inverted_index answers "which documents contain the term";
# phrase and NEAR queries need POSITIONS — the other half of an IR
# index. The engine question is computing the minimum token distance
# between two terms' occurrence sets without a quadratic per-document
# pair join: merge both position lists in token order and take the
# minimum gap over ADJACENT opposite-term pairs. That is exact — the
# globally closest opposite pair can have no occurrence of either term
# strictly between its endpoints (it would form a closer pair) — so
# one sort-window pass replaces the occurrences-squared join.
# ---------------------------------------------------------------------------
_NEAR_SQL = """
WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts
             FROM documents),
words AS (SELECT doc_id, ts[i] AS w, i AS p
          FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i
                FROM tok)),
top2 AS (SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
         FROM words GROUP BY w),
terms AS (SELECT MAX(CASE WHEN rnk = 1 THEN w END) AS t1,
                 MAX(CASE WHEN rnk = 2 THEN w END) AS t2
          FROM top2 WHERE rnk <= 2),
occ AS (SELECT doc_id, p,
               CASE WHEN w = t1 THEN 1 ELSE 2 END AS which
        FROM words, terms WHERE w IN (t1, t2)),
adj AS (SELECT doc_id, p, which,
               LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp,
               LAG(which) OVER (PARTITION BY doc_id ORDER BY p) AS pw
        FROM occ)
SELECT doc_id,
       CAST(SUM(CASE WHEN which = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(SUM(CASE WHEN which = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       CAST(MIN(CASE WHEN pw IS NOT NULL AND pw <> which
                     THEN p - pp END) AS BIGINT) AS min_dist
FROM adj GROUP BY doc_id
HAVING SUM(CASE WHEN which = 1 THEN 1 ELSE 0 END) > 0
   AND SUM(CASE WHEN which = 2 THEN 1 ELSE 0 END) > 0
"""


@register("text_proximity_search", _NEAR_SQL)
def text_proximity_search(spark, sf_dir):
    """NEAR query over the corpus's two most frequent words
    (count-desc, lexicographic tie-break — derived in-query, so the
    operator survives testdata regeneration): per document holding
    both, the occurrence counts and the exact minimum token distance
    via the merged-order adjacent-gap argument (brute-force-verified
    in tests/test_ext54.py). A phrase query is the min_dist = 1
    special case with term order pinned.

    Scale shape: the position explode is a narrow map; occurrences
    of the two query terms are a tiny filtered slice of it; the gap
    scan is one window over that slice partitioned by doc — no
    occurrences-squared join anywhere, which is what makes NEAR
    affordable when a stopword is one of the terms (every document,
    hundreds of positions)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("ts")
    )
    words = docs.select(
        "doc_id", F.posexplode("ts").alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    top2 = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "w")),
        )
        .filter(F.col("rnk") <= 2)
    )
    terms = top2.agg(
        F.max(F.when(F.col("rnk") == 1, F.col("w"))).alias("t1"),
        F.max(F.when(F.col("rnk") == 2, F.col("w"))).alias("t2"),
    )
    occ = (
        words.crossJoin(F.broadcast(terms))
        .filter((F.col("w") == F.col("t1")) | (F.col("w") == F.col("t2")))
        .select(
            "doc_id",
            "p",
            F.when(F.col("w") == F.col("t1"), F.lit(1))
            .otherwise(F.lit(2))
            .alias("which"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    adj = occ.select(
        "doc_id",
        "p",
        "which",
        F.lag("p").over(w).alias("pp"),
        F.lag("which").over(w).alias("pw"),
    )
    return (
        adj.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("which") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("which") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n2"),
            F.min(
                F.when(
                    F.col("pw").isNotNull() & (F.col("pw") != F.col("which")),
                    F.col("p") - F.col("pp"),
                )
            )
            .cast("long")
            .alias("min_dist"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )


# ---------------------------------------------------------------------------
# Skip-gram pairs + negative sampling.
#
# The corpus preparation word2vec-family training actually consumes
# (Mikolov et al. 2013): (center, context) co-occurrence pairs within
# a +-2 token window, and the famous unigram^(3/4) negative-sampling
# distribution — the 3/4 power is the published constant that lifts
# rare words' sampling mass. Together with graph_random_walk (walk
# corpus) and sim_* (the consumers of the resulting vectors), this
# completes the embedding-training data path.
# ---------------------------------------------------------------------------
_SKIPGRAM_W = 2

_SKIPGRAM_TOPN = 100


_SG_SQL = f"""
WITH tok AS (SELECT string_split(lower(text), ' ') AS ts FROM documents),
pairs AS (
  SELECT ts[i] AS center, ts[i + d] AS context
  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM tok),
       (SELECT unnest(range(1, {_SKIPGRAM_W + 1})) AS d)
  WHERE i + d <= len(ts)
  UNION ALL
  SELECT ts[i + d] AS center, ts[i] AS context
  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM tok),
       (SELECT unnest(range(1, {_SKIPGRAM_W + 1})) AS d)
  WHERE i + d <= len(ts)),
pc AS (SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
       FROM pairs GROUP BY 1, 2),
uni AS (SELECT context AS w, SUM(n) AS f FROM pc GROUP BY 1),
pw AS (SELECT w, pow(f, 0.75) AS fp FROM uni),
tot AS (SELECT ROUND(SUM(fp), 6) AS t FROM pw),
ranked AS (
  SELECT pc.center, pc.context, pc.n,
         ROUND(pw.fp / tot.t, 6) AS p_neg_context,
         ROW_NUMBER() OVER (ORDER BY pc.n DESC, pc.center, pc.context) AS rnk
  FROM pc JOIN pw ON pw.w = pc.context CROSS JOIN tot)
SELECT center, context, n, p_neg_context FROM ranked WHERE rnk <= {_SKIPGRAM_TOPN}
"""


@register("text_skipgram_pairs", _SG_SQL)
def text_skipgram_pairs(spark, sf_dir):
    """Top-100 skip-gram pairs (count desc, lexicographic tie-break)
    with each context word's unigram^0.75 negative-sampling
    probability. Pair generation is symmetric by construction
    (every ordered pair is emitted for both roles), so
    sum-over-contexts of a word's pair counts equals its window-
    bounded occurrence degree — pinned in tests/test_ext57.py along
    with the 3/4-power property (rare words gain relative mass over
    the raw unigram distribution).

    Scale shape: pair explode is a narrow map (2*W rows per token);
    one (center, context) count shuffle with map-side combine —
    vocabulary^2-bounded like the bigram tables; the sampling
    distribution is one vocabulary-sized aggregate and a scalar.
    The word2vec trainer consumes exactly these two tables."""
    docs = _t(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), " ").alias("ts")
    )
    # all distances and both directions in ONE array expression, so
    # the corpus is scanned once (the unioned-explode first draft
    # read documents 12 times — plan-audit catch)
    arrays = []
    for d in range(1, _SKIPGRAM_W + 1):
        n = F.size("ts")
        left = F.slice("ts", 1, F.greatest(n - d, F.lit(0)))
        right = F.slice("ts", d + 1, F.greatest(n - d, F.lit(0)))
        arrays.append(
            F.zip_with(
                left,
                right,
                lambda a, b: F.struct(a.alias("x"), b.alias("y")),
            )
        )
        arrays.append(
            F.zip_with(
                left,
                right,
                lambda a, b: F.struct(b.alias("x"), a.alias("y")),
            )
        )
    pairs = docs.select(
        F.explode(F.concat(*arrays)).alias("p")
    ).select(F.col("p.x").alias("center"), F.col("p.y").alias("context"))
    pc = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )
    uni = pc.groupBy(F.col("context").alias("w")).agg(F.sum("n").alias("f"))
    pw = uni.select("w", F.pow("f", 0.75).alias("fp"))
    tot = pw.agg(F.round(F.sum("fp"), 6).alias("t"))
    ranked = (
        pc.join(pw, pc["context"] == pw["w"])
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "n",
            F.round(F.col("fp") / F.col("t"), 6).alias("p_neg_context"),
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "center", "context"))
            .alias("rnk"),
        )
    )
    return ranked.filter(F.col("rnk") <= _SKIPGRAM_TOPN).select(
        "center", "context", "n", "p_neg_context"
    )


# ---------------------------------------------------------------------------
# Stylometric distance (Burrows' Delta).
#
# The standard authorship-attribution measure (Burrows 2002; Evert et
# al. 2017's formalization): represent each author/source by the
# relative frequencies of the corpus's most frequent words, z-score
# each word ACROSS sources (so every word contributes equally however
# common it is), and take the mean absolute z-difference between two
# sources. In a data-curation pipeline the same statistic flags
# machine-templated or same-origin document groups masquerading as
# distinct sources — a provenance signal the dedup family (content
# overlap) cannot see, because Delta fires on STYLE even when content
# differs.
# ---------------------------------------------------------------------------
_M = 20  # marker words


_DELTA_SQL = f"""
WITH w AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS word
  FROM documents),
top AS (
  SELECT word FROM (
    SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS r
    FROM w GROUP BY word) WHERE r <= {_M}),
tot AS (SELECT source, COUNT(*) AS t FROM w GROUP BY 1),
f AS (
  SELECT tot.source, top.word,
         CAST(COALESCE(c.n, 0) AS DOUBLE) / tot.t AS fr
  FROM tot CROSS JOIN top
  LEFT JOIN (SELECT source, word, COUNT(*) AS n FROM w
             JOIN top USING (word) GROUP BY 1, 2) c
    ON c.source = tot.source AND c.word = top.word),
m AS (
  SELECT word,
         ROUND(SUM(fr), 12) / COUNT(*) AS mu,
         sqrt(ROUND(SUM(fr * fr), 12) / COUNT(*)
              - POW(ROUND(SUM(fr), 12) / COUNT(*), 2)) AS sd
  FROM f GROUP BY 1),
z AS (
  SELECT f.source, f.word, (f.fr - m.mu) / m.sd AS z
  FROM f JOIN m USING (word) WHERE m.sd > 0)
SELECT a.source AS src_a, b.source AS src_b,
       ROUND(ROUND(SUM(abs(a.z - b.z)), 6) / COUNT(*), 6) AS delta
FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
GROUP BY 1, 2
"""


@register("text_stylometry_delta", _DELTA_SQL)
def text_stylometry_delta(spark, sf_dir):
    """Burrows' Delta between every source pair over the top-20
    marker words: per-source relative frequencies (exact integer
    ratios), cross-source z-scores (12dp-rounded moment sums — the
    frequencies live at 1e-2, so the repo's 6dp would crush them),
    mean |z| difference per pair. Identity (delta(s,s) = 0),
    symmetry, and the self-vs-other separation property are pinned
    in tests/test_ext63.py against a numpy reimplementation.

    Scale shape: one token explode + two vocabulary/source-bounded
    aggregates; the z table is (sources x markers) tiny, and the
    pair join is sources-squared over THAT table, never over data —
    the classic profile-then-compare layout (same as dq_key_skew)."""
    w = _t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    # ONE corpus scan + one shuffle into the (source, word) profile
    # table, eagerly checkpointed; the many downstream branches
    # (marker words, source totals, marker counts, moments, pairs)
    # re-read the ~vocab-sized checkpoint, never the corpus — the
    # four-branch first draft re-ran the corpus explode per branch
    # (plan-audit catch; the census still shows ~16 scans, but they
    # are checkpoint reads of 20k rows, not document scans)
    sw = (
        w.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize)
    )
    top = (
        sw.groupBy("word")
        .agg(F.sum("n").alias("n"))
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.col("n").desc(), "word"))
        )
        .filter(F.col("r") <= _M)
        .select("word")
    )
    tot = sw.groupBy("source").agg(F.sum("n").alias("t"))
    c = sw.join(F.broadcast(top), "word").select("source", "word", "n")
    f = (
        tot.crossJoin(F.broadcast(top))
        .join(c, ["source", "word"], "left")
        .select(
            "source",
            "word",
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("t")
            ).alias("fr"),
        )
    )
    cnt = F.count(F.lit(1))
    m = f.groupBy("word").agg(
        (F.round(F.sum("fr"), 12) / cnt).alias("mu"),
        F.sqrt(
            F.round(F.sum(F.col("fr") * F.col("fr")), 12) / cnt
            - F.pow(F.round(F.sum("fr"), 12) / cnt, 2)
        ).alias("sd"),
    )
    z = (
        f.join(F.broadcast(m), "word")
        .filter(F.col("sd") > 0)
        .select(
            "source", "word", ((F.col("fr") - F.col("mu")) / F.col("sd")).alias("z")
        )
    )
    a = z.select(
        F.col("source").alias("src_a"), "word", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"), "word", F.col("z").alias("zb")
    )
    return (
        a.join(b, "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.round(F.sum(F.abs(F.col("za") - F.col("zb"))), 6)
                / F.count(F.lit(1)),
                6,
            ).alias("delta")
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility evaluation.
#
# Fertility — tokens emitted per word — is THE fairness metric for a
# tokenizer across languages (a BPE trained on English text fragments
# other languages into near-characters, inflating their sequence
# lengths and training cost). With the merge table learned by
# bpe_learn and the encoded vocabulary from tokenizer_bpe_apply's
# construction, fertility per language is one join: explode each
# document's in-vocabulary words, attach each word's encoded token
# count, and aggregate per language — occurrence-weighted, so frequent
# words count as often as the model will actually see them.
# ---------------------------------------------------------------------------
_FERTILITY_STEPS = 4


_FERT_SQL = _bpe_ctes(_FERTILITY_STEPS) + f""",
enc AS (
  SELECT replace(s, ',', '') AS word,
         len(string_split(substr(s, 2, length(s) - 2), ',,')) AS n_tokens
  FROM s{_FERTILITY_STEPS}),
occ AS (
  SELECT lang, w AS word
  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 12)
SELECT occ.lang,
       CAST(COUNT(*) AS BIGINT) AS n_word_occurrences,
       CAST(SUM(enc.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(enc.n_tokens) AS DOUBLE) / COUNT(*), 6) AS fertility,
       ROUND(CAST(SUM(length(occ.word)) AS DOUBLE)
             / SUM(enc.n_tokens), 6) AS chars_per_token
FROM occ JOIN enc USING (word)
GROUP BY occ.lang
"""


@register("tokenizer_fertility", _FERT_SQL)
def tokenizer_fertility(spark, sf_dir):
    """Per-language fertility of the 4-merge BPE model:
    occurrence-weighted tokens-per-word and chars-per-token over the
    trainable vocabulary (the word_frequencies filter — same corpus
    the merges were learned on). Identities pinned in
    tests/test_ext69.py: every language's fertility sits in [word
    length bounds / merge floor], and a merge ONLY helps languages
    whose words contain it — with 4 English-corpus-dominated merges,
    en fertility must not exceed the unmerged character baseline.

    Scale shape: the model is driver state (4 merges); the encode is
    the map-only replace chain over the vocabulary; the evaluation
    is one corpus explode + a broadcast join against the encoded
    vocab (vocabulary-sized) + a languages-sized rollup."""
    from stockify_spark.functions.bpe import bpe_learn, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    words = word_frequencies(docs)
    merges = sorted(
        bpe_learn(spark, words, steps=_FERTILITY_STEPS).collect(), key=lambda r: r.step
    )
    enc = words.select(
        F.regexp_replace("word", "(.)", ",$1,").alias("s"), "word"
    )
    for m in merges:
        enc = enc.select(
            F.replace(
                F.col("s"),
                F.lit(f",{m.lhs},,{m.rhs},"),
                F.lit(f",{m.lhs}{m.rhs},"),
            ).alias("s"),
            "word",
        )
    enc = enc.select(
        "word",
        F.size(F.split(F.expr("substring(s, 2, length(s)-2)"), ",,")).alias(
            "n_tokens"
        ),
    )
    occ = (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(
            F.col("word").rlike("^[a-z]+$")
            & F.length("word").between(2, 12)
        )
    )
    return (
        occ.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_word_occurrences"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
            ).alias("fertility"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("n_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity (TTR and MATTR).
#
# Type-token ratio — distinct words over total words — is the basic
# lexical-diversity signal in corpus quality filters, but raw TTR
# falls mechanically with document length (longer texts repeat), so
# cross-length comparisons need the Moving-Average TTR (Covington &
# McFall 2010): the mean TTR over every sliding window of fixed width.
# MATTR is length-invariant by construction and all-integer exact —
# each window's distinct count is an integer, the mean is a ratio of
# integers — making it the rare diversity metric with a hash-exact
# differential oracle.
# ---------------------------------------------------------------------------
_MATTR_W = 25  # MATTR window


_MATTR_SQL = f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
base AS (
  SELECT doc_id, len(toks) AS n,
         len(list_distinct(toks)) AS n_types, toks
  FROM t),
wins AS (
  SELECT doc_id,
         len(list_distinct(list_slice(toks, i, i + {_MATTR_W - 1}))) AS d
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_MATTR_W - 2})) AS i
        FROM base WHERE n >= {_MATTR_W})),
mavg AS (
  SELECT doc_id,
         ROUND(CAST(SUM(d) AS DOUBLE) / (COUNT(*) * {_MATTR_W}), 6) AS mattr
  FROM wins GROUP BY 1)
SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
       CAST(b.n_types AS BIGINT) AS n_types,
       ROUND(CAST(b.n_types AS DOUBLE) / b.n, 6) AS ttr,
       m.mattr
FROM base b LEFT JOIN mavg m USING (doc_id)
"""


@register("text_mattr", _MATTR_SQL)
def text_mattr(spark, sf_dir):
    """Per-document TTR and window-25 MATTR (NULL below 25 tokens —
    the metric is undefined, not zero). Integer-exact: every
    window's type count and the total are integers; the only
    division happens once per document at output. The
    length-invariance property MATTR exists for (raw TTR falls with
    length on self-concatenated text, MATTR does not) is pinned in
    tests/test_ext72.py alongside a brute-force window recount.

    Scale shape: the window explode multiplies tokens by ~1 (each
    token enters W windows but the explode is per-START, one row per
    window), stays a narrow map, and collapses in a per-doc
    aggregate; a production form replaces list_distinct per window
    with the classic last-occurrence trick (distinct-in-window =
    count of tokens whose previous occurrence is outside — one lag
    window over positions) when W grows large."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    base = docs.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.size(F.array_distinct("toks")).alias("n_types"),
        "toks",
    )
    wins = (
        base.filter(F.col("n") >= _MATTR_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - (_MATTR_W - 1))
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.size(
                F.array_distinct(F.slice("toks", F.col("i"), _MATTR_W))
            ).alias("d"),
        )
    )
    mavg = wins.groupBy("doc_id").agg(
        F.round(
            F.sum("d").cast("double") / (F.count(F.lit(1)) * _MATTR_W), 6
        ).alias("mattr")
    )
    return base.join(mavg, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(F.col("n_types").cast("double") / F.col("n"), 6).alias("ttr"),
        "mattr",
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal.
#
# Compressibility is one of the strongest cheap garbage detectors in
# corpus curation (boilerplate, keyword stuffing, and generated spam
# are drastically more compressible than prose), and Shannon's theorem
# makes character entropy its model-free proxy: H = -sum p_c log2 p_c
# bits/char lower-bounds any character-level code length. Unlike
# running an actual compressor (whose byte output is library- and
# version-dependent — not oracle-able), the entropy is a pure function
# of integer character counts: hash-exact across engines.
# ---------------------------------------------------------------------------
_ENT_SQL = """
WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS c
  FROM documents),
cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
       FROM ch WHERE c <> '' GROUP BY 1, 2),
n AS (SELECT doc_id, SUM(k) AS n, COUNT(*) AS alphabet FROM cc GROUP BY 1)
SELECT cc.doc_id,
       CAST(MAX(n.n) AS BIGINT) AS n_chars,
       CAST(MAX(n.alphabet) AS BIGINT) AS alphabet,
       ROUND(SUM(-(CAST(cc.k AS DOUBLE) / n.n)
                 * log2(CAST(cc.k AS DOUBLE) / n.n)), 6) AS entropy_bits
FROM cc JOIN n USING (doc_id)
GROUP BY cc.doc_id
"""


@register("text_char_entropy", _ENT_SQL)
def text_char_entropy(spark, sf_dir):
    """Per-document character entropy (bits/char) with the alphabet
    size: exact integer counts, one log2 per distinct character per
    document, the sum rounded once at 6dp. Bounds pinned in
    tests/test_ext75.py — 0 for a one-character text, exactly
    log2(alphabet) for an equidistributed one, monotone under
    concentration — plus a brute recount on the corpus, and the
    curation property: repetitive (low-entropy) text compresses
    under stdlib zlib measurably better than high-entropy text, the
    correlation the signal is a stand-in for.

    Scale shape: the per-character explode is a narrow map and the
    (doc, char) census collapses immediately (alphabet-bounded per
    doc); one shuffle on doc_id. At 100 TB the explode-free rewrite
    aggregates per PARTITION character histograms first — same
    numbers, fewer intermediate rows."""
    ch = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", "")).alias("c")
    ).filter(F.col("c") != "")
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    n = cc.groupBy("doc_id").agg(
        F.sum("k").alias("n"), F.count(F.lit(1)).alias("alphabet")
    )
    p = F.col("k").cast("double") / F.col("n")
    return (
        cc.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.max("alphabet").cast("long").alias("alphabet"),
            F.round(F.sum(-p * F.log2(p)), 6).alias("entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation.
#
# lang_detect ships the classifier; a curation pipeline also needs its
# EVALUATION against labeled data — the confusion matrix with per-cell
# marginals, which is where a stopword heuristic's failure modes
# become visible (the fixture's 'zh' documents have no profile at all
# and must land in 'unknown' or a false positive, never silently
# vanish). Every cell carries its row recall (n / true-language total)
# and column precision (n / predicted-language total), so the matrix
# IS the eval report.
# ---------------------------------------------------------------------------
_PRED_SQL = f"""CASE
 WHEN {_LANG_COUNT['de']} > GREATEST({_LANG_COUNT['en']}, {_LANG_COUNT['es']}, {_LANG_COUNT['fr']}) THEN 'de'
 WHEN {_LANG_COUNT['fr']} > GREATEST({_LANG_COUNT['en']}, {_LANG_COUNT['es']}) THEN 'fr'
 WHEN {_LANG_COUNT['es']} > {_LANG_COUNT['en']} THEN 'es'
 WHEN {_LANG_COUNT['en']} > 0 THEN 'en'
 ELSE 'unknown' END"""


_EVAL_SQL = f"""
WITH pred AS (
  SELECT lang AS true_lang, {_PRED_SQL} AS predicted FROM documents),
cm AS (
  SELECT true_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2)
SELECT true_lang, predicted, n,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY true_lang), 6) AS row_recall,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY predicted), 6) AS col_precision
FROM cm
"""


@register("text_langid_eval", _EVAL_SQL)
def text_langid_eval(spark, sf_dir):
    """Confusion matrix of lang_detect's stopword argmax against the
    documents.lang labels, each cell annotated with its row recall
    and column precision. Marginal identities (recalls per true
    language sum to 1, precisions per predicted language sum to 1)
    and the no-profile honesty property ('zh' has zero correct
    predictions because no zh profile exists — the eval must say so,
    not hide it) are pinned in tests/test_ext77.py.

    Scale shape: the classifier is the per-row expression lang_id
    compiles to (one tokenizer bind, profile-count filters); the
    matrix is a languages-squared-bounded aggregate with two window
    marginals over <= 25 cells."""
    from stockify_spark.functions.text import lang_id

    pred = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("true_lang"),
        lang_id("text").alias("predicted"),
    )
    cm = pred.groupBy("true_lang", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wr = Window.partitionBy("true_lang")
    wc = Window.partitionBy("predicted")
    return cm.select(
        "true_lang",
        "predicted",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wr), 6).alias(
            "row_recall"
        ),
        F.round(F.col("n").cast("double") / F.sum("n").over(wc), 6).alias(
            "col_precision"
        ),
    )


# ---------------------------------------------------------------------------
# doc_quality_gopher_ngrams — the REST of the Gopher/MassiveText
# repetition suite (Rae et al. 2022, table A1): fraction of
# characters in the most frequent {2,3,4}-gram, and fraction of
# characters in duplicated {5..10}-grams. doc_quality_gopher covers
# the token/bigram top fractions; this closes the n-gram family.
# ---------------------------------------------------------------------------
_GOPHER_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"


_GOPHER_NG_SQL = f"""
WITH d AS (
  SELECT doc_id, {_GOPHER_TOKS} AS t,
         length(array_to_string({_GOPHER_TOKS}, ' ')) AS c
  FROM documents
),
dn AS (
  SELECT doc_id, c, t, ns.n AS n
  FROM d, LATERAL (SELECT unnest(range(2, 11)) AS n) AS ns
  WHERE len(t) >= ns.n
),
g AS (
  SELECT doc_id, c, n,
         array_to_string(t[i:i + n - 1], ' ') AS gr
  FROM dn,
       LATERAL (SELECT unnest(range(1, len(t) - n + 2)) AS i) AS pos
),
cnt AS (
  SELECT doc_id, n, gr, ANY_VALUE(c) AS c, COUNT(*) AS k
  FROM g GROUP BY doc_id, n, gr
),
top AS (
  SELECT doc_id, n, k * length(gr) AS mass FROM (
    SELECT doc_id, n, gr, k,
           ROW_NUMBER() OVER (PARTITION BY doc_id, n
                              ORDER BY k DESC, gr ASC) AS r
    FROM cnt WHERE n <= 4) WHERE r = 1
),
dup AS (
  SELECT doc_id, n,
         SUM(CASE WHEN k > 1 THEN (k - 1) * length(gr) ELSE 0 END) AS mass
  FROM cnt WHERE n >= 5 GROUP BY doc_id, n
),
m AS (
  SELECT doc_id, n, mass FROM top
  UNION ALL SELECT doc_id, n, mass FROM dup
)
SELECT d.doc_id,
  {", ".join(
    f"ROUND(COALESCE(MAX(CASE WHEN m.n = {n} THEN m.mass END), 0)"
    f" * 1.0 / d.c, 6) AS {'top' if n <= 4 else 'dup'}{n}_frac"
    for n in range(2, 11)
  )}
FROM d LEFT JOIN m ON m.doc_id = d.doc_id
WHERE d.c > 0
GROUP BY d.doc_id, d.c
"""


@register("doc_quality_gopher_ngrams", _GOPHER_NG_SQL)
def doc_quality_gopher_ngrams(spark, sf_dir):
    """Gopher repetition filters, n-gram half (Rae et al. 2022 A1):
    per doc, the fraction of characters in the MOST FREQUENT
    {2,3,4}-gram (count × gram chars / doc chars; ties broken by
    count DESC then gram ASC) and the fraction of characters in
    DUPLICATED {5..10}-grams (the repeated character mass:
    Σ over grams seen k>1 times of (k−1)·gram chars — every
    occurrence beyond the first counts, the Dolma/RedPajama
    accounting). All masses are exact integers; one division +
    ROUND(6) per cell.

    Scale shape: ONE explode produces (doc, n, gram) for all nine
    n's in a single map pass over the token arrays; one map-side-
    combined groupBy to gram counts; the top pick is a per-(doc, n)
    window over the doc's own gram vocabulary (doc-bounded, never
    corpus-keyed — the round-12 skew policy's bounded-key case);
    the final fold is one per-doc aggregate."""
    from pyspark.sql import Window as _W

    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    t = tokens("text")
    d = docs.select(
        "doc_id",
        t.alias("t"),
        F.length(F.concat_ws(" ", t)).alias("c"),
    ).filter(F.col("c") > 0)
    g = (
        d.select(
            "doc_id",
            "c",
            "t",
            F.explode(F.sequence(F.lit(2), F.lit(10))).alias("n"),
        )
        .filter(F.size("t") >= F.col("n"))
        .select(
            "doc_id",
            "c",
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - F.col("n") + 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("t"), i, F.col("n"))
                    ),
                )
            ).alias("gr"),
        )
    )
    cnt = g.groupBy("doc_id", "n", "gr").agg(
        F.first("c").alias("c"), F.count(F.lit(1)).alias("k")
    )
    top = (
        cnt.filter(F.col("n") <= 4)
        .withColumn(
            "r",
            F.row_number().over(
                _W.partitionBy("doc_id", "n").orderBy(
                    F.col("k").desc(), F.col("gr").asc()
                )
            ),
        )
        .filter(F.col("r") == 1)
        .select("doc_id", "n", (F.col("k") * F.length("gr")).alias("mass"))
    )
    dup = (
        cnt.filter(F.col("n") >= 5)
        .groupBy("doc_id", "n")
        .agg(
            F.sum(
                F.when(
                    F.col("k") > 1, (F.col("k") - 1) * F.length("gr")
                ).otherwise(0)
            ).alias("mass")
        )
    )
    m = top.unionByName(dup)
    cells = [
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("mass"))), F.lit(0)
            )
            * 1.0
            / F.first("c"),
            6,
        ).alias(f"{'top' if n <= 4 else 'dup'}{n}_frac")
        for n in range(2, 11)
    ]
    return (
        d.select("doc_id", "c")
        .join(m, "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.first("c").alias("_c"), *[c for c in cells])
        .drop("_c")
    )


# ---------------------------------------------------------------------------
# Corpus-statistics operators for the
# tokenizer/embedding side of a training-data pipeline.
#
# Four queries: SPPMI (the shifted positive PMI matrix word2vec
# implicitly factorizes — Levy & Goldberg 2014 — built over the same
# ±2 skip-gram window as text_skipgram_pairs), tokenizer vocabulary
# coverage (the OOV audit run before freezing a vocab), Mahalanobis
# outlier scoring over per-document features (the multivariate version
# of the z-score gates in dq_checks, with a closed-form 3×3 covariance
# inverse), and data-constrained epoch allocation (how many epochs to
# repeat each source under a token budget, with the
# diminishing-returns discount of Muennighoff et al. 2023).
# ---------------------------------------------------------------------------
_SPPMI_W = 2          # skip-gram window half-width (matches text_skipgram_pairs)

_NEG_K = 5      # SPPMI shift = ln(k), word2vec's negative-sample count

_MIN_N = 3      # drop pairs rarer than this before scoring

_SPPMI_TOPN = 100


_SPPMI_SQL = f"""
WITH tok AS (SELECT string_split(lower(text), ' ') AS ts FROM documents),
pairs AS (
  SELECT ts[i] AS center, ts[i + d] AS context
  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM tok),
       (SELECT unnest(range(1, {_SPPMI_W + 1})) AS d)
  WHERE i + d <= len(ts)
  UNION ALL
  SELECT ts[i + d] AS center, ts[i] AS context
  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM tok),
       (SELECT unnest(range(1, {_SPPMI_W + 1})) AS d)
  WHERE i + d <= len(ts)),
pc AS (SELECT center, context, CAST(COUNT(*) AS DOUBLE) AS n
       FROM pairs GROUP BY 1, 2),
wm AS (SELECT center AS w, SUM(n) AS nw FROM pc GROUP BY 1),
cm AS (SELECT context AS w, SUM(n) AS nc FROM pc GROUP BY 1),
tot AS (SELECT SUM(n) AS t FROM pc),
scored AS (
  SELECT pc.center, pc.context, CAST(pc.n AS BIGINT) AS n,
         greatest(0, ln(pc.n * tot.t / (wm.nw * cm.nc)) - ln({_NEG_K})) AS raw
  FROM pc JOIN wm ON wm.w = pc.center JOIN cm ON cm.w = pc.context
       CROSS JOIN tot
  WHERE pc.n >= {_MIN_N}),
ranked AS (
  SELECT center, context, n, ROUND(raw, 6) AS sppmi,
         ROW_NUMBER() OVER (ORDER BY ROUND(raw, 6) DESC, center, context)
           AS rnk
  FROM scored)
SELECT center, context, n, sppmi FROM ranked WHERE rnk <= {_SPPMI_TOPN}
"""


@register("text_sppmi", _SPPMI_SQL)
def text_sppmi(spark, sf_dir):
    """Top-100 entries of the SPPMI matrix over the ±2 skip-gram
    window: max(0, PMI(w,c) - ln k) with k=5 — the sparse matrix
    whose SVD is equivalent to word2vec SGNS embeddings (Levy &
    Goldberg 2014). Pairs rarer than 3 are dropped first (the
    standard min-count), and ranking happens on the ROUNDED score so
    the cross-engine tie-break (center, context) is decided on
    identical keys.

    Shape: pair generation is the proven single-scan zip_with form
    from text_skipgram_pairs (one corpus scan, 2W struct arrays
    concatenated before one explode); then one (center, context)
    count shuffle with map-side combine; margins are rollups of that
    vocabulary²-bounded table joined back (center margin broadcast;
    at real scale both margins are vocabulary-sized, far under the
    pair table). ln on exact-count ratios: ~ulp drift vs the 6dp
    round."""
    docs = _t(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), " ").alias("ts")
    )
    arrays = []
    for d in range(1, _SPPMI_W + 1):
        n = F.size("ts")
        left = F.slice("ts", 1, F.greatest(n - d, F.lit(0)))
        right = F.slice("ts", d + 1, F.greatest(n - d, F.lit(0)))
        arrays.append(
            F.zip_with(left, right, lambda a, b: F.struct(a.alias("x"), b.alias("y")))
        )
        arrays.append(
            F.zip_with(left, right, lambda a, b: F.struct(b.alias("x"), a.alias("y")))
        )
    pairs = docs.select(F.explode(F.concat(*arrays)).alias("p")).select(
        F.col("p.x").alias("center"), F.col("p.y").alias("context")
    )
    pc = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    wm = pc.groupBy(F.col("center").alias("w")).agg(F.sum("n").alias("nw"))
    cm = pc.groupBy(F.col("context").alias("w")).agg(F.sum("n").alias("nc"))
    tot = pc.agg(F.sum("n").alias("t"))
    raw = F.greatest(
        F.lit(0),
        F.log(F.col("n") * F.col("t") / (F.col("nw") * F.col("nc"))) - F.log(F.lit(float(_NEG_K))),
    )
    scored = (
        pc.filter(F.col("n") >= _MIN_N)
        .join(F.broadcast(wm), pc["center"] == wm["w"])
        .drop("w")
        .join(F.broadcast(cm), pc["context"] == cm["w"])
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            F.col("n").cast("bigint").alias("n"),
            F.round(raw, 6).alias("sppmi"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("sppmi").desc(), "center", "context")
        ),
    )
    return ranked.filter(F.col("rnk") <= _SPPMI_TOPN).select(
        "center", "context", "n", "sppmi"
    )


# ---------------------------------------------------------------------------
# tokenizer_vocab_coverage — OOV audit against a frozen top-K vocab
# ---------------------------------------------------------------------------

_VOCAB_K = 500


_COV_SQL = f"""
WITH tok AS (
  SELECT lang, w
  FROM (SELECT lang, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        FROM documents)
  WHERE w <> ''),
cnt AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY 1),
vocab AS (SELECT w FROM (
  SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk FROM cnt)
  WHERE rnk <= {_VOCAB_K}),
lcnt AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(SUM(CASE WHEN v.w IS NOT NULL THEN n ELSE 0 END)
             / CAST(SUM(n) AS DOUBLE), 6) AS occ_coverage,
       ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_type_share
FROM lcnt LEFT JOIN vocab v USING (w)
GROUP BY lang
"""


@register("tokenizer_vocab_coverage", _COV_SQL)
def tokenizer_vocab_coverage(spark, sf_dir):
    """Vocabulary-coverage audit: freeze the corpus-global top-500
    tokens (count desc, lexicographic tie-break — the deterministic
    vocab a tokenizer build would emit) and report, per language,
    what fraction of token OCCURRENCES the frozen vocab covers and
    what fraction of distinct TYPES fall outside it. The per-language
    split is the point — a vocab frozen on the majority language
    under-covers the tail languages, and this is the query that
    shows it before training does.

    Shape: one exploded-token scan feeds both the global count table
    and the per-language count table (two compact (token, count)
    shuffles with map-side combine); the frozen vocab is a top-K of
    the global table (vocabulary-sized, broadcast into the left
    join); everything after the explode is bounded by vocabulary,
    never the token stream."""
    tok = _t(spark, sf_dir, "documents").select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("w"),
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        cnt.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.col("n").desc(), "w"))
        )
        .filter(F.col("rnk") <= _VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    lcnt = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n"))
    j = lcnt.join(F.broadcast(vocab), "w", "left")
    return j.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNotNull(), F.col("n")).otherwise(0))
            / F.sum("n").cast("double"),
            6,
        ).alias("occ_coverage"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_type_share"),
    )
