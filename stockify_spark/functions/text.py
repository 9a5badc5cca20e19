"""Text-analysis functions for the training-data pipeline
(north-star extension; the reference never touches its one string
column after parsing it, stockify.cu:22,44 — SURVEY §2.6).

All hot-path functions are built-in column expressions (JVM-side,
codegen'd): tokenization is a regex split, ratios are length
arithmetic, fingerprints are built-in hashes. No Python UDFs — at
100 TB these run inside WholeStageCodegen on the scan output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer, shared with every consumer (dedup shingles,
# quality, lang-id) so token semantics are consistent engine-wide.
_WS = r"\s+"

# Minimal per-language stopword profiles for the n-gram/stopword
# language heuristic. Deliberately tiny and hard-coded: the heuristic
# must be a pure column expression, and profiles are public-knowledge
# function words.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "es", "los"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "une", "est", "les"),
    "de": ("der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "den"),
}


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of lower-cased, trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), _WS)


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def avg_token_len(col: str | Column) -> Column:
    """Mean token length — a basic quality signal."""
    t = tokens(col)
    return F.aggregate(t, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)) / F.size(t)


def quality_score(col: str | Column) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards
    reasonable length, penalizes very short docs and extreme mean
    token length. Pure column arithmetic — one pass, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    mean_len = avg_token_len(c)
    length_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    shape_term = F.when((mean_len >= 2.0) & (mean_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(length_term * shape_term, 6)


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (lower, trimmed, whitespace collapsed). Stable across engines —
    the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.trim(F.lower(c)), _WS, " ")
    return F.md5(normalized)


def _isin_pred(stopwords: tuple[str, ...]):
    # single-parameter lambda factory: a two-parameter lambda (e.g.
    # ``lambda x, sw=sw``) would be interpreted by Spark's higher-order
    # functions as an (element, index) lambda and receive the array
    # index as the second argument
    return lambda x: x.isin(*stopwords)


def lang_id(col: str | Column, default: str = "unknown") -> Column:
    """Argmax language over the stopword profiles; ``default`` when no
    profile matches at all. Deterministic tie-break: profile order
    (earlier profile wins an equal score — encoded as max over
    (score, -profile_index) structs).

    The token array is bound ONCE through a ``transform`` lambda
    variable: the naive when-chain argmax embeds the tokenizer
    expression O(profiles²) times post-CollapseProject (each score
    appears in every comparison AND every carry), which made this the
    most expensive text query in the round-6 bench — the regexp
    split, not the argmax, was the cost."""
    c = F.col(col) if isinstance(col, str) else col
    langs = list(LANG_PROFILES.items())

    def best_of(t: Column) -> Column:
        return F.array_max(
            F.array(
                *[
                    F.struct(
                        F.size(F.filter(t, _isin_pred(sw))).alias("s"),
                        F.lit(-i).alias("ni"),
                        F.lit(lang).alias("l"),
                    )
                    for i, (lang, sw) in enumerate(langs)
                ]
            )
        )

    best = F.transform(F.array(tokens(c)), best_of)[0]
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit(default))


def winnow_fingerprints(
    df,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    hash_family: str = "xxhash64",
):
    """Winnowing document fingerprints (the rolling-hash scheme of
    MOSS): hash every character k-gram, keep the minimum hash of each
    sliding window of ``window`` consecutive k-grams, emit the
    distinct kept hashes per document.

    Guarantees: identical docs → identical fingerprint sets; any
    shared substring of length >= k + window - 1 shares at least one
    fingerprint. Built entirely from explode + a gram hash + a bounded
    partitioned window + distinct — no Python in the loop. Returns
    (id_col, fingerprint) rows.

    ``hash_family``: ``"xxhash64"`` (fastest, JVM-only values) or
    ``"md5"`` — the 60-bit md5-prefix hash shared with the MinHash /
    SimHash families (llm/dedup.py), nameable in ANSI SQL so a
    differential oracle can reproduce every fingerprint value
    cross-engine.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # materialize the normalized text ONCE per row: referencing the
    # regexp_replace tree from inside the transform() lambda and the
    # sequence() bound re-evaluates it per reference (measured 1.6×
    # at sf0.1: 0.97 s → 0.62 s median)
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    normed = df.select(F.col(id_col), norm.alias("_norm"))
    grams = normed.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.length("_norm") - k, F.lit(0))),
                lambda i: F.col("_norm").substr(i + F.lit(1), F.lit(k)),
            )
        ).alias("pos", "gram"),
    )
    if hash_family == "md5":
        h = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("gram")
    hashed = grams.select(id_col, "pos", h.alias("h"))
    w = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    kept = hashed.select(id_col, F.min("h").over(w).alias("fingerprint"))
    return kept.select(id_col, "fingerprint").distinct()


def repetition_stats(df, text_col: str, id_col: str):
    """Gopher-style repetition quality metrics per document: token
    count, most-common-token fraction, duplicate-token fraction, and
    most-common-bigram fraction (the "repetitious document" signals
    of the Gopher / MassiveText filtering rules).

    Shape at scale: one explode feeding two partial-aggregated
    groupBys (token counts combine map-side before the (id, tok)
    shuffle) plus one bounded lead() window per document for bigrams
    — no corpus-wide state, everything keyed by the document id. All
    fractions are single IEEE divisions of exact integer counts, so
    a differential oracle matches them bit-for-bit.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    tc = toks.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    uni = tc.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_c"),
        F.count("*").alias("n_distinct"),
    )
    w = W.partitionBy(id_col).orderBy("pos")
    big = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col(id_col), F.concat_ws(" ", "tok", "nxt").alias("bg"))
    )
    bc = big.groupBy(id_col, "bg").agg(F.count("*").alias("c"))
    bi = bc.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bg_c")
    )
    n = F.col("n_tokens").cast("double")
    return (
        uni.join(bi, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("top_c") / n).alias("top_token_frac"),
            ((F.col("n_tokens") - F.col("n_distinct")) / n).alias("dup_token_frac"),
            F.when(
                F.col("n_bigrams") > 0,
                F.col("top_bg_c") / F.col("n_bigrams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )
