"""Data-pipeline queries: corpus curation steps, data-quality checks,
profiling, mixture weighting and the audit reports a curation
pipeline emits.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F, Window

from stockify_spark.functions.scale import materialize
from stockify_spark.queries.dedup import _minhash_oracle_sql, _SHINGLES_SQL
from stockify_spark.queries.text import _CHUNK_S, _CHUNK_W, _PPL_SQL, text_perplexity, _TOKS_SQL
from stockify_spark.registry import register, _t
from stockify_spark.sources.fixtures import _scratch_table


@register(
    "pipeline_clean_corpus",
    # language filter → quality gate → exact-dedup keeper selection,
    # as one composed plan (the end-to-end shape of a training-data
    # cleaning job)
    "WITH en AS (SELECT doc_id,"
    " md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,"
    " ROUND(LEAST(CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS DOUBLE) / 64.0, 1.0)"
    " * (CASE WHEN list_sum(list_transform(string_split_regex(trim(lower(text)), '\\s+'),"
    " x -> CAST(length(x) AS DOUBLE))) / len(string_split_regex(trim(lower(text)), '\\s+'))"
    " BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 6) AS q"
    " FROM documents WHERE lang = 'en')"
    " SELECT MIN(doc_id) AS doc_id FROM en WHERE q >= 0.5 GROUP BY fp",
)
def pipeline_clean_corpus(spark, sf_dir):
    """Composed cleaning pipeline: language filter → quality gate →
    exact dedup (deterministic min-id keeper). One declarative plan:
    the filters fuse into the scan, the only shuffle is the dedup
    groupBy on the fingerprint digest — the whole pipeline costs one
    pass + one hash shuffle at any corpus size."""
    from stockify_spark.functions.text import fingerprint, quality_score

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    scored = docs.withColumn("q", quality_score("text")).filter(F.col("q") >= 0.5)
    return (
        scored.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


@register(
    "pipeline_token_pack",
    # greedy sequence packing: documents (in doc_id order) are
    # assigned to fixed-capacity context windows by their exclusive
    # running token count. Token counts are integers, so the prefix
    # sums are exact in any engine and the comparison is hash-exact.
    # the window SUM over BIGINT is HUGEINT in DuckDB, which degrades
    # to float64 in the driver's pandas path — CAST AS BIGINT keeps
    # start_tok/pack_id hash-type-stable against Spark's int64.
    "WITH t AS (SELECT doc_id,"
    " CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tokens"
    " FROM documents),"
    " c AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER ("
    " ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
    " AS start_tok FROM t)"
    " SELECT doc_id, n_tokens, start_tok, CAST(start_tok // 2048 AS BIGINT) AS pack_id FROM c",
)
def pipeline_token_pack(spark, sf_dir):
    """LLM-pretraining sequence packing: each document lands in the
    context window (pack) where its starting token offset falls —
    concat-and-chunk over the corpus order. The running offset comes
    from operators.windows.bucketed_prefix_sum, the two-phase
    parallel scan: per-bucket totals, running offsets over the
    bucket-total table (bucket_size× smaller), within-bucket windows
    — the ORACLE is the plain global-order window, so the
    distributed scan is proven equal to the single-partition form.
    At 100 TB the row-scale data never funnels through one task."""
    from stockify_spark.functions.text import token_count
    from stockify_spark.operators.windows import bucketed_prefix_sum

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    out = bucketed_prefix_sum(
        docs, "doc_id", "n_tokens", "start_tok", bucket_size=128, exclusive=True
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        F.expr("start_tok div 2048").alias("pack_id"),
    )


_SHINGLE8_SQL = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS_SQL}) - 8, 0) + 1),"
    f" i -> array_to_string({_TOKS_SQL}[i + 1:i + 8], ' ')))"
)


@register(
    "pipeline_contamination",
    # The oracle names the identical candidate set because the
    # shingle hash is the cross-engine md5-prefix family.
    f"WITH d AS (SELECT doc_id, {_SHINGLE8_SQL} AS sh FROM documents),"
    " u AS (SELECT doc_id, CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)"
    "  AS h FROM (SELECT doc_id, unnest(sh) AS s FROM d)),"
    " e AS (SELECT doc_id AS eval_id, h FROM u WHERE doc_id < 20),"
    " t AS (SELECT doc_id AS train_id, h FROM u WHERE doc_id >= 20)"
    " SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared"
    " FROM t JOIN e USING (h) GROUP BY train_id, eval_id",
)
def pipeline_contamination(spark, sf_dir):
    """Benchmark contamination (llm/dedup.contamination_pairs): train
    docs sharing any 8-token shingle with the eval set (doc_id < 20
    plays the benchmark). The eval side broadcasts, so the training
    corpus never shuffles — the pre-training hygiene check at 100 TB
    is a map-side join against a few thousand benchmark shingles."""
    from stockify_spark.llm.dedup import contamination_pairs

    docs = _t(spark, sf_dir, "documents")
    return contamination_pairs(docs, "text", "doc_id", eval_max_id=20, k=8)


# ---------------------------------------------------------------------------
# PII redaction (pre-training hygiene). The synthetic corpus contains
# no organic PII, so the query plants a deterministic PII suffix per
# doc — identically in the Spark plan and the oracle SQL — and then
# redacts it: the MECHANISM (pattern match, count, replace, verify)
# is what's under test, with nonzero counts on every row.
# ---------------------------------------------------------------------------

# Java-regex / RE2 common-subset patterns.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PHONE_RE = r"\+\d{2}-\d{3}-\d{4,8}"


def _planted(doc_id):
    """The deterministic PII suffix for one doc — Spark side."""
    m = (doc_id % 250) + 1
    id7 = 1000000 + doc_id
    return F.concat(
        F.lit(" contact user"),
        doc_id.cast("string"),
        F.lit("@example-"),
        m.cast("string"),
        F.lit(".org or +49-555-"),
        id7.cast("string"),
        F.lit(" at 10."),
        m.cast("string"),
        F.lit("."),
        m.cast("string"),
        F.lit("."),
        m.cast("string"),
    )


_PLANTED_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example-'"
    " || CAST(doc_id % 250 + 1 AS VARCHAR) || '.org or +49-555-'"
    " || CAST(1000000 + doc_id AS VARCHAR)"
    " || ' at 10.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)"
)


@register(
    "pipeline_pii_redact",
    "WITH planted AS (SELECT doc_id,"
    f" text || {_PLANTED_SQL} AS text FROM documents),"
    " counted AS (SELECT doc_id, text,"
    f" len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,"
    f" len(regexp_extract_all(text, '{_IPV4_RE}')) AS n_ips,"
    f" len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones"
    " FROM planted)"
    " SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,"
    " CAST(n_ips AS BIGINT) AS n_ips,"
    " CAST(n_phones AS BIGINT) AS n_phones,"
    " CAST(length(regexp_replace(regexp_replace(regexp_replace(text,"
    f" '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_IPV4_RE}', '<IP>', 'g'),"
    f" '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,"
    " CAST(NOT regexp_matches(regexp_replace(regexp_replace("
    f" regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),"
    f" '{_IPV4_RE}', '<IP>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g'),"
    f" '{_EMAIL_RE}') AS BOOLEAN) AS clean"
    " FROM counted",
)
def pipeline_pii_redact(spark, sf_dir):
    """PII scrubbing, the standard pre-training hygiene pass (emails,
    IPv4s, phone numbers → typed placeholders). Pure column
    expressions — regexp_extract_all / regexp_replace run inside
    whole-stage codegen, zero Python, zero shuffles: at 100 TB this
    is a map-only pass whose cost is the scan itself. The `clean`
    column re-scans the redacted text for residual matches — the
    verify step a compliance pipeline needs."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), _planted(F.col("doc_id"))).alias("text")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _IPV4_RE,
            "<IP>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_IPV4_RE), F.lit(0))).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        (~redacted.rlike(_EMAIL_RE)).alias("clean"),
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate dedup (the C4/RefinedWeb cleaning pass):
# lines repeated across many documents are boilerplate (headers,
# nav, disclaimers); drop any line occurring in >= K distinct docs
# and reassemble each document from its surviving lines in order.
# ---------------------------------------------------------------------------
@register(
    "pipeline_line_dedup",
    "WITH lines AS (SELECT doc_id, i AS line_no, ln FROM ("
    "  SELECT doc_id, unnest(string_split(text, '. ')) AS ln,"
    "   unnest(range(1, len(string_split(text, '. ')) + 1)) AS i"
    "  FROM documents)),"
    " freq AS (SELECT ln, COUNT(DISTINCT doc_id) AS n_docs FROM lines"
    "  GROUP BY ln),"
    " kept AS (SELECT l.doc_id, l.line_no, l.ln FROM lines l"
    "  JOIN freq f ON f.ln = l.ln WHERE f.n_docs < 3)"
    " SELECT doc_id,"
    " CAST(COUNT(*) AS BIGINT) AS n_kept,"
    " CAST(length(string_agg(ln, '. ' ORDER BY line_no)) AS BIGINT)"
    "  AS clean_len,"
    " md5(string_agg(ln, '. ' ORDER BY line_no)) AS clean_hash"
    " FROM kept GROUP BY doc_id",
)
def pipeline_line_dedup(spark, sf_dir):
    """Boilerplate-line removal: explode documents to (doc, line_no,
    line), count DISTINCT docs per line, keep lines seen in < 3
    docs, and reassemble each doc in original line order (emitted as
    length + md5 so the output stays scalar). Scale shape: the line
    table shuffles once for the frequency count (map-side combine on
    the line text collapses within-partition repeats) and once for
    the per-doc reassembly; the frequency side joins back by line
    text — at 100 TB hash the line to a 16-byte key first. This is
    the sentence-level sibling of dedup_exact and the standard
    pre-training cleaning pass between document dedup and quality
    filtering."""
    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\. ")).alias("_i", "ln"),
    ).select("doc_id", (F.col("_i") + 1).alias("line_no"), "ln")
    freq = lines.groupBy("ln").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    kept = lines.join(freq.filter(F.col("n_docs") < 3), "ln")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_no", "ln"))
                ),
                lambda s: s["ln"],
            ),
            ". ",
        ).alias("_clean"),
    )
    return reassembled.select(
        "doc_id",
        "n_kept",
        F.length("_clean").cast("long").alias("clean_len"),
        F.md5("_clean").alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# Training-mix statistics per source — the table a data-mixing
# config is written from (docs, chars, token estimate, quality
# proxies per source, plus each source's share of the corpus).
# ---------------------------------------------------------------------------

@register(
    "pipeline_source_mix",
    "WITH s AS (SELECT source, lang,"
    "  CAST(COUNT(*) AS BIGINT) AS n_docs,"
    "  CAST(SUM(n_chars) AS BIGINT) AS total_chars,"
    "  CAST(SUM(len(list_filter(string_split_regex(lower(text),"
    "   '[^a-z0-9]+'), t -> t <> ''))) AS BIGINT) AS total_tokens"
    "  FROM documents GROUP BY source, lang)"
    " SELECT source, lang, n_docs, total_chars, total_tokens,"
    " ROUND(CAST(total_tokens AS DOUBLE)"
    "  / SUM(total_tokens) OVER (), 6) AS token_share"
    " FROM s",
)
def pipeline_source_mix(spark, sf_dir):
    """Per-(source, lang) corpus composition: docs, chars, tokens,
    and each cell's token share of the whole corpus — the input to
    any data-mixing/reweighting decision. One group-by with map-side
    combine over the scan (token counting fused as a column
    expression), then a window over the |sources|×|langs| result for
    the shares: the second pass is group-bounded, scale-free."""
    docs = _t(spark, sf_dir, "documents")
    tok_count = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )
    s = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(tok_count).cast("long").alias("total_tokens"),
    )
    return s.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            / F.sum("total_tokens").over(Window.partitionBy()),
            6,
        ).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Deterministic split assignment — hash-based train/val/test
# bucketing that is stable under recomputation, reshuffling, and
# incremental corpus growth (the property random() splits lack).
# ---------------------------------------------------------------------------

@register(
    "pipeline_split_assign",
    "WITH assigned AS (SELECT source, doc_id,"
    "  CAST(CONCAT('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)),"
    "   1, 8)) AS BIGINT) % 100 AS bucket FROM documents)"
    " SELECT source,"
    " CASE WHEN bucket < 90 THEN 'train'"
    "  WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,"
    " CAST(COUNT(*) AS BIGINT) AS n_docs,"
    " MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc"
    " FROM assigned GROUP BY 1, 2",
)
def pipeline_split_assign(spark, sf_dir):
    """90/5/5 train/val/test assignment from an md5 coin on the
    document id: deterministic (re-runs agree), engine-portable (the
    oracle reproduces every assignment bit-for-bit), and stable as
    the corpus grows (new docs hash independently — no global sort
    or count that reshuffles old assignments, which is why the
    100 TB pipeline wants hash splits, not row_number() % N). Pure
    map-side expression ahead of one group-bounded aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        docs.select(
            "source",
            "doc_id",
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# One-pass column profiler — the stats screen every engine ships
# (null %, distinct counts, extrema) emitted long-format, one row
# per profiled column.
# ---------------------------------------------------------------------------
@register(
    "profile_columns",
    "WITH s AS (SELECT"
    "  COUNT(*) AS n,"
    "  COUNT(o_custkey) AS nn_cust, COUNT(DISTINCT o_custkey) AS nd_cust,"
    "  CAST(MIN(o_custkey) AS VARCHAR) AS mn_cust,"
    "  CAST(MAX(o_custkey) AS VARCHAR) AS mx_cust,"
    "  COUNT(o_orderstatus) AS nn_st, COUNT(DISTINCT o_orderstatus) AS nd_st,"
    "  MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st,"
    "  COUNT(o_orderpriority) AS nn_pr, COUNT(DISTINCT o_orderpriority) AS nd_pr,"
    "  MIN(o_orderpriority) AS mn_pr, MAX(o_orderpriority) AS mx_pr"
    "  FROM orders)"
    " SELECT col, n, n_nonnull, n_distinct, min_str, max_str FROM ("
    "  SELECT 'o_custkey' AS col, n, nn_cust AS n_nonnull,"
    "   nd_cust AS n_distinct, mn_cust AS min_str, mx_cust AS max_str FROM s"
    "  UNION ALL SELECT 'o_orderstatus', n, nn_st, nd_st, mn_st, mx_st FROM s"
    "  UNION ALL SELECT 'o_orderpriority', n, nn_pr, nd_pr, mn_pr, mx_pr FROM s)",
)
def profile_columns(spark, sf_dir):
    """Column profile of orders in ONE scan: per column — non-null
    count, exact distinct, min/max (stringified for a uniform
    long-format schema). All profiled columns aggregate in a single
    pass (Catalyst expands the multi-distinct into one expand +
    aggregate), then a zero-shuffle stack() reshapes wide → long. At
    100 TB swap exact distincts for approx_count_distinct sketches
    (agg_approx_distinct pins that contract) — same single-scan
    shape."""
    t = _t(spark, sf_dir, "orders")
    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("string").alias("mn_cust"),
        F.max("o_custkey").cast("string").alias("mx_cust"),
        F.count("o_orderstatus").alias("nn_st"),
        F.countDistinct("o_orderstatus").alias("nd_st"),
        F.min("o_orderstatus").alias("mn_st"),
        F.max("o_orderstatus").alias("mx_st"),
        F.count("o_orderpriority").alias("nn_pr"),
        F.countDistinct("o_orderpriority").alias("nd_pr"),
        F.min("o_orderpriority").alias("mn_pr"),
        F.max("o_orderpriority").alias("mx_pr"),
    )
    return s.select(
        F.expr(
            "stack(3,"
            " 'o_custkey', n, nn_cust, nd_cust, mn_cust, mx_cust,"
            " 'o_orderstatus', n, nn_st, nd_st, mn_st, mx_st,"
            " 'o_orderpriority', n, nn_pr, nd_pr, mn_pr, mx_pr)"
            " AS (col, n, n_nonnull, n_distinct, min_str, max_str)"
        )
    )


# ---------------------------------------------------------------------------
# Data-quality rule screen — referential integrity, range, and
# uniqueness checks as one rule → violation-count table (what a DQ
# framework runs nightly).
# ---------------------------------------------------------------------------

@register(
    "dq_checks",
    "SELECT rule, n_violations FROM ("
    " SELECT 'lineitem_fk_orders' AS rule, CAST(("
    "  SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS"
    "   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))"
    "  AS BIGINT) AS n_violations"
    " UNION ALL SELECT 'orders_fk_customer', CAST(("
    "  SELECT COUNT(*) FROM orders o WHERE NOT EXISTS"
    "   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)"
    " UNION ALL SELECT 'discount_in_range', CAST(("
    "  SELECT COUNT(*) FROM lineitem"
    "  WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)"
    " UNION ALL SELECT 'orderkey_linenumber_unique', CAST(("
    "  SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem"
    "   GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS BIGINT)"
    " UNION ALL SELECT 'totalprice_positive', CAST(("
    "  SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT))",
)
def dq_checks(spark, sf_dir):
    """Five data-quality rules in one result: two referential-
    integrity checks (anti-join counts — the 100 TB shape: one key
    shuffle each, dim side broadcast when small), one domain range,
    one composite-key uniqueness (group-bounded), one positivity.
    Each rule is an independent subtree; Spark runs them as a union
    of small aggregates, each with its own pushed-down scan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def one(rule, cnt_df):
        return cnt_df.select(
            F.lit(rule).alias("rule"), F.col("cnt").cast("long").alias("n_violations")
        )

    fk1 = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    fk2 = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rng = li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    uniq = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pos = orders.filter(F.col("o_totalprice") <= 0).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        one("lineitem_fk_orders", fk1)
        .unionAll(one("orders_fk_customer", fk2))
        .unionAll(one("discount_in_range", rng))
        .unionAll(one("orderkey_linenumber_unique", uniq))
        .unionAll(one("totalprice_positive", pos))
    )


# ---------------------------------------------------------------------------
# dq_key_skew — join-key skew census: the diagnostic pass that decides
# whether a join needs salting (join_salted) or AQE skew handling
# ---------------------------------------------------------------------------
_SKEW_SQL = """
WITH c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
s AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot, AVG(CAST(n AS DOUBLE)) AS avg_n FROM c)
SELECT l_partkey, n, ROUND(n / s.tot, 6) AS share, ROUND(n / s.avg_n, 6) AS skew_x
FROM c, s ORDER BY n DESC, l_partkey LIMIT 5
"""


@register("dq_key_skew", _SKEW_SQL)
def dq_key_skew(spark, sf_dir):
    """Top-5 heaviest join keys on lineitem.l_partkey with their
    share of rows and skew multiple vs the mean key. This is the
    pre-join diagnostic that justifies salting: a key with skew_x in
    the hundreds means one reducer gets hundreds of partitions'
    worth of work. Shape: one count shuffle, a broadcast scalar for
    the denominators, and a TakeOrdered top-5 (per-partition heaps,
    never a global sort)."""
    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = c.agg(
        F.sum("n").cast("double").alias("tot"),
        F.avg(F.col("n").cast("double")).alias("avg_n"),
    )
    return (
        c.crossJoin(F.broadcast(s))
        .select(
            "l_partkey",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("share"),
            F.round(F.col("n") / F.col("avg_n"), 6).alias("skew_x"),
        )
        .orderBy(F.col("n").desc(), "l_partkey")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# pipeline_gzip_ingest — compressed text-shard ingestion
# ---------------------------------------------------------------------------
_GZIP_SQL = """
SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
       md5(text) AS content_md5
FROM documents
"""


@register("pipeline_gzip_ingest", _GZIP_SQL)
def pipeline_gzip_ingest(spark, sf_dir):
    """Compressed corpus ingestion: every document is gzip'd by
    STDLIB gzip (the independent reference encoder) in one
    mapInPandas stage, then decompressed by the from-scratch RFC
    1951/1952 decoder (llm/deflate.gunzip — dynamic-Huffman inflate,
    CRC-32 + ISIZE verified) in a second, and reduced to
    (n_chars, md5) which the oracle recomputes from the PLAIN text —
    so a single wrong inflate byte anywhere in the corpus fails the
    value hash. This is the only codec in the family with an
    in-container independent implementation on the other side of the
    differential; the 147-case level-crossed round trip lives in
    tests/test_deflate.py. Scale shape: gzip members are not
    splittable, so the parallel unit is the member (one binary cell
    per task batch) — exactly how WARC/.gz shards ingest at 100 TB,
    and why both codec passes are map-only Arrow stages with zero
    shuffles."""
    import hashlib

    import gzip as _gzip

    import pandas as pd
    from pyspark.sql import types as T

    from stockify_spark.llm.deflate import gunzip

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def pack(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "gz": [
                        bytearray(_gzip.compress(t.encode("utf-8"), 6))
                        for t in pdf["text"]
                    ],
                }
            )

    packed = docs.mapInPandas(
        pack,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("gz", T.BinaryType(), False),
            ]
        ),
    )

    def unpack(batches):
        for pdf in batches:
            rows = []
            for i, gz in zip(pdf["doc_id"], pdf["gz"]):
                raw = gunzip(bytes(gz))
                rows.append(
                    (int(i), len(raw.decode("utf-8")), hashlib.md5(raw).hexdigest())
                )
            yield pd.DataFrame(rows, columns=["doc_id", "n_chars", "content_md5"])

    return packed.mapInPandas(
        unpack,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("n_chars", T.LongType(), False),
                T.StructField("content_md5", T.StringType(), False),
            ]
        ),
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_incremental — incoming batch vs existing corpus
# ---------------------------------------------------------------------------
_INCR_SQL = """
WITH fp AS (SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
            FROM documents),
corpus AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_corpus,
                  MIN(doc_id) AS first_seen
           FROM fp WHERE doc_id % 10 <> 0 GROUP BY f),
incoming AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 = 0)
SELECT i.doc_id, i.f AS fingerprint,
       c.f IS NULL AS is_new,
       COALESCE(c.n_corpus, 0) AS n_corpus,
       c.first_seen
FROM incoming i LEFT JOIN corpus c ON c.f = i.f
"""


@register("pipeline_dedup_incremental", _INCR_SQL)
def pipeline_dedup_incremental(spark, sf_dir):
    """Ingest-time dedup: an incoming batch (doc_id % 10 == 0)
    checked against the EXISTING corpus (the rest) by normalized-text
    fingerprint — the decision every incremental training-data
    pipeline makes per shard ("is this document already in the
    lake?"). The corpus side reduces to one (fingerprint, count,
    first_seen) row per distinct text BEFORE the join, so the join
    moves corpus-distinct rows, not corpus rows; at 100 TB the
    corpus fingerprint table is the thing you maintain incrementally
    (txlog merge) and probe (exactly what the per-file Bloom index
    accelerates: most incoming fingerprints are absent, and an
    absent probe opens zero files). Left join keeps never-seen
    incoming docs with is_new=true and NULL provenance."""
    from pyspark.sql import functions as F

    from stockify_spark.functions.text import fingerprint

    fp = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("f")
    )
    corpus = (
        fp.filter(F.col("doc_id") % 10 != 0)
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.min("doc_id").alias("first_seen"),
        )
        .withColumnRenamed("f", "cf")
    )
    incoming = fp.filter(F.col("doc_id") % 10 == 0)
    return (
        incoming.join(corpus, incoming["f"] == corpus["cf"], "left")
        .select(
            "doc_id",
            F.col("f").alias("fingerprint"),
            F.col("cf").isNull().alias("is_new"),
            F.coalesce("n_corpus", F.lit(0)).alias("n_corpus"),
            "first_seen",
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup, burstiness
# profiling, neighbor-set graph similarity, Kaplan-Meier survival, and
# the classical mean family.
#
# Shared exactness rule (the rank-statistics discipline): every
# cross-engine aggregation accumulates integers exactly representable
# in double (event counts, neighbor counts, at-risk counts), or is a
# pure string transform; division / ln / exp happen only in final
# scalar formulas written textually identically on both faces, with
# ROUND(...,6) as display. The two log-domain queries (geometric mean,
# Kaplan-Meier) accumulate logs — the one place engine sum order can
# drift at the ulp level — and round at 6dp, the same tolerance-free
# display policy window_seasonal established.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# pipeline_url_dedup — canonicalize crawl URLs, collapse variants
# ---------------------------------------------------------------------------
_URLD_N = 4000


# raw corpus: same logical page appears as www/no-www, upper/lower
# host case, :443 port, shuffled query order, utm_* tracking noise,
# and #fragment variants
_URLD_RAW = f"""
  SELECT i AS row_id,
         'https://'
         || CASE WHEN i % 3 = 0 THEN 'WWW.' ELSE '' END
         || 'host' || (i % 5)
         || CASE WHEN i % 4 = 1 THEN '.EXAMPLE.com' ELSE '.example.com' END
         || CASE WHEN i % 6 = 2 THEN ':443' ELSE '' END
         || '/p/' || (i % 29)
         || '?'
         || CASE WHEN i % 2 = 0
                 THEN 'a=' || (i % 11) || '&b=' || (i % 7)
                 ELSE 'b=' || (i % 7) || '&a=' || (i % 11) END
         || CASE WHEN i % 5 = 0 THEN '&utm_source=feed' ELSE '' END
         || CASE WHEN i % 7 = 3 THEN '#sec' || (i % 3) ELSE '' END
           AS url
  FROM range({_URLD_N}) t(i)
"""


_URLD_SQL = f"""
WITH raw AS ({_URLD_RAW}),
canon AS (
  SELECT row_id, url,
         'https://'
         || regexp_replace(
              lower(regexp_extract(url, '^https://([^/]+)', 1)),
              '^www\\.|:443$', '', 'g')
         || regexp_extract(url, '^https://[^/]+([^?#]*)', 1)
         || '?'
         || array_to_string(
              list_sort(list_filter(
                string_split(
                  regexp_extract(url, '\\?([^#]*)', 1), '&'),
                x -> NOT starts_with(x, 'utm_'))), '&')
           AS canonical
  FROM raw
)
SELECT canonical, COUNT(*) AS n_variants,
       COUNT(DISTINCT url) AS n_distinct_raw,
       MIN(row_id) AS first_seen
FROM canon GROUP BY canonical
"""


@register("pipeline_url_dedup", _URLD_SQL)
def pipeline_url_dedup(spark, sf_dir):
    """Crawl-style URL canonicalization + dedup — the step every
    CommonCrawl-derived corpus runs before content dedup: lowercase
    host, strip www. and the default :443 port, drop the #fragment,
    drop utm_* tracking params, and sort the surviving query params
    so parameter order can't split a page's identity. The whole
    transform is JVM-side string/array expressions (parse-free
    regexp + higher-order filter/sort on the split query string) —
    zero Python, one hash shuffle on the canonical key, identical
    in shape to dedup_exact. 4000 raw URLs collapse to the
    5x29x11x7 true page set with every variant axis exercised."""
    from pyspark.sql import functions as F

    i = F.col("id")
    raw = spark.range(0, _URLD_N, 1, 8).select(
        i.alias("row_id"),
        F.concat(
            F.lit("https://"),
            F.when(i % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("host"),
            (i % 5).cast("string"),
            F.when(i % 4 == 1, F.lit(".EXAMPLE.com")).otherwise(
                F.lit(".example.com")
            ),
            F.when(i % 6 == 2, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            (i % 29).cast("string"),
            F.lit("?"),
            F.when(
                i % 2 == 0,
                F.concat(
                    F.lit("a="), (i % 11).cast("string"),
                    F.lit("&b="), (i % 7).cast("string"),
                ),
            ).otherwise(
                F.concat(
                    F.lit("b="), (i % 7).cast("string"),
                    F.lit("&a="), (i % 11).cast("string"),
                )
            ),
            F.when(i % 5 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
            F.when(
                i % 7 == 3, F.concat(F.lit("#sec"), (i % 3).cast("string"))
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^https://([^/]+)", 1)),
        r"^www\.|:443$",
        "",
    )
    path = F.regexp_extract("url", r"^https://[^/]+([^?#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = raw.select(
        "row_id",
        "url",
        F.concat(F.lit("https://"), host, path, F.lit("?"), params).alias(
            "canonical"
        ),
    )
    return canon.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("url").alias("n_distinct_raw"),
        F.min("row_id").alias("first_seen"),
    )


_SHINGLES15 = (
    f"list_distinct(list_transform(range(greatest(len({_TOKS_SQL}) - 3, 0) + 1),"
    f" i -> array_to_string({_TOKS_SQL}[i + 1:i + 3], ' ')))"
)


_CONTAIN_SQL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES15} AS sh FROM documents),
nz AS (SELECT * FROM s WHERE len(sh) > 0)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
         AS containment
FROM nz a JOIN nz b ON a.doc_id != b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.6
"""


@register("pipeline_containment_dedup", _CONTAIN_SQL)
def pipeline_containment_dedup(spark, sf_dir):
    """Asymmetric shingle-containment pairs C(A→B) = |S(A)∩S(B)| /
    |S(A)| >= 0.6 — the excerpt/boilerplate-inclusion relation
    Jaccard scores near zero (the union is dominated by the
    container). Candidates via the asymmetric prefix filter: A's
    rarest |A| - ceil(0.6|A|) + 1 shingles probe the container
    side's FULL inverted index (no length bound on B — any superset
    qualifies); recall is exactly 1.0 and the oracle brute-forces
    all ordered pairs to prove it."""
    from stockify_spark.llm.dedup import shingle_containment_pairs

    return shingle_containment_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=3, threshold=0.6
    )


# ---------------------------------------------------------------------------
# Corpus admission ensemble and
# traffic-hygiene bot detection.
#
# Both are the REPORTING face of pipeline filtering: not just a keep
# bit but the attributed reason (first failing rule, fixed order) —
# what an operator of a 100 TB ingest actually needs to debug a
# filter's yield. All metrics are rationals of integer counts (the
# determinism-by-construction rule); the bot detector keeps gap
# moments in integer SECONDS so squared sums stay exact below 2^53
# (millisecond gaps would overflow the exact-integer range).
# ---------------------------------------------------------------------------
_STOP25_SQL = "('the','a','of','and','to','in','is','that','it','for')"

_STOP25 = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

_TOKS25 = "string_split_regex(trim(lower(text)), '\\s+')"


_ENSEMBLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS25}) AS tok FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         CAST(SUM(CASE WHEN tok IN {_STOP25_SQL} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_stop
  FROM tok GROUP BY doc_id
),
m AS (
  SELECT doc_id, n_tokens, n_distinct, n_stop,
         ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_frac
  FROM per_doc
)
SELECT doc_id, n_tokens, stop_ratio, dup_frac,
       CASE WHEN n_tokens < 10 THEN 'too_short'
            WHEN n_tokens > 400 THEN 'too_long'
            WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.02 THEN 'low_stopwords'
            WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.85
              THEN 'too_repetitive'
            ELSE 'ok' END AS reason,
       CASE WHEN n_tokens < 10 THEN FALSE
            WHEN n_tokens > 400 THEN FALSE
            WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.02 THEN FALSE
            WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.85 THEN FALSE
            ELSE TRUE END AS keep
FROM m
"""


@register("pipeline_quality_ensemble", _ENSEMBLE_SQL)
def pipeline_quality_ensemble(spark, sf_dir):
    """Corpus admission ensemble with ATTRIBUTED verdicts: length
    bounds, stopword floor, and repetition ceiling evaluated in a
    fixed rule order; the output carries the first failing rule name
    (the filter-yield debugging face a real ingest needs, not just a
    bit). All metrics are rationals of per-doc integer counts — one
    token-explode aggregation, map-side thereafter; the unrounded
    rationals decide, the rounded copies are display columns (both
    faces share both)."""
    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.when(F.col("tok").isin(*_STOP25), 1).otherwise(0)).alias("n_stop"),
    )
    c = F.col
    stop_r = c("n_stop").cast("double") / c("n_tokens")
    dup_f = 1.0 - c("n_distinct").cast("double") / c("n_tokens")
    reason = (
        F.when(c("n_tokens") < 10, "too_short")
        .when(c("n_tokens") > 400, "too_long")
        .when(stop_r < 0.02, "low_stopwords")
        .when(dup_f > 0.85, "too_repetitive")
        .otherwise("ok")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(stop_r, 6).alias("stop_ratio"),
        F.round(dup_f, 6).alias("dup_frac"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Dedup-quality evaluation and funnel
# latency.
#
# The dedup evaluator applies the operators-evaluate-operators pattern
# (ml_confusion_metrics, orders_forecast_eval) to the near-dup
# pipeline itself: MinHash-LSH's verified output is scored against the
# exact-Jaccard ground truth — the number a 100 TB dedup operator has
# to report before anyone trusts its banding parameters. Funnel
# latency takes the existing click→purchase semi-join and reports the
# latency distribution by explicit rank selection (no quantile
# interpolation — the agg_weighted_median rule).
# ---------------------------------------------------------------------------
_EXACT_PAIRS_SQL = (
    f"WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b"
    " FROM s a JOIN s b ON a.doc_id < b.doc_id"
    " WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5"
)


_DEDUP_EVAL_SQL = f"""
WITH lsh AS ({_minhash_oracle_sql()}),
exact AS ({_EXACT_PAIRS_SQL}),
common AS (
  SELECT COUNT(*) AS n FROM lsh JOIN exact
    ON exact.id_a = lsh.id_a AND exact.id_b = lsh.id_b
)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       (SELECT COUNT(*) FROM lsh) AS n_lsh,
       (SELECT n FROM common) AS n_common,
       ROUND(CAST((SELECT n FROM common) AS DOUBLE)
             / (SELECT COUNT(*) FROM exact), 6) AS recall,
       ROUND(CAST((SELECT n FROM common) AS DOUBLE)
             / (SELECT COUNT(*) FROM lsh), 6) AS precision
"""


@register("pipeline_dedup_eval", _DEDUP_EVAL_SQL)
def pipeline_dedup_eval(spark, sf_dir):
    """Recall/precision of the MinHash-LSH near-dup detector against
    exact-Jaccard ground truth (threshold 0.5, the registered
    dedup_minhash_lsh configuration): the banding-parameter
    acceptance test a production dedup runs before trusting 16
    bands x 2 rows at scale. Precision is 1.0 by construction (LSH
    pairs are exact-verified post-banding); recall measures banding
    misses. Integer pair counts -> deterministic ratios. The oracle
    brute-forces the ground truth all-pairs; the Spark face uses the
    prefix-filtered exact join (recall-1.0 by the AllPairs bound),
    so the EVALUATION itself runs at index cost, not quadratic
    cost."""
    from stockify_spark.llm.dedup import minhash_lsh_pairs_seeded, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    lsh = minhash_lsh_pairs_seeded(
        docs, "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.5
    ).select("id_a", "id_b")
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_common = lsh.join(exact, ["id_a", "id_b"]).count()
    return docs.sparkSession.createDataFrame(
        [
            (
                n_exact,
                n_lsh,
                n_common,
                round(n_common / n_exact, 6) if n_exact else None,
                round(n_common / n_lsh, 6) if n_lsh else None,
            )
        ],
        "n_exact long, n_lsh long, n_common long, recall double, precision double",
    )


# ---------------------------------------------------------------------------
# Chunk-reconstruction audit.
#
# The inverse test every chunking pipeline owes its users: stitch the
# sliding-window chunks (doc_chunk_stride's exact construction — 64
# window, 48 stride) back into the document and verify losslessness
# PER DOCUMENT inside the result. Stride-prefix stitching: every chunk
# but the last contributes its first 48 tokens, the last contributes
# all of its tokens — algebraically exact coverage with no
# double-counted overlap.
# ---------------------------------------------------------------------------
_AUDIT_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id, toks,
             unnest(range(0, ((len(toks) - 1) // {_CHUNK_S}) + 1)) AS i
      FROM t),
contrib AS (
  SELECT doc_id, i,
         MAX(i) OVER (PARTITION BY doc_id) AS max_i,
         CASE WHEN i < MAX(i) OVER (PARTITION BY doc_id)
              THEN array_to_string(
                     list_slice(toks, i * {_CHUNK_S} + 1,
                                i * {_CHUNK_S} + {_CHUNK_S}), ' ')
              ELSE array_to_string(
                     list_slice(toks, i * {_CHUNK_S} + 1,
                                i * {_CHUNK_S} + {_CHUNK_W}), ' ')
         END AS part,
         array_to_string(toks, ' ') AS norm
  FROM e
),
rebuilt AS (
  SELECT doc_id, MAX(max_i) + 1 AS n_chunks,
         string_agg(part, ' ' ORDER BY i) AS joined,
         MAX(norm) AS norm
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
       joined = norm AS reconstruction_ok,
       CAST(length(norm) AS BIGINT) AS n_chars
FROM rebuilt
"""


@register("pipeline_chunk_audit", _AUDIT_SQL)
def pipeline_chunk_audit(spark, sf_dir):
    """Lossless-chunking audit: re-derive doc_chunk_stride's exact
    chunks (window 64, stride 48), stitch them by stride-prefix
    (chunks 0..k-1 give their first 48 tokens, the final chunk
    gives all of its tokens — covering every token exactly once),
    and compare the rebuilt document to the normalized original IN
    the result: reconstruction_ok must be true on every row, and the
    driver hash-checks that claim. The audit is the same shape as
    the chunker (per-row slices + one per-doc window), so running it
    at 100 TB costs one extra pass over the chunk table."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size("toks")
    e = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.floor((n - 1) / _CHUNK_S).cast("int"))
        ).alias("i"),
    )
    wdoc = Window.partitionBy("doc_id")
    max_i = F.max("i").over(wdoc)
    part = F.when(
        F.col("i") < max_i,
        F.concat_ws(
            " ", F.slice("toks", F.col("i") * _CHUNK_S + 1, _CHUNK_S)
        ),
    ).otherwise(
        F.concat_ws(
            " ", F.slice("toks", F.col("i") * _CHUNK_S + 1, _CHUNK_W)
        )
    )
    contrib = e.select(
        "doc_id",
        "i",
        max_i.alias("max_i"),
        part.alias("part"),
        F.concat_ws(" ", F.col("toks")).alias("norm"),
    )
    rebuilt = contrib.groupBy("doc_id").agg(
        (F.max("max_i") + 1).alias("n_chunks"),
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("i", "part"))).part
        ).alias("joined"),
        F.max("norm").alias("norm"),
    )
    return rebuilt.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        (F.col("joined") == F.col("norm")).alias("reconstruction_ok"),
        F.length("norm").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup.
#
# Content-defined chunking (CDC — the FastCDC/LBFS family) places
# chunk boundaries where a rolling hash of the trailing W bytes hits a
# divisor condition, so identical content yields identical chunks even
# when its byte offset shifts (an insertion early in a document moves
# every fixed-size block but only ONE content-defined chunk). This is
# the storage-layer dedup primitive the fixed-stride chunkers
# (doc_chunk_stride, pipeline_chunk_audit) cannot express: their
# chunks break under any offset shift.
#
# Boundary rule here: end position i (1-based, i >= W) is a cut point
# iff md5int(substr(text, i-W+1, W)) % D == 0, with W=8, D=32 —
# expected chunk length ~32 chars against the 48..600-char synthetic
# documents. The document end is always a cut. md5int is the repo's
# cross-engine uniform (first 8 md5 hex digits as a BIGINT —
# agg_cms_sketch, sample_weighted), so Spark and DuckDB cut at
# bit-identical positions.
# ---------------------------------------------------------------------------
_CDC_W = 8

_CDC_D = 32


_CDC_SQL = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n
           FROM documents WHERE length(text) > 0),
cuts AS (
  SELECT doc_id, text, n, i AS e
  FROM (SELECT doc_id, text, n, unnest(range({_CDC_W}, n + 1)) AS i
        FROM d WHERE n >= {_CDC_W})
  WHERE CAST(CONCAT('0x', substr(md5(substr(text, i - {_CDC_W - 1}, {_CDC_W})),
                                 1, 8)) AS BIGINT) % {_CDC_D} = 0
  UNION
  SELECT doc_id, text, n, n AS e FROM d
),
sp AS (
  SELECT doc_id, text, n, e,
         COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
  FROM cuts
),
ch AS (
  SELECT doc_id, n, e - s + 1 AS clen,
         md5(substr(text, s, e - s + 1)) AS h
  FROM sp
),
occ AS (
  SELECT doc_id, n, clen,
         COUNT(*) OVER (PARTITION BY h) AS n_occ
  FROM ch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(SUM(CASE WHEN n_occ > 1 THEN clen ELSE 0 END) AS BIGINT)
         AS dup_chars,
       ROUND(CAST(SUM(CASE WHEN n_occ > 1 THEN clen ELSE 0 END) AS DOUBLE)
             / MAX(n), 6) AS dup_ratio
FROM occ GROUP BY doc_id
"""


@register("pipeline_cdc_chunk_dedup", _CDC_SQL)
def pipeline_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup report: cut every document at
    positions where the trailing-8-char md5int hits 0 mod 32 (plus
    the document end), hash each chunk, and report per document how
    many of its characters sit in a chunk whose hash occurs more
    than once corpus-wide. Chunks cover each document exactly once
    (sum(clen) == n_chars — pinned in tests/test_ext37.py), and the
    cut positions are content-addressed, so shared passages dedup
    regardless of their byte offset.

    Scale shape: the per-position explode is a narrow map (no
    shuffle) and exists for oracle parity — a production ingest
    would fold the boundary scan into one mapInPandas pass with a
    gear rolling hash (O(1) per byte instead of an 8-byte hash per
    position) emitting (doc_id, chunk_hash, clen) directly, which
    also enforces FastCDC's min/max chunk bounds. Everything after
    the cut is two hash-partitioned exchanges: one on chunk hash for
    the occurrence count, one on doc_id for the report — both
    map-side combinable, no broadcast, no skew (md5 buckets are
    uniform), so the plan is a straight line at 100 TB."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", F.length("text").alias("n"))
        .filter(F.col("n") > 0)
    )
    grams = d.filter(F.col("n") >= _CDC_W).select(
        "doc_id",
        "text",
        "n",
        F.explode(F.sequence(F.lit(_CDC_W), F.col("n"))).alias("i"),
    )
    gram = F.substring(F.col("text"), F.col("i") - (_CDC_W - 1), F.lit(_CDC_W))
    h32 = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    cuts = (
        grams.filter(h32 % _CDC_D == 0)
        .select("doc_id", "text", "n", F.col("i").alias("e"))
        .union(d.select("doc_id", "text", "n", F.col("n").alias("e")))
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("e")
    sp = cuts.withColumn(
        "s", F.coalesce(F.lag("e").over(w), F.lit(0)) + 1
    )
    ch = sp.select(
        "doc_id",
        "n",
        (F.col("e") - F.col("s") + 1).alias("clen"),
        F.md5(
            F.substring(F.col("text"), F.col("s"), F.col("e") - F.col("s") + 1)
        ).alias("h"),
    )
    # occurrence count per chunk hash: groupBy + join-back, not a
    # window over "h" — a boilerplate chunk repeated corpus-wide is a
    # power-law key that would pin one WindowExec buffer (AQE splits
    # skewed joins, not windows; the substring-dedup lesson). The
    # materialization keeps the chunking scan single-pass across the
    # count side and the probe side.
    ch = materialize(ch)
    occ_n = ch.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    occ = ch.join(occ_n, "h")
    dup = F.sum(F.when(F.col("n_occ") > 1, F.col("clen")).otherwise(F.lit(0)))
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.max("n").cast("long").alias("n_chars"),
        dup.cast("long").alias("dup_chars"),
        F.round(dup.cast("double") / F.max("n"), 6).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Repeated-n-gram span coverage.
#
# The span-level duplication measure from the training-data-dedup
# literature (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better"): a document's duplication is not how many
# of its shingles repeat (text_novelty_ratio's census) but how much of
# its TOKEN SPAN is covered by the union of cross-document repeated
# n-grams — overlapping repeats must not double-count. With fixed
# 8-token grams the interval union has a closed form: sort the shared
# start positions, and each contributes min(8, gap-to-previous-start)
# covered tokens. Integer-exact, no sweep state.
# ---------------------------------------------------------------------------
_NG = 8


_COV_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
n AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
g AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(list_slice(toks, i, i + {_NG - 1}), ' ')) AS gh
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_NG - 2})) AS i
        FROM n WHERE len(toks) >= {_NG})),
sh AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
si AS (SELECT doc_id, s,
              LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
       FROM g JOIN sh USING (gh)),
cov AS (SELECT doc_id,
               SUM(CASE WHEN prev IS NULL THEN {_NG}
                        ELSE LEAST({_NG}, s - prev) END) AS covered
        FROM si GROUP BY doc_id)
SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       ROUND(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / n.n_tokens, 6)
         AS dup_frac
FROM n LEFT JOIN cov USING (doc_id)
"""


@register("pipeline_ngram_coverage", _COV_SQL)
def pipeline_ngram_coverage(spark, sf_dir):
    """Per-document fraction of tokens covered by 8-grams that also
    occur in at least one OTHER document (within-document repeats do
    not count — the cross-document condition is a distinct-doc count
    per gram, not an occurrence count). Overlapping shared grams are
    union-merged, not summed: with sorted fixed-length intervals,
    each start adds min(8, distance to the previous start) tokens —
    the closed-form interval union pinned against a brute-force
    position-set reimplementation in tests/test_ext42.py.

    Scale shape: the gram table is a narrow explode (~tokens rows);
    the shared-gram test is one count-distinct shuffle on the md5
    gram key (uniform, skew-free — the dedup-family layout); the
    coverage pass is a per-doc window over only the SHARED positions
    (usually a small fraction); the final left join keeps fully
    novel documents at coverage 0. Nothing is quadratic in corpus
    size — the same banding discipline as dedup_exact/minhash."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = docs.select("doc_id", F.size("toks").alias("n_tokens"), "toks")
    g = (
        n.filter(F.col("n_tokens") >= _NG)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tokens") - (_NG - 1))
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s",
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("s"), _NG))).alias(
                "gh"
            ),
        )
    )
    sh = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    si = g.join(sh, "gh").withColumn(
        "prev", F.lag("s").over(Window.partitionBy("doc_id").orderBy("s"))
    )
    cov = si.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(_NG)).otherwise(
                F.least(F.lit(_NG), F.col("s") - F.col("prev"))
            )
        ).alias("covered")
    )
    return (
        n.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("covered"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Systematic weighted resampling.
#
# Data-mixing pipelines draw a fixed-size sample where each document's
# multiplicity is proportional to its weight (quality score, domain
# mixing ratio). Independent draws (the A-Res family, sample_weighted)
# have multinomial variance; SYSTEMATIC resampling — the low-variance
# scheme from particle filtering (Kitagawa 1996) — places m evenly
# spaced probes (j + 1/2) * W / m, j = 0..m-1, over the cumulative
# weight axis, so every document's multiplicity is within 1 of its
# exact expectation m * w_i / W. With integer weights the probe count
# per document has a pure-integer closed form:
#
#   c(cum) = 0                                if 2*cum*m < W
#            (2*cum*m - W) // (2*W) + 1       otherwise
#   multiplicity_i = c(cum_i) - c(cum_{i-1})
#
# — no floats anywhere, so the Spark face and the DuckDB oracle agree
# exactly by arithmetic, not by rounding policy.
# ---------------------------------------------------------------------------
_M = 200  # sample size (number of probes)


_SYS_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum,
         SUM(CAST(n_chars AS BIGINT)) OVER () AS tot
  FROM documents),
c AS (
  SELECT doc_id, w,
         CASE WHEN 2 * cum * {_M} < tot THEN 0
              ELSE (2 * cum * {_M} - tot) // (2 * tot) + 1 END AS chi,
         CASE WHEN 2 * (cum - w) * {_M} < tot THEN 0
              ELSE (2 * (cum - w) * {_M} - tot) // (2 * tot) + 1 END AS clo
  FROM d)
SELECT doc_id, w AS weight, CAST(chi - clo AS BIGINT) AS multiplicity
FROM c WHERE chi > clo
"""


@register("pipeline_systematic_resample", _SYS_SQL)
def pipeline_systematic_resample(spark, sf_dir):
    """Systematic resample of 200 probes over documents weighted by
    n_chars, documents laid on the cumulative axis in doc_id order.
    Emits (doc_id, weight, multiplicity) for selected documents.
    Two invariants pinned in tests/test_ext48.py: multiplicities
    total exactly 200, and every multiplicity is floor or ceil of
    its exact expectation 200*w/W — the low-variance guarantee that
    is the entire reason to prefer systematic over independent
    draws.

    Scale shape: one global prefix sum (at 100 TB the standard
    two-phase form — per-partition subtotals broadcast back, the
    pipeline_token_pack layout) and a map: each row computes its own
    probe count from (cum, cum - w) in closed form, so no probe list
    is ever materialized and m can be billions without a join. The
    global-order window here is the documented 1-part parity shape;
    the partitioned production twin is the token-pack construction."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    d = docs.select(
        "doc_id",
        "w",
        F.sum("w").over(Window.orderBy("doc_id")).alias("cum"),
        F.sum("w").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )

    def probes(cum):
        raw = F.expr(
            f"(2 * ({cum}) * {_M} - tot) div (2 * tot)"
        ) + 1
        return F.when(
            F.expr(f"2 * ({cum}) * {_M}") < F.col("tot"), F.lit(0)
        ).otherwise(raw)

    c = d.select(
        "doc_id",
        "w",
        probes("cum").alias("chi"),
        probes("cum - w").alias("clo"),
    )
    return c.filter(F.col("chi") > F.col("clo")).select(
        "doc_id",
        F.col("w").alias("weight"),
        (F.col("chi") - F.col("clo")).cast("long").alias("multiplicity"),
    )


# ---------------------------------------------------------------------------
# Differentially private count release.
#
# The standard Laplace mechanism (Dwork, McSherry, Nissim & Smith
# 2006): release count + Laplace(sensitivity/epsilon) noise. The
# engine question is reproducibility: production DP systems draw noise
# from a SEEDED generator (auditability, replayable releases), and the
# repo's seeded-md5 uniform inverted through the Laplace CDF gives a
# deterministic, cross-engine-exact mechanism:
#
#   u  = md5int(seed|key) / 2^32  in [0, 1)
#   x  = -b * sign(u - 1/2) * ln(1 - 2*|u - 1/2|)
#
# Privacy accounting for this release: the statistic is the DISTINCT-
# USER count per event type (each user contributes at most 1 to each
# type — contribution clipping by construction), so per-type
# sensitivity is 1 under add/remove-one-user; a user can appear in all
# 5 types, so the release of all rows composes to 5*epsilon total.
# ---------------------------------------------------------------------------
_EPS = 0.5

_B = 1.0 / _EPS  # Laplace scale, sensitivity 1

_SEED = "dp-v1"


_DP_SQL = f"""
WITH c AS (SELECT event_type,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events GROUP BY 1),
u AS (SELECT event_type, n_users,
             CAST(CONCAT('0x', substr(md5(CONCAT('{_SEED}', '|',
                  event_type)), 1, 8)) AS BIGINT) / 4294967296.0 AS uu
      FROM c)
SELECT event_type, n_users,
       ROUND(n_users
             + (-{_B}) * CASE WHEN uu >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1 - 2 * abs(uu - 0.5)), 6) AS noisy_count,
       CAST({_EPS} AS DOUBLE) AS epsilon
FROM u
"""


@register("dq_dp_counts", _DP_SQL)
def dq_dp_counts(spark, sf_dir):
    """Epsilon-DP per-type distinct-user counts via the seeded
    Laplace mechanism (epsilon = 0.5 per row, scale b = 2). The
    inverse-CDF transform is pinned distributionally in
    tests/test_ext50.py (empirical mean |noise| -> b over a seed
    grid, symmetric sign split), and the release includes the true
    count ONLY because this is the engine's differential harness —
    a production release would project it away; the mechanism
    column is what is under test.

    Scale shape: one distinct-user aggregate (two-level: map-side
    partial distinct on (type, user), then the count — Catalyst's
    standard expansion), then per-row literal noise arithmetic. The
    noise needs no randomness service or driver coordination at any
    scale because the seed is data-keyed — the property that makes
    seeded-DP releases replayable."""
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )
    uu = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SEED), F.lit("|"), F.col("event_type"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    noise = (
        F.lit(-_B)
        * F.when(uu >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1 - 2 * F.abs(uu - 0.5))
    )
    return c.select(
        "event_type",
        "n_users",
        F.round(F.col("n_users") + noise, 6).alias("noisy_count"),
        F.lit(_EPS).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# The dataset card.
#
# Every curated corpus ships with a datasheet (Gebru et al. 2021,
# "Datasheets for Datasets"); the machine-readable core is a one-row
# summary a pipeline can diff between releases: scale (documents,
# tokens, vocabulary), duplication (exact-dup rate under the
# dedup_exact fingerprint), provenance spread (source count, language
# label entropy), and shape (mean/max document length). One query,
# assembled from two passes over the corpus — the release-gating
# artifact the rest of the pipeline family feeds.
# ---------------------------------------------------------------------------
_CARD_SQL = """
WITH norm AS (
  SELECT doc_id, lang, source,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         string_split(lower(text), ' ') AS toks
  FROM documents),
docstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
         CAST(MAX(len(toks)) AS BIGINT) AS max_doc_tokens
  FROM norm),
vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(toks) AS w FROM norm)),
langH AS (
  SELECT ROUND(SUM(-(CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)),
               6) AS lang_entropy
  FROM (SELECT lang, COUNT(*) AS k, SUM(COUNT(*)) OVER () AS n
        FROM norm GROUP BY 1))
SELECT d.n_docs, d.n_tokens, v.vocab_size, d.n_sources,
       ROUND(CAST(d.n_tokens AS DOUBLE) / d.n_docs, 6) AS mean_doc_tokens,
       d.max_doc_tokens,
       ROUND(1 - CAST(d.n_unique AS DOUBLE) / d.n_docs, 6) AS exact_dup_rate,
       l.lang_entropy
FROM docstats d CROSS JOIN vocab v CROSS JOIN langH l
"""


@register("pipeline_dataset_card", _CARD_SQL)
def pipeline_dataset_card(spark, sf_dir):
    """One-row machine-readable dataset card: document/token/
    vocabulary counts, source spread, language-label entropy
    (bits), mean/max document length, and the exact-duplicate rate
    under the dedup_exact normalization (lower, trim, whitespace
    collapse, md5). Field identities — dup rate consistent with
    dedup_exact's cluster census, entropy bounded by log2(#langs),
    token totals consistent with the raw split — are pinned in
    tests/test_ext79.py.

    Scale shape: three aggregates over the normalized frame — the
    plan re-expands the cheap per-row normalization per branch
    (3 corpus scans; a grouping-sets/observe fusion would cut it to
    one, at the cost of entangling the three contracts), and each
    branch is map-side combinable; vocabulary is the one big
    distinct, the same shuffle text_heaps_law pays. Diffing
    two releases' cards is the cheapest regression gate a 100 TB
    corpus refresh can run."""
    norm = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
        ).alias("fp"),
        F.split(F.lower("text"), " ").alias("toks"),
    )
    docstats = norm.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_unique"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        F.max(F.size("toks")).cast("long").alias("max_doc_tokens"),
    )
    vocab = (
        norm.select(F.explode("toks").alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("vocab_size"))
    )
    lk = norm.groupBy("lang").agg(F.count(F.lit(1)).alias("k"))
    lang_h = (
        lk.crossJoin(F.broadcast(lk.agg(F.sum("k").alias("n"))))
        .agg(
            F.round(
                F.sum(
                    -(F.col("k").cast("double") / F.col("n"))
                    * F.log2(F.col("k").cast("double") / F.col("n"))
                ),
                6,
            ).alias("lang_entropy")
        )
    )
    return (
        docstats.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(lang_h))
        .select(
            "n_docs",
            "n_tokens",
            "vocab_size",
            "n_sources",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_tokens"),
            "max_doc_tokens",
            F.round(
                1 - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
            "lang_entropy",
        )
    )


# ---------------------------------------------------------------------------
# Token-budget data selection.
#
# The last step of every curation pipeline: given a training-token
# budget, WHICH documents make the cut? Greedy selection by
# value-per-token is the fractional-knapsack argument (Dantzig 1957):
# optimal for the fractional relaxation, within one document of
# optimal whenever documents are small against the budget — which at
# corpus scale they always are. Value here is lexical diversity (the
# text_mattr family's TTR), cost is token count; the selection is an
# explicit-rank prefix: sort by density, admit while the running token
# total fits.
# ---------------------------------------------------------------------------
_BUDGET = 10_000  # tokens


_SEL_SQL = f"""
WITH d AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tokens,
         ROUND(CAST(len(list_distinct(string_split(lower(text), ' ')))
                    AS DOUBLE)
               / len(string_split(lower(text), ' ')), 6) AS ttr
  FROM documents),
r AS (
  SELECT doc_id, n_tokens, ttr,
         SUM(n_tokens) OVER (ORDER BY ttr DESC, doc_id) AS cum_tokens
  FROM d)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ttr,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= {_BUDGET}
"""


@register("pipeline_budget_select", _SEL_SQL)
def pipeline_budget_select(spark, sf_dir):
    """Greedy 10k-token selection by TTR density (desc, doc_id
    tie-break): one prefix sum in selection order, admit while the
    running total fits. Budget feasibility, the density invariant
    (every admitted document's TTR >= every rejected one's, up to
    the tie-break), and greedy dominance over random same-budget
    selections are pinned in tests/test_ext83.py.

    Scale shape: doc stats are per-row expressions; the ranked
    prefix sum over the doc table is the one global-order window
    (the pipeline_token_pack parity convention; its two-phase
    distributed twin swaps in unchanged). The admitted set streams
    straight into the chunkers — this operator IS the gate between
    the scored corpus and the training run."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks"),
            6,
        ).alias("ttr"),
    )
    w = Window.orderBy(F.col("ttr").desc(), "doc_id")
    r = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return r.filter(F.col("cum_tokens") <= _BUDGET).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "ttr",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights — data selection via importance
# resampling (hashed n-gram likelihood-ratio weighting, the standard
# recipe for matching a raw crawl to a target domain before
# pretraining). Target here: the 'de' slice of the corpus; every doc
# gets log w = Σ_tokens [ln p_target(bucket) - ln p_raw(bucket)] over
# md5-hashed unigram buckets with Laplace smoothing, and the top-50
# by weight are the selected batch.
# ---------------------------------------------------------------------------
_DSIR_B = 64  # hash buckets; model state is 2 x 64 counts


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
    FROM documents)
  WHERE length(tok) > 0),
tb AS (
  SELECT doc_id, lang,
         CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
  FROM toks),
raw AS (SELECT b, COUNT(*) AS rc FROM tb GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS tc FROM tb WHERE lang = 'de' GROUP BY b),
tot AS (SELECT CAST((SELECT COUNT(*) FROM tb) AS DOUBLE) AS nr,
               CAST((SELECT COUNT(*) FROM tb WHERE lang = 'de') AS DOUBLE) AS nt),
w AS (
  SELECT r.b,
         ln((COALESCE(t.tc, 0) + 0.5) / (tot.nt + {_DSIR_B} * 0.5))
         - ln((r.rc + 0.5) / (tot.nr + {_DSIR_B} * 0.5)) AS lr
  FROM raw r LEFT JOIN tgt t USING (b), tot),
sc AS (
  SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(SUM(w.lr), 6) AS log_w
  FROM tb JOIN w USING (b) GROUP BY tb.doc_id)
SELECT doc_id, n_tokens, log_w
FROM sc ORDER BY log_w DESC, doc_id LIMIT 50
"""


@register("pipeline_dsir_weights", _DSIR_SQL)
def pipeline_dsir_weights(spark, sf_dir):
    """Hashed-unigram importance-resampling weights against a target
    domain (the 'de' corpus slice), top-50 selected.

    Scale shape, end to end: tokenize + bucket is one map pass; the
    target and raw bucket histograms are two bounded aggregates (64
    rows each — model state, not data); the per-bucket log-ratio
    table is built from those 64 rows and BROADCAST back; scoring is
    one broadcast-join + per-doc sum; selection is ORDER BY + LIMIT
    (TakeOrderedAndProject — per-partition top-k, never a global
    sort). Nothing in the plan collects or shuffles row-scale state
    besides the one groupBy(doc_id), so the recipe survives a 100 TB
    raw corpus with a fixed-size target sample unchanged. Float
    policy: ln ratios summed per doc, ROUND 6 after the aggregate on
    both engines."""

    from stockify_spark.functions.scale import spread_small_scan

    docs = _t(spark, sf_dir, "documents")
    # spread the single-file scan: the tokenize + per-token md5 bucket
    # below is the expensive-map case functions/scale documents, and
    # it feeds BOTH corpus passes
    toks = spread_small_scan(docs.select("doc_id", "lang", "text")).select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tb = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    # BOTH histograms in ONE corpus aggregate (raw count + target
    # count_if per bucket), checkpointed at 64 rows so the totals
    # rollup and the broadcast build don't re-run the tokenize+md5
    # pass — the plan is now exactly two corpus passes (histogram,
    # scoring), down from four
    hist = (
        tb.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("tc"),
        )
        .transform(materialize)
    )  # bounded: <= _DSIR_B rows of model state
    tot = hist.agg(
        F.sum("rc").cast("double").alias("nr"),
        F.sum("tc").cast("double").alias("nt"),
    )
    w = (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.col("tc") + 0.5)
                    / (F.col("nt") + _DSIR_B * 0.5)
                )
                - F.log((F.col("rc") + 0.5) / (F.col("nr") + _DSIR_B * 0.5))
            ).alias("lr"),
        )
    )
    sc = (
        tb.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("log_w"),
        )
    )
    return sc.orderBy(F.col("log_w").desc(), "doc_id").limit(50).select(
        "doc_id", "n_tokens", "log_w"
    )


# ---------------------------------------------------------------------------
# Temperature-scaled sampling mix — the multilingual upsampling recipe
# (p_i ∝ share_i^alpha with alpha < 1 flattens the language
# distribution; alpha = 0.3 is the published mT5/XLM-R setting).
# Output per language: raw token share, temperature-scaled sampling
# probability, and the implied upsampling factor p_alpha / p_raw.
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3


_TEMP_MIX_SQL = f"""
WITH tok AS (
  SELECT lang,
         CAST(SUM(len(list_filter(string_split_regex(lower(text),
              '[^a-z0-9]+'), t -> t <> ''))) AS BIGINT) AS total_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(total_tokens) AS DOUBLE) AS n FROM tok),
sh AS (SELECT lang, total_tokens,
              total_tokens / tot.n AS p_raw,
              POW(total_tokens / tot.n, {_TEMP_ALPHA}) AS pa_un
       FROM tok, tot),
z AS (SELECT SUM(pa_un) AS z FROM sh)
SELECT lang, total_tokens,
       ROUND(p_raw, 6) AS p_raw,
       ROUND(pa_un / z.z, 6) AS p_alpha,
       ROUND((pa_un / z.z) / p_raw, 6) AS upsample
FROM sh, z
"""


@register("pipeline_temperature_mix", _TEMP_MIX_SQL)
def pipeline_temperature_mix(spark, sf_dir):
    """Temperature sampling weights per language at alpha = 0.3.

    Scale shape: one map-side-combined aggregate over the corpus scan
    (token counting fused as a column expression — zero Python), then
    all remaining arithmetic runs on the |langs|-row table with the
    two scalar totals broadcast — model-sized state end to end. The
    published use: low-resource languages are upsampled (factor > 1)
    and the head language is downsampled, with alpha the only knob.
    Float policy: POW/divides in double, ROUND 6 after aggregation on
    both engines."""

    docs = _t(spark, sf_dir, "documents")
    tok_count = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )
    tok = docs.groupBy("lang").agg(
        F.sum(tok_count).cast("long").alias("total_tokens")
    )
    tot = tok.agg(F.sum("total_tokens").cast("double").alias("n"))
    sh = tok.crossJoin(F.broadcast(tot)).select(
        "lang",
        "total_tokens",
        (F.col("total_tokens") / F.col("n")).alias("p_raw"),
        F.pow(F.col("total_tokens") / F.col("n"), _TEMP_ALPHA).alias("pa_un"),
    )
    z = sh.agg(F.sum("pa_un").alias("z"))
    return sh.crossJoin(F.broadcast(z)).select(
        "lang",
        "total_tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("pa_un") / F.col("z"), 6).alias("p_alpha"),
        F.round((F.col("pa_un") / F.col("z")) / F.col("p_raw"), 6).alias("upsample"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing — per-language head/middle/tail
# terciles under the corpus trigram LM, with the keep decision
# (head + middle retained, tail dropped) that the CCNet pipeline
# applies before training. Builds on text_perplexity's LM scoring
# (queries/text.py) — this is the SELECTION half.
# ---------------------------------------------------------------------------

_PPL_BUCKET_SQL = f"""
WITH ppl_scored AS ({{ppl_sql}}),
with_lang AS (
  SELECT p.doc_id, d.lang, p.ppl
  FROM ppl_scored p JOIN documents d USING (doc_id)),
bucketed AS (
  SELECT lang, ppl,
         NTILE(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS bucket
  FROM with_lang)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(ppl), 4) AS mean_ppl,
       bucket <= 2 AS kept
FROM bucketed GROUP BY lang, bucket
"""


def _ppl_bucket_sql() -> str:

    return _PPL_BUCKET_SQL.format(ppl_sql=_PPL_SQL)


@register("pipeline_ppl_buckets", _ppl_bucket_sql())
def pipeline_ppl_buckets(spark, sf_dir):
    """Per-language perplexity terciles (head=1 / middle=2 / tail=3)
    and the CCNet keep rule (tail dropped).

    Scale shape: the LM scoring inherits text_perplexity's plan (one
    checkpointed trigram stream, count tables joined back on their
    keys); bucketing here uses NTILE over (lang) for EXACT tercile
    parity with the oracle — a per-language sort, bounded by the
    largest language. The 100 TB form replaces the sort with
    percentile_approx cutoffs per language (two bounded aggregates,
    no global order) at the cost of approximate boundaries; CCNet
    itself uses fixed percentile cutoffs computed once on a sample,
    which is exactly that form. Output is |langs| x 3 rows."""
    from pyspark.sql import Window

    ppl = text_perplexity(spark, sf_dir).select("doc_id", "ppl")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    bucketed = ppl.join(docs, "doc_id").select(
        "lang", "ppl", F.ntile(3).over(w).alias("bucket")
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("ppl"), 4).alias("mean_ppl"),
    ).select(
        "lang",
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "mean_ppl",
        (F.col("bucket") <= 2).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Gumbel top-k — weighted sampling WITHOUT replacement as a single
# top-k: score s_i = ln(w_i) + Gumbel_i and take the k largest (the
# Gumbel-max trick; Efraimidis-Spirakis equivalent). The Gumbel draw
# is seed-keyed through the repo's md5-uniform discipline, so the
# "random" sample is deterministic, replayable, and cross-engine
# exact — the property production samplers need for auditable
# data-selection runs.
# ---------------------------------------------------------------------------
_GUMBEL_SEED = "gumbel-v1"

_GUMBEL_K = 20


_GUMBEL_SQL = f"""
WITH u AS (
  SELECT doc_id, n_chars,
         (CAST(CONCAT('0x', substr(md5(CONCAT('{_GUMBEL_SEED}', '|', doc_id)),
               1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS uu
  FROM documents),
s AS (
  SELECT doc_id, n_chars,
         ROUND(ln(CAST(n_chars AS DOUBLE)) + (-ln(-ln(uu))), 6) AS score
  FROM u)
SELECT doc_id, n_chars, score
FROM s ORDER BY score DESC, doc_id LIMIT {_GUMBEL_K}
"""


@register("pipeline_gumbel_topk", _GUMBEL_SQL)
def pipeline_gumbel_topk(spark, sf_dir):
    """Seeded Gumbel top-20 of documents with weight = n_chars.

    Scale shape: scoring is pure per-row arithmetic on the scan (no
    Python, no shuffle) and selection is ORDER BY + LIMIT —
    TakeOrderedAndProject's per-partition top-k, so the only thing
    that moves is k rows per partition. The +0.5 in the uniform keeps
    u strictly inside (0,1) so neither ln is singular. Exactly the
    shape a 100 TB budgeted sampler wants: one pass, k rows out,
    fully replayable from the seed."""

    docs = _t(spark, sf_dir, "documents")
    uu = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_GUMBEL_SEED), F.lit("|"), F.col("doc_id"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.round(
            F.log(F.col("n_chars").cast("double")) + (-F.log(-F.log(uu))), 6
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(_GUMBEL_K)


# ---------------------------------------------------------------------------
# Cross-set exact-substring decontamination — train spans verbatim-
# covered by the eval set (doc_id % 10 == 0 plays the benchmark).
# ---------------------------------------------------------------------------
_DECONTAM_L = 10


_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, i AS sp, array_to_string(t[i:i+{_DECONTAM_L - 1}], ' ') AS w
  FROM toks,
       LATERAL (SELECT unnest(range(1, greatest(len(t) - {_DECONTAM_L} + 2, 1))) AS i)),
ev AS (SELECT DISTINCT w FROM wins WHERE doc_id % 10 = 0),
hits AS (
  SELECT wins.doc_id, wins.sp FROM wins JOIN ev USING (w)
  WHERE wins.doc_id % 10 <> 0),
flags AS (
  SELECT doc_id, sp,
         CASE WHEN sp > COALESCE(MAX(sp + {_DECONTAM_L - 1}) OVER (
                PARTITION BY doc_id ORDER BY sp
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS nf
  FROM hits),
grp AS (
  SELECT doc_id, sp, SUM(nf) OVER (PARTITION BY doc_id ORDER BY sp) AS gid
  FROM flags)
SELECT doc_id,
       CAST(MIN(sp) AS BIGINT) AS span_start,
       CAST(MAX(sp) + {_DECONTAM_L - 1} AS BIGINT) AS span_end,
       CAST(MAX(sp) + {_DECONTAM_L - 1} - MIN(sp) + 1 AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gid
"""


@register("pipeline_substring_decontam", _DECONTAM_SQL)
def pipeline_substring_decontam(spark, sf_dir):
    """Exact-substring train/eval decontamination: maximal train-doc
    spans covered by a verbatim >= 10-token window occurring anywhere
    in the eval split (doc_id % 10 == 0) — the substring-granular
    complement of pipeline_contamination's shingle report, and the
    removal set a decontamination pass feeds to remove_repeated_spans'
    cut machinery.

    Scale shape: the join is keyed on the EVAL side's distinct
    windows — benchmark-sized, not corpus-sized — so at 100 TB the
    eval window set broadcasts and the whole pass is map-side against
    the train scan, plus one doc-keyed interval merge."""
    from stockify_spark.llm.dedup import contaminated_spans

    docs = _t(spark, sf_dir, "documents")
    return contaminated_spans(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "text",
        "doc_id",
        _DECONTAM_L,
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_ingest_sink — dedup-against-history ingest replayed
# as a scripted 4-batch feed (llm/dedup.dedup_ingest_sink): the
# destination TABLE is the dedup state; each batch dedups within
# itself, anti-joins the accumulated fingerprints, appends
# exactly-once. The r11 verdict's "bench the ingest sinks" item —
# this face also gives the per-batch anti-join a SCALING row.
# ---------------------------------------------------------------------------
_INGEST_SINK_SQL = """
WITH feed AS (
  SELECT doc_id, text, doc_id % 4 AS batch FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 3 AS batch FROM documents
  WHERE doc_id % 4 = 0 AND doc_id % 3 = 0
),
fp AS (
  SELECT doc_id, batch,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM feed
),
r AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint
                            ORDER BY batch, doc_id) AS rn
  FROM fp
)
SELECT doc_id, fingerprint FROM r WHERE rn = 1
"""


@register("pipeline_dedup_ingest_sink", _INGEST_SINK_SQL)
def pipeline_dedup_ingest_sink(spark, sf_dir):
    """Exact dedup-against-history ingest: documents arrive as four
    micro-batches (doc_id % 4), batch 3 additionally REPLAYS a third
    of batch 0's texts under fresh ids (the cross-batch duplicates
    the anti-join must drop). Final table = first (batch, id) winner
    per fingerprint — the oracle states that closed form over the
    same schedule. Batch 2's sink call is replayed mid-feed and must
    be a no-op (the (app, batch-id) idempotency marker).

    Scale shape: per batch, ONE anti-join keyed on the 32-char md5 —
    batch-sized build side against the history scan (at 100 TB:
    bloom file-skip on the fingerprint column turns the scan side
    into bounded IO, llm/dedup.dedup_ingest_sink docstring); the
    table is the state, so restart needs no state-store bootstrap."""
    import os

    from stockify_spark.llm.dedup import dedup_ingest_sink
    from stockify_spark.sources import txlog

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(path: str) -> None:
        dst = os.path.join(path, "corpus")
        sink = dedup_ingest_sink(spark, dst, "ingest", "text", "doc_id")
        for b in range(4):
            batch = docs.filter(F.col("doc_id") % 4 == b)
            if b == 3:
                batch = batch.unionByName(
                    docs.filter(
                        (F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 3 == 0)
                    ).select(
                        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
                    )
                )
            sink(batch, b)
            if b == 2:  # at-least-once replay mid-feed: must be a no-op
                v = txlog.current_version(dst)
                sink(batch, b)
                assert txlog.current_version(dst) == v

    root = _scratch_table(
        sf_dir, "ingestsink", build, src_file="documents.parquet"
    )
    return txlog.snapshot(spark, os.path.join(root, "corpus")).select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_threshold_sweep — the dedup OPERATING CURVE: pairs
# flagged and documents touched at every candidate Jaccard
# threshold, from ONE candidate-generation pass. The number a
# curation engineer sweeps before committing a threshold to a
# 100 TB dedup run — re-running the pair join per threshold (the
# naive sweep) multiplies the most expensive stage by the number of
# grid points; here the grid is a post-filter on the verified pairs.
# ---------------------------------------------------------------------------
_SWEEP_BASE = 0.4

_SWEEP_GRID = (0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


_SWEEP_SHINGLES = (
    "list_distinct(list_transform(range(greatest(len("
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    ") - 3, 0) + 1), i -> array_to_string("
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    "[i + 1:i + 3], ' ')))"
)


_SWEEP_SQL = f"""
WITH s AS (SELECT doc_id, {_SWEEP_SHINGLES} AS sh FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS j
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= {_SWEEP_BASE}
),
grid AS (SELECT CAST(unnest([{", ".join(str(t) for t in _SWEEP_GRID)}]) AS DOUBLE) AS threshold),
np AS (SELECT g.threshold, CAST(COUNT(p.id_a) AS BIGINT) AS n_pairs
       FROM grid g LEFT JOIN pairs p ON p.j >= g.threshold
       GROUP BY g.threshold),
nd AS (SELECT threshold, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM (SELECT g.threshold, p.id_a AS doc_id
             FROM grid g JOIN pairs p ON p.j >= g.threshold
             UNION
             SELECT g.threshold, p.id_b
             FROM grid g JOIN pairs p ON p.j >= g.threshold)
       GROUP BY threshold)
SELECT np.threshold, np.n_pairs,
       COALESCE(nd.n_docs, 0) AS n_docs_flagged
FROM np LEFT JOIN nd ON nd.threshold = np.threshold
"""


@register("pipeline_dedup_threshold_sweep", _SWEEP_SQL)
def pipeline_dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold operating curve: (n_pairs, n_docs_flagged) at
    Jaccard thresholds 0.4..0.9, all derived from ONE prefix-filtered
    candidate join at the base threshold 0.4 — higher thresholds are
    subsets, so the sweep is a narrow post-filter of the verified
    pair table crossed with the 6-point grid (never 6 joins). The
    ROUND(6) jaccard column and identical threshold literals make
    every comparison exact cross-engine; the oracle brute-forces all
    pairs and re-derives the curve independently.

    Scale shape: candidate generation once (the AllPairs prefix
    filter of ngram_jaccard_pairs); the sweep works on the PAIR
    table (duplicated-fraction-sized), so grid resolution is free at
    any corpus size."""
    from stockify_spark.llm.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=_SWEEP_BASE
    )
    grid = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_GRID], "threshold double"
    )
    hit = grid.join(pairs, pairs["jaccard"] >= grid["threshold"], "left")
    docs_per = hit.select(
        "threshold",
        F.explode(
            F.when(
                F.col("id_a").isNotNull(),
                F.array(F.col("id_a"), F.col("id_b")),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("doc_id"),
    )
    n_pairs = hit.groupBy("threshold").agg(
        F.count("id_a").alias("n_pairs")
    )
    n_docs = docs_per.groupBy("threshold").agg(
        F.countDistinct("doc_id").alias("n_docs_flagged")
    )
    return (
        n_pairs.join(n_docs, "threshold", "left")
        .select(
            "threshold",
            "n_pairs",
            F.coalesce("n_docs_flagged", F.lit(0)).alias("n_docs_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_near_ingest_indexed — the bloom-indexed near-dup ingest
# sink (llm/dedup.near_dedup_ingest_sink_indexed): the r12 verdict's
# "prove the per-batch probe is bounded by the batch, not the
# destination" item. Near-dup survivor sets are not SQL-computable
# (the banding step is a probabilistic candidate generator), so the
# oracle states the INVARIANTS the indexed form must satisfy instead:
# survivor parity with the linear-scan sink on the same scheduled
# feed, every planted cross-batch duplicate dropped, zero data files
# opened by an all-absent band-key probe, and replay idempotence on
# both the corpus and the index table.
# ---------------------------------------------------------------------------
_NEAR_IDX_SQL = """
SELECT TRUE  AS survivor_parity,
       CAST(0 AS BIGINT) AS n_only_plain,
       CAST(0 AS BIGINT) AS n_only_indexed,
       CAST(0 AS BIGINT) AS planted_dups_kept,
       CAST(0 AS BIGINT) AS absent_probe_files,
       TRUE  AS replay_noop
"""


@register("pipeline_near_ingest_indexed", _NEAR_IDX_SQL)
def pipeline_near_ingest_indexed(spark, sf_dir):
    """Near-dup dedup-against-history ingest through the bloom-
    indexed sink, checked against the linear-scan sink on the same
    4-batch documents feed (batch 3 replays a third of batch 0's
    texts under fresh ids). The indexed probe answers from a
    band-key index table (bk blooms attached incrementally per
    batch) instead of scanning every stored signature: per-batch IO
    is bounded by the batch's keys and the true collision density —
    an all-absent probe opens ZERO files — while the drop decisions
    stay IDENTICAL to the exhaustive scan (the oracle's parity
    invariant; exact-duplicate replays collide in every band, so
    their drop is deterministic, not probabilistic).

    Scale shape: the linear residual is driver-side bloom bit tests,
    O(index_files × batch_keys) with no IO; txlog.maintain's
    small-file compaction bounds index_files, and attach_bloom
    (missing_only) re-blooms compacted files batch-sized."""
    import os

    from stockify_spark.llm.dedup import (
        near_dedup_ingest_sink,
        near_dedup_ingest_sink_indexed,
    )
    from stockify_spark.sources import txlog

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(path: str) -> None:
        plain_dst = os.path.join(path, "plain")
        idx_dst = os.path.join(path, "indexed")
        plain = near_dedup_ingest_sink(spark, plain_dst, "p", "text", "doc_id")
        indexed = near_dedup_ingest_sink_indexed(
            spark, idx_dst, "i", "text", "doc_id"
        )
        for b in range(4):
            batch = docs.filter(F.col("doc_id") % 4 == b)
            if b == 3:
                batch = batch.unionByName(
                    docs.filter(
                        (F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 3 == 0)
                    ).select(
                        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
                    )
                )
            batch = materialize(batch)
            plain(batch, b)
            indexed(batch, b)
            if b == 2:  # at-least-once replay mid-feed on the indexed
                v_dst = txlog.current_version(idx_dst)
                v_idx = txlog.current_version(idx_dst + "_bandidx")
                indexed(batch, b)
                ok = (
                    txlog.current_version(idx_dst) == v_dst
                    and txlog.current_version(idx_dst + "_bandidx") == v_idx
                )
                with open(os.path.join(path, "replay_ok"), "w") as f:
                    f.write("1" if ok else "0")

    root = _scratch_table(sf_dir, "nearidx", build, src_file="documents.parquet")
    plain_ids = txlog.snapshot(spark, os.path.join(root, "plain")).select("doc_id")
    idx_ids = txlog.snapshot(spark, os.path.join(root, "indexed")).select("doc_id")
    only_plain = plain_ids.join(idx_ids, "doc_id", "left_anti").count()
    only_idx = idx_ids.join(plain_ids, "doc_id", "left_anti").count()
    # a planted copy whose ORIGINAL survived must be dropped (exact
    # dups of a history survivor collide in every band — the drop is
    # deterministic); a copy whose original was itself dropped
    # within-batch has no such guarantee, so it is excluded here
    surviving_originals = idx_ids.filter(F.col("doc_id") < 1_000_000).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    planted_kept = (
        idx_ids.filter(F.col("doc_id") >= 1_000_000)
        .join(surviving_originals, "doc_id", "left_semi")
        .count()
    )
    absent_files = len(
        txlog.snapshot_point_any(
            spark,
            os.path.join(root, "indexed") + "_bandidx",
            "bk",
            ["999:absent,band,key"],
        ).inputFiles()
    )
    with open(os.path.join(root, "replay_ok")) as f:
        replay_ok = f.read() == "1"
    return spark.createDataFrame(
        [
            (
                only_plain == 0 and only_idx == 0,
                only_plain,
                only_idx,
                planted_kept,
                absent_files,
                replay_ok,
            )
        ],
        "survivor_parity boolean, n_only_plain long, n_only_indexed long,"
        " planted_dups_kept long, absent_probe_files long, replay_noop boolean",
    )


# ---------------------------------------------------------------------------
# dq_mahalanobis_outliers — multivariate outlier gate on doc features
# ---------------------------------------------------------------------------

# Feature vector per document: x1 = n_chars, x2 = whitespace token
# count, x3 = mean token length. The 3x3 covariance inverse is the
# closed-form adjugate/determinant — identical expression text on
# both engines.
_MAHA_SQL = """
WITH f AS (
  SELECT doc_id,
         CAST(n_chars AS DOUBLE) AS x1,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
         CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x3
  FROM documents),
m AS (
  SELECT AVG(x1) AS m1, AVG(x2) AS m2, AVG(x3) AS m3,
         COVAR_POP(x1, x1) AS s11, COVAR_POP(x1, x2) AS s12,
         COVAR_POP(x1, x3) AS s13, COVAR_POP(x2, x2) AS s22,
         COVAR_POP(x2, x3) AS s23, COVAR_POP(x3, x3) AS s33
  FROM f),
inv AS (
  SELECT m1, m2, m3,
         (s22 * s33 - s23 * s23) / det AS i11,
         (s13 * s23 - s12 * s33) / det AS i12,
         (s12 * s23 - s13 * s22) / det AS i13,
         (s11 * s33 - s13 * s13) / det AS i22,
         (s13 * s12 - s11 * s23) / det AS i23,
         (s11 * s22 - s12 * s12) / det AS i33
  FROM (SELECT *,
          s11 * (s22 * s33 - s23 * s23)
        - s12 * (s12 * s33 - s23 * s13)
        + s13 * (s12 * s23 - s22 * s13) AS det
        FROM m)),
scored AS (
  SELECT doc_id,
         ROUND((x1 - m1) * (i11 * (x1 - m1) + i12 * (x2 - m2) + i13 * (x3 - m3))
             + (x2 - m2) * (i12 * (x1 - m1) + i22 * (x2 - m2) + i23 * (x3 - m3))
             + (x3 - m3) * (i13 * (x1 - m1) + i23 * (x2 - m2) + i33 * (x3 - m3)),
             6) AS md2
  FROM f CROSS JOIN inv)
SELECT doc_id, md2
FROM (SELECT doc_id, md2,
             ROW_NUMBER() OVER (ORDER BY md2 DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 50
"""


@register("dq_mahalanobis_outliers", _MAHA_SQL)
def dq_mahalanobis_outliers(spark, sf_dir):
    """Top-50 multivariate outliers by squared Mahalanobis distance
    over (n_chars, token count, mean token length) — the correlated
    version of dq_checks' univariate z-gates: a document can be
    inlier on every marginal yet far off the feature correlation
    ridge, and md² is what catches it. The 3×3 covariance inverse is
    the closed-form adjugate, written as the IDENTICAL expression on
    both engines; ranking is on the 6dp-ROUNDED score with doc_id
    tie-break so the top-50 boundary is decided on identical keys.

    Shape: one scan computes the nine moment aggregates (a single
    reduce to one row, broadcast back), a second scan scores rows
    map-side, and the top-50 is a TakeOrdered — no global sort, no
    driver loop; the two scans are the price of mean/covariance
    centering (same trade as stats_brown_forsythe documents)."""
    d = _t(spark, sf_dir, "documents")
    x2 = F.size(F.split(F.col("text"), " ")).cast("double")
    f = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("x1"),
        x2.alias("x2"),
        (F.col("n_chars").cast("double") / x2).alias("x3"),
    )
    m = f.agg(
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("x3").alias("m3"),
        F.covar_pop("x1", "x1").alias("s11"),
        F.covar_pop("x1", "x2").alias("s12"),
        F.covar_pop("x1", "x3").alias("s13"),
        F.covar_pop("x2", "x2").alias("s22"),
        F.covar_pop("x2", "x3").alias("s23"),
        F.covar_pop("x3", "x3").alias("s33"),
    )
    s = {k: F.col(k) for k in ("s11", "s12", "s13", "s22", "s23", "s33")}
    det = (
        s["s11"] * (s["s22"] * s["s33"] - s["s23"] * s["s23"])
        - s["s12"] * (s["s12"] * s["s33"] - s["s23"] * s["s13"])
        + s["s13"] * (s["s12"] * s["s23"] - s["s22"] * s["s13"])
    )
    inv = m.withColumn("det", det).select(
        "m1",
        "m2",
        "m3",
        ((s["s22"] * s["s33"] - s["s23"] * s["s23"]) / F.col("det")).alias("i11"),
        ((s["s13"] * s["s23"] - s["s12"] * s["s33"]) / F.col("det")).alias("i12"),
        ((s["s12"] * s["s23"] - s["s13"] * s["s22"]) / F.col("det")).alias("i13"),
        ((s["s11"] * s["s33"] - s["s13"] * s["s13"]) / F.col("det")).alias("i22"),
        ((s["s13"] * s["s12"] - s["s11"] * s["s23"]) / F.col("det")).alias("i23"),
        ((s["s11"] * s["s22"] - s["s12"] * s["s12"]) / F.col("det")).alias("i33"),
    )
    d1 = F.col("x1") - F.col("m1")
    d2 = F.col("x2") - F.col("m2")
    d3 = F.col("x3") - F.col("m3")
    md2 = F.round(
        d1 * (F.col("i11") * d1 + F.col("i12") * d2 + F.col("i13") * d3)
        + d2 * (F.col("i12") * d1 + F.col("i22") * d2 + F.col("i23") * d3)
        + d3 * (F.col("i13") * d1 + F.col("i23") * d2 + F.col("i33") * d3),
        6,
    )
    scored = f.crossJoin(F.broadcast(inv)).select("doc_id", md2.alias("md2"))
    ranked = scored.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("md2").desc(), "doc_id"))
    )
    return ranked.filter(F.col("rnk") <= 50).select("doc_id", "md2")


# ---------------------------------------------------------------------------
# pipeline_epoch_allocation — data-constrained multi-epoch budgeting
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4.0    # max epochs any source may repeat

_RSTAR = 2.5        # diminishing-returns constant (Muennighoff et al. 2023,

                    # where repeated tokens decay with R* ≈ a few epochs)
_TAU = 0.5          # sampling temperature for the source weights


_EPOCH_SQL = f"""
WITH t AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS tokens
  FROM documents GROUP BY 1),
w AS (SELECT source, tokens, pow(tokens, {_TAU}) AS wt FROM t),
g AS (SELECT SUM(tokens) AS total, SUM(wt) AS wsum FROM w),
a AS (
  SELECT source, tokens,
         wt / wsum AS share,
         least({_EPOCH_CAP}, (2 * total) * (wt / wsum) / tokens) AS epochs
  FROM w CROSS JOIN g)
SELECT source,
       CAST(tokens AS BIGINT) AS n_tokens,
       ROUND(share, 6) AS share,
       ROUND(epochs, 6) AS epochs,
       ROUND(epochs * tokens, 2) AS allocated_tokens,
       ROUND(tokens * {_RSTAR} * (1 - exp(-epochs / {_RSTAR})), 2)
         AS effective_tokens
FROM a
"""


@register("pipeline_epoch_allocation", _EPOCH_SQL)
def pipeline_epoch_allocation(spark, sf_dir):
    """Data-constrained epoch allocation: split a token budget of
    2× the corpus across sources by temperature-flattened weights
    (τ=0.5 — the share pipeline_temperature_mix computes), cap any
    source at 4 epochs, and report EFFECTIVE tokens under the
    diminishing-returns discount of repeated data
    (tokens·R*·(1-e^(-epochs/R*)), the exponential-decay form fit in
    Muennighoff et al. 2023's data-constrained scaling laws). The
    gap between allocated and effective tokens is the quantity that
    tells a budget owner when repeating a small high-weight source
    stops paying.

    Shape: one exploded-free token count per source (len(split) is a
    map-side expression — the corpus is scanned once, no explode),
    one 20-row aggregate, scalar arithmetic after a broadcast of the
    two totals."""
    t = _t(spark, sf_dir, "documents").groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("double").alias("tokens")
    )
    w = t.withColumn("wt", F.pow("tokens", _TAU))
    g = w.agg(F.sum("tokens").alias("total"), F.sum("wt").alias("wsum"))
    a = w.crossJoin(F.broadcast(g)).select(
        "source",
        "tokens",
        (F.col("wt") / F.col("wsum")).alias("share"),
        F.least(
            F.lit(_EPOCH_CAP),
            (2 * F.col("total")) * (F.col("wt") / F.col("wsum")) / F.col("tokens"),
        ).alias("epochs"),
    )
    return a.select(
        "source",
        F.col("tokens").cast("bigint").alias("n_tokens"),
        F.round("share", 6).alias("share"),
        F.round("epochs", 6).alias("epochs"),
        F.round(F.col("epochs") * F.col("tokens"), 2).alias("allocated_tokens"),
        F.round(
            F.col("tokens") * _RSTAR * (1 - F.exp(-F.col("epochs") / _RSTAR)), 2
        ).alias("effective_tokens"),
    )


# ---------------------------------------------------------------------------
# pipeline_dedup_impact — before/after report for exact dedup
# ---------------------------------------------------------------------------
_IMPACT_SQL = """
WITH t AS (SELECT doc_id, text, len(string_split(text, ' ')) AS toks
           FROM documents),
k AS (SELECT text, MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n,
             MAX(toks) AS toks
      FROM t GROUP BY text)
SELECT CAST(SUM(n) AS BIGINT) AS docs_before,
       CAST(COUNT(*) AS BIGINT) AS docs_after,
       CAST(SUM(n * toks) AS BIGINT) AS tokens_before,
       CAST(SUM(toks) AS BIGINT) AS tokens_after,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS docs_removed,
       ROUND(1 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS doc_dup_ratio,
       ROUND(1 - SUM(toks) / CAST(SUM(n * toks) AS DOUBLE), 6)
         AS token_dup_ratio,
       CAST(MAX(n) AS BIGINT) AS largest_dup_group
FROM k
"""


@register("pipeline_dedup_impact", _IMPACT_SQL)
def pipeline_dedup_impact(spark, sf_dir):
    """The exact-dedup impact report: documents and whitespace tokens
    before vs after first-wins dedup on full text, the removal
    ratios on both axes (token-weighted duplication is the number
    that predicts training impact — a few duplicated long documents
    move it more than many short ones), and the largest duplicate
    group (the smoking gun a curation review opens first). States
    dedup_exact's EFFECT as one row, the form a pipeline gate
    consumes — run it before paying for the rewrite.

    Shape: one groupBy on the content key (the skew-safe exact-dedup
    shuffle dedup_exact already uses — at 100 TB the key is a
    fixed-width hash of text, same cost model), then one 8-column
    fold of the group table."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("toks")
    )
    k = t.groupBy("text").agg(
        F.min("doc_id").alias("keeper"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("toks").alias("toks"),
    )
    return k.agg(
        F.sum("n").cast("bigint").alias("docs_before"),
        F.count(F.lit(1)).cast("bigint").alias("docs_after"),
        F.sum(F.col("n") * F.col("toks")).cast("bigint").alias("tokens_before"),
        F.sum("toks").cast("bigint").alias("tokens_after"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("docs_removed"),
        F.round(1 - F.count(F.lit(1)) / F.sum("n").cast("double"), 6).alias(
            "doc_dup_ratio"
        ),
        F.round(
            1 - F.sum("toks") / F.sum(F.col("n") * F.col("toks")).cast("double"), 6
        ).alias("token_dup_ratio"),
        F.max("n").cast("bigint").alias("largest_dup_group"),
    )
