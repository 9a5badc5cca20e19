"""Scalar and table functions: string, date, array, map and JSON
functions, encodings, and Python UDF and UDTF surfaces.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, Window

from stockify_spark.registry import register, _t


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY §7.6.4)
# ---------------------------------------------------------------------------
@register(
    "fn_date",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS order_year,"
    " CAST(month(o_orderdate) AS BIGINT) AS order_month,"
    " CAST(day(o_orderdate) AS BIGINT) AS order_day,"
    " CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,"
    " CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since"
    " FROM orders",
)
def fn_date(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return df.select(
        "o_orderkey",
        F.year(d).cast("long").alias("order_year"),
        F.month(d).cast("long").alias("order_month"),
        F.dayofmonth(d).cast("long").alias("order_day"),
        F.to_date(F.date_trunc("month", d)).alias("month_start"),
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
    )


@register(
    "fn_string",
    "SELECT p_partkey, UPPER(p_name) AS name_upper, CAST(LENGTH(p_name) AS BIGINT) AS name_len,"
    " SUBSTRING(p_name, 1, 5) AS name_prefix, CONCAT(p_brand, '#', p_type) AS brand_type,"
    " split_part(p_type, ' ', 1) AS type_head, p_name LIKE '%a%' AS has_a"
    " FROM part",
)
def fn_string(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


@register(
    "fn_json",
    "SELECT event_id, json_extract_string(props, '$.k') AS k_str,"
    " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num FROM events",
)
def fn_json(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return df.select("event_id", k.alias("k_str"), k.cast("long").alias("k_num"))


@register(
    "fn_math",
    "SELECT l_orderkey, l_linenumber, ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,"
    " ROUND(LN(l_extendedprice), 6) AS price_ln,"
    " ROUND(POWER(l_quantity, 2), 6) AS qty_sq,"
    " CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,"
    " CAST(l_orderkey % 7 AS BIGINT) AS key_mod,"
    " ROUND(ABS(l_discount - 0.05), 6) AS disc_dev FROM lineitem",
)
def fn_math(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", 2), 6).alias("qty_sq"),
        F.ceil(F.col("l_discount") * 100).cast("long").alias("disc_pct_ceil"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
    )


@register(
    "fn_conditional",
    "SELECT c_custkey,"
    " CASE WHEN c_acctbal < 0 THEN 'negative' WHEN c_acctbal < 5000 THEN 'low'"
    " ELSE 'high' END AS balance_band,"
    " COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other"
    " FROM customer",
)
def fn_conditional(spark, sf_dir):
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_or_other"
        ),
    )


@register(
    "fn_array",
    "SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,"
    " ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,"
    " ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component FROM embeddings",
)
def fn_array(spark, sf_dir):
    from stockify_spark.llm.similarity import norm

    df = _t(spark, sf_dir, "embeddings")
    return df.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(norm("embedding"), 4).alias("l2_norm"),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("first_component"),
    )


# ---------------------------------------------------------------------------
# Regexp scalar functions (§7.6.4 continued).
# ---------------------------------------------------------------------------
@register(
    "fn_regexp",
    "SELECT p_partkey, regexp_extract(p_name, '([a-z]+)', 1) AS first_word,"
    " regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,"
    " CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS BIGINT) AS n_words,"
    " starts_with(p_name, 'small') AS is_small FROM part",
)
def fn_regexp(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.expr("size(regexp_extract_all(p_name, '[a-z]+', 0))").cast("long").alias("n_words"),
        F.col("p_name").startswith("small").alias("is_small"),
    )


# ---------------------------------------------------------------------------
# Array explode / unnest (§7.6.4 continued).
# ---------------------------------------------------------------------------
@register(
    "fn_explode",
    "SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token"
    " FROM documents WHERE doc_id < 50",
)
def fn_explode(spark, sf_dir):
    """Row-generating explode: one output row per token. The scale
    note is explode-early-project-late — explode only the columns the
    downstream needs, or row width multiplies by fan-out."""
    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select("doc_id", F.explode(tokens("text")).alias("token"))


@register(
    "fn_posexplode",
    "SELECT doc_id, CAST(generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) - 1"
    " AS INT) AS pos, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token"
    " FROM documents WHERE doc_id < 50",
)
def fn_posexplode(spark, sf_dir):
    from stockify_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))


# ---------------------------------------------------------------------------
# Date arithmetic beyond fn_date (§7.6.4 continued).
# ---------------------------------------------------------------------------

@register(
    "fn_date_arith",
    "SELECT o_orderkey,"
    " CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,"
    " last_day(CAST(o_orderdate AS DATE)) AS month_end,"
    # DuckDB dayofweek is 0-based (Sun=0); Spark's is 1-based (Sun=1)
    " CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,"
    " CAST(quarter(o_orderdate) AS INT) AS qtr,"
    " ROUND((CAST(epoch_ms(TIMESTAMP '2000-06-15') AS DOUBLE)"
    "  - CAST(epoch_ms(o_orderdate) AS DOUBLE)) / 86400000.0, 6) AS days_to_y2k5"
    " FROM orders",
)
def fn_date_arith(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return df.select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.round(
            (
                F.unix_millis(F.lit("2000-06-15").cast("timestamp"))
                # parquet gives TIMESTAMP_NTZ; cast to LTZ (session is
                # UTC) for the epoch-millis arithmetic
                - F.unix_millis(F.col("o_orderdate").cast("timestamp"))
            ).cast("double")
            / 86400000.0,
            6,
        ).alias("days_to_y2k5"),
    )


@register(
    "fn_null_handling",
    "SELECT c_custkey,"
    " COALESCE(NULLIF(c_acctbal, 0.0), -1.0) AS bal_or_sentinel,"
    " NULLIF(c_mktsegment, 'BUILDING') IS NULL AS is_building,"
    " ifnull(NULLIF(c_name, c_name), 'redacted') AS always_redacted"
    " FROM customer",
)
def fn_null_handling(spark, sf_dir):
    """NULL algebra (absent from the reference — NULLs do not exist
    there, SURVEY §1.1): nullif/coalesce/ifnull/isnull compose the
    three-valued logic the engine inherits from Spark SQL."""
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_acctbal"), F.lit(0.0)), F.lit(-1.0)).alias(
            "bal_or_sentinel"
        ),
        F.isnull(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))).alias("is_building"),
        F.ifnull(F.nullif(F.col("c_name"), F.col("c_name")), F.lit("redacted")).alias(
            "always_redacted"
        ),
    )


# ---------------------------------------------------------------------------
# The pandas-UDF surface (§7.6.7), verified against a declarative
# oracle: the blessed extension mechanism must produce the same
# numbers as the pure-SQL formulation.
# ---------------------------------------------------------------------------

@register(
    "udf_group_zscore",
    "SELECT event_id, user_id, ROUND((value - avg_v) / NULLIF(sd_v, 0), 6) AS zscore"
    " FROM (SELECT event_id, user_id, value,"
    " AVG(value) OVER (PARTITION BY user_id) AS avg_v,"
    " stddev_samp(value) OVER (PARTITION BY user_id) AS sd_v FROM events)",
)
def udf_group_zscore(spark, sf_dir):
    """Per-user z-score via applyInPandas (grouped-map pandas UDF).
    Deliberately also expressible as a window — the oracle runs that
    formulation, proving the Arrow batch path computes identically.
    The UDF shape is the template for logic that ISN'T expressible
    declaratively (model scoring, tokenizers, custom sketches)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)
        mean = pdf["value"].mean()
        z = (pdf["value"] - mean) / sd if sd and sd == sd else pd.Series([None] * len(pdf))
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z.round(6)}
        )

    return ev.groupBy("user_id").applyInPandas(
        zscore, "event_id bigint, user_id bigint, zscore double"
    )


@register(
    "udf_scalar_pandas",
    "SELECT l_orderkey, l_linenumber,"
    " ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge"
    " FROM lineitem WHERE l_quantity >= 40",
)
def udf_scalar_pandas(spark, sf_dir):
    """Scalar pandas UDF (Arrow-vectorized) vs the identical column
    expression in the oracle — same IEEE ops, same order, exact match.
    In production prefer the built-in expression (stays in codegen);
    this entry pins that the UDF boundary itself is lossless."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return (price * (1 - disc) * (1 + tax)).round(6)

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 40)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@register(
    "fn_string2",
    "SELECT p_partkey,"
    " rpad(p_name, 20, '.') AS name_padded,"
    " lpad(p_brand, 12, '*') AS brand_padded,"
    " translate(p_type, 'AEO', 'aeo') AS type_translated,"
    " reverse(p_name) AS name_reversed,"
    " repeat(left(p_name, 2), 3) AS prefix_thrice,"
    " right(p_type, 4) AS type_tail FROM part",
)
def fn_string2(spark, sf_dir):
    df = _t(spark, sf_dir, "part")
    return df.select(
        "p_partkey",
        F.rpad("p_name", 20, ".").alias("name_padded"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.translate("p_type", "AEO", "aeo").alias("type_translated"),
        F.reverse("p_name").alias("name_reversed"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("prefix_thrice"),
        F.substring(F.col("p_type"), -4, 4).alias("type_tail"),
    )


@register(
    "fn_array_ops",
    "SELECT p_partkey,"
    " array_to_string(words, ' ') AS words_str,"
    " CAST(len(words) AS INT) AS n_words,"
    " array_to_string(list_sort(words), '|') AS words_sorted_str,"
    " list_contains(words, 'widget') AS has_widget,"
    " CAST(COALESCE(list_position(words, 'widget'), 0) AS INT) AS widget_pos,"
    " words[1] AS first_word,"
    " array_to_string(list_sort(words), '-') AS joined"
    " FROM (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)",
)
def fn_array_ops(spark, sf_dir):
    """Array algebra over a derived array column. Ordinal conventions
    reconciled in the oracle: both engines are 1-based for element
    access; Spark's array_position returns 0 for missing where DuckDB
    returns NULL (coalesced). Array-valued intermediates (words,
    words_sorted) are scalarized with array_join before projection:
    the driver's pandas canonicalization cannot hash list cells, and
    a string rendering carries identical information for the
    differential check."""
    df = _t(spark, sf_dir, "part").select(
        "p_partkey", F.split("p_name", " ").alias("words")
    )
    return df.select(
        "p_partkey",
        F.array_join("words", " ").alias("words_str"),
        F.size("words").cast("int").alias("n_words"),
        F.array_join(F.sort_array("words"), "|").alias("words_sorted_str"),
        F.array_contains("words", "widget").alias("has_widget"),
        F.array_position("words", "widget").cast("int").alias("widget_pos"),
        F.element_at("words", 1).alias("first_word"),
        F.array_join(F.sort_array("words"), "-").alias("joined"),
    )


@register(
    "fn_crypto_hash",
    "SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256"
    " FROM customer",
)
def fn_crypto_hash(spark, sf_dir):
    """Deterministic cryptographic digests — the cross-engine-stable
    key material for fingerprinting and salting (cf. exact dedup)."""
    df = _t(spark, sf_dir, "customer")
    return df.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
    )


@register(
    "fn_trig",
    "SELECT l_orderkey, l_linenumber,"
    " ROUND(SIN(l_discount), 6) AS sin_d, ROUND(COS(l_discount), 6) AS cos_d,"
    " ROUND(ATAN2(l_quantity, l_extendedprice), 6) AS angle,"
    " ROUND(DEGREES(l_discount), 6) AS disc_deg,"
    " ROUND(EXP(l_discount), 6) AS disc_exp,"
    " ROUND(LOG10(l_extendedprice), 6) AS price_log10 FROM lineitem",
)
def fn_trig(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin("l_discount"), 6).alias("sin_d"),
        F.round(F.cos("l_discount"), 6).alias("cos_d"),
        F.round(F.atan2("l_quantity", "l_extendedprice"), 6).alias("angle"),
        F.round(F.degrees("l_discount"), 6).alias("disc_deg"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
    )


@register(
    "fn_least_greatest",
    "SELECT l_orderkey, l_linenumber,"
    " LEAST(l_quantity, l_discount * 100, l_tax * 100) AS smallest,"
    " GREATEST(l_quantity, l_discount * 100, l_tax * 100) AS largest FROM lineitem",
)
def fn_least_greatest(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.col("l_quantity"), F.col("l_discount") * 100, F.col("l_tax") * 100).alias(
            "smallest"
        ),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100, F.col("l_tax") * 100).alias(
            "largest"
        ),
    )


# ---------------------------------------------------------------------------
# fn_bit_ops — row-level bitwise expression coverage
# ---------------------------------------------------------------------------
_BIT_SQL = """
SELECT o_orderkey,
       (o_orderkey & 255)::BIGINT AS lo_byte,
       (o_orderkey | 4096)::BIGINT AS with_flag,
       xor(o_orderkey, o_custkey)::BIGINT AS key_xor,
       (o_orderkey << 2)::BIGINT AS shifted_l,
       (o_orderkey >> 3)::BIGINT AS shifted_r,
       bit_count(o_orderkey)::BIGINT AS popcount
FROM orders WHERE o_orderkey < 5000
"""


@register("fn_bit_ops", _BIT_SQL)
def fn_bit_ops(spark, sf_dir):
    """Row-level bitwise algebra (&, |, xor, shifts, popcount) — the
    partition-key / flag-mask toolbox. Pure map-side expressions in
    whole-stage codegen."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("lo_byte"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("key_xor"),
        F.shiftleft(k, 2).cast("long").alias("shifted_l"),
        F.shiftright(k, 3).cast("long").alias("shifted_r"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


# ---------------------------------------------------------------------------
# fn_variant — Spark 4 VARIANT ingestion of semi-structured props
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_id,
       json_extract(props, '$.k')::BIGINT AS k,
       (json_extract(props, '$.k')::BIGINT % 7)::BIGINT AS k_mod,
       CASE WHEN json_extract(props, '$.k')::BIGINT >= 50 THEN 'hi' ELSE 'lo' END AS band
FROM events WHERE event_id < 5000
"""


@register("fn_variant", _VARIANT_SQL)
def fn_variant(spark, sf_dir):
    """Semi-structured ingestion through Spark 4's VARIANT type:
    parse_json into a variant column once, then typed variant_get
    path extraction — the open-format answer to schema-on-read JSON
    (binary-encoded, no per-access re-parse, shredding-ready). The
    oracle is DuckDB's JSON path extraction over the same strings;
    `fn_json` keeps the classic get_json_object face."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return e.select(
        "event_id",
        k.alias("k"),
        (k % 7).alias("k_mod"),
        F.when(k >= 50, F.lit("hi")).otherwise(F.lit("lo")).alias("band"),
    )


# ---------------------------------------------------------------------------
# fn_lambda — higher-order array functions over embeddings
# ---------------------------------------------------------------------------
_LAMBDA_SQL = """
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       ROUND(list_sum(list_transform(embedding,
             x -> LEAST(GREATEST(CAST(x AS DOUBLE), -0.1), 0.1))), 6) AS clipped_sum,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       CAST(list_min(embedding) AS DOUBLE) AS vmin
FROM embeddings
"""


@register("fn_lambda", _LAMBDA_SQL)
def fn_lambda(spark, sf_dir):
    """Higher-order (lambda) array functions — the JVM-side way to
    compute over array<float> columns without any Python: transform
    + aggregate for the L2 norm, filter + size for sign counts,
    transform-clamp + aggregate for clipped sums, array_max/min
    untouched. Everything runs inside whole-stage codegen; at 100 TB
    this is the difference between a map-only scan and shipping
    every vector through Arrow into a UDF. Elements are cast
    float→double BEFORE arithmetic on both engines, so the fold is
    the same left-to-right double accumulation bit-for-bit (the
    float32 product path would round differently per engine). The
    fold mirrors DuckDB list_sum's edge semantics so the contract is
    data-independent, not a fixture accident: NULL elements are
    skipped (a bare acc+x fold would poison the sum to NULL) and an
    empty / all-NULL array yields NULL (a 0.0 seed alone would
    yield 0.0)."""
    emb = _t(spark, sf_dir, "embeddings")
    dsq = F.transform(
        F.col("embedding"),
        lambda x: x.cast("double") * x.cast("double"),
    )
    clip = F.transform(
        F.col("embedding"),
        lambda x: F.least(F.greatest(x.cast("double"), F.lit(-0.1)), F.lit(0.1)),
    )

    def fold(arr):
        nn = F.filter(arr, lambda x: x.isNotNull())
        return F.when(
            F.size(nn) > 0,
            F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x),
        )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(fold(dsq)), 6).alias("l2"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_pos"),
        F.round(fold(clip), 6).alias("clipped_sum"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.array_min("embedding").cast("double").alias("vmin"),
    )


# ---------------------------------------------------------------------------
# fn_map_ops — map-typed column functions
# ---------------------------------------------------------------------------
_MAP_SQL = """
WITH w AS (SELECT p_partkey,
                  list_distinct(string_split(p_name, ' ')) AS words
           FROM part)
SELECT p_partkey,
       CAST(len(words) AS INT) AS n_keys,
       array_to_string(list_sort(words), '|') AS keys_sorted,
       CAST(list_sum(list_transform(words, x -> length(x) * 2)) AS BIGINT)
         AS vals_sum_doubled,
       CAST(CASE WHEN list_contains(words, 'widget') THEN 6 END AS INT)
         AS widget_len
FROM w
"""


@register("fn_map_ops", _MAP_SQL)
def fn_map_ops(spark, sf_dir):
    """Map-typed column surface: map_from_arrays → transform_values
    → map_keys / element_at / size, scalarized for the differential
    hash (map cells, like array cells, don't survive the driver's
    pandas canonicalization — and map ITERATION order is engine-
    private, so only order-insensitive renderings are comparable:
    sorted key string, value sum, point lookup). Keys pass through
    array_distinct first — Spark's mapKeyDedupPolicy defaults to
    EXCEPTION, and a name with a repeated word would otherwise kill
    the task. The oracle mirrors the semantics with plain lists
    (DuckDB's MAP element-access conventions have shifted across
    versions; lists state the same contract without that
    dependency)."""
    part = _t(spark, sf_dir, "part")
    words = F.array_distinct(F.split("p_name", " "))
    m = F.map_from_arrays(words, F.transform(words, lambda w: F.length(w)))
    m2 = F.transform_values(m, lambda k, v: v * 2)
    return part.select(
        "p_partkey",
        F.size(m).cast("int").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("keys_sorted"),
        F.aggregate(
            F.map_values(m2), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("vals_sum_doubled"),
        F.element_at(m, F.lit("widget")).cast("int").alias("widget_len"),
    )


# ---------------------------------------------------------------------------
# fn_url_parse — structured URL decomposition
# ---------------------------------------------------------------------------
_URL_N = 3000


_URL_SQL = f"""
WITH u AS (
  SELECT i AS row_id,
         'https://host' || (i % 7) || '.example.org/p/' || (i % 50)
           || '/doc?q=t' || (i % 13) || '&page=' || (i % 9) AS url
  FROM range({_URL_N}) t(i)
)
SELECT row_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
FROM u
"""


@register("fn_url_parse", _URL_SQL)
def fn_url_parse(spark, sf_dir):
    """Structured URL decomposition with Spark's JVM-side parse_url
    (PROTOCOL / HOST / PATH / QUERY / per-key QUERY lookup) against
    a regexp oracle — the log-ingestion cousin of fn_regexp and
    fn_json. The synthetic corpus covers 7 hosts x 50 paths x 13x9
    query-value combinations; every component is deterministic text,
    so the contract is exact string equality. parse_url stays inside
    whole-stage codegen — no Python in the pipeline."""
    from pyspark.sql import functions as F

    u = spark.range(0, _URL_N, 1, 8).select(
        F.col("id").alias("row_id"),
        F.concat(
            F.lit("https://host"),
            (F.col("id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            (F.col("id") % 50).cast("string"),
            F.lit("/doc?q=t"),
            (F.col("id") % 13).cast("string"),
            F.lit("&page="),
            (F.col("id") % 9).cast("string"),
        ).alias("url"),
    )
    return u.select(
        "row_id",
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("page")).alias("page"),
    )


_IPCIDR_SQL = """
WITH ips AS (
  SELECT c_custkey,
         CONCAT('10.', CAST(c_custkey % 200 AS VARCHAR), '.',
                CAST((c_custkey * 7) % 256 AS VARCHAR), '.',
                CAST((c_custkey * 13) % 256 AS VARCHAR)) AS ip
  FROM customer
),
oct AS (SELECT c_custkey, ip, string_split(ip, '.') AS o FROM ips),
parsed AS (
  SELECT c_custkey, ip,
         CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
           + CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT) AS ip_num,
         CONCAT(o[1], '.', o[2], '.', o[3], '.0/24') AS subnet
  FROM oct
)
SELECT subnet, COUNT(*) AS n_hosts,
       MIN(ip_num) AS min_ip, MAX(ip_num) AS max_ip
FROM parsed
WHERE ip_num BETWEEN 167772160 AND 176160767
GROUP BY subnet
"""


@register("fn_ip_cidr", _IPCIDR_SQL)
def fn_ip_cidr(spark, sf_dir):
    """IPv4 parse + CIDR arithmetic: synthesize a deterministic
    dotted-quad per customer, split it BACK into octets (string
    path), rebuild the 32-bit integer, roll up to /24 subnets, and
    filter to 10.0.0.0/9 by numeric range [167772160, 176160767] —
    the network-log analytics pattern (parse, numeric containment,
    prefix aggregation) as pure column expressions."""
    from pyspark.sql import functions as F

    cust = _t(spark, sf_dir, "customer")
    ips = cust.select(
        "c_custkey",
        F.concat(
            F.lit("10."),
            (F.col("c_custkey") % 200).cast("string"),
            F.lit("."),
            ((F.col("c_custkey") * 7) % 256).cast("string"),
            F.lit("."),
            ((F.col("c_custkey") * 13) % 256).cast("string"),
        ).alias("ip"),
    )
    o = F.split("ip", "\\.")
    parsed = ips.select(
        "c_custkey",
        "ip",
        (
            o.getItem(0).cast("long") * 16777216
            + o.getItem(1).cast("long") * 65536
            + o.getItem(2).cast("long") * 256
            + o.getItem(3).cast("long")
        ).alias("ip_num"),
        F.concat(
            o.getItem(0), F.lit("."), o.getItem(1), F.lit("."), o.getItem(2), F.lit(".0/24")
        ).alias("subnet"),
    )
    return (
        parsed.filter(F.col("ip_num").between(167772160, 176160767))
        .groupBy("subnet")
        .agg(
            F.count(F.lit(1)).alias("n_hosts"),
            F.min("ip_num").alias("min_ip"),
            F.max("ip_num").alias("max_ip"),
        )
    )


_B64_SQL = """
SELECT c_custkey,
       base64(encode(c_name)) AS name_b64,
       decode(from_base64(base64(encode(c_name)))) AS name_back,
       hex(c_mktsegment) AS segment_hex,
       decode(from_base64(base64(encode(c_name)))) = c_name AS roundtrip_ok
FROM customer WHERE c_custkey % 100 = 0
"""


@register("fn_base64_roundtrip", _B64_SQL)
def fn_base64_roundtrip(spark, sf_dir):
    """Binary-encoding surface: base64 encode → decode round-trip on
    customer names (must equal the input on every row) plus hex of
    the UTF-8 segment bytes — the wire-format functions an engine's
    function library owes its users. Pure column expressions."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    b64 = F.base64(F.col("c_name").cast("binary"))
    back = F.unbase64(b64).cast("string")
    return cust.select(
        "c_custkey",
        b64.alias("name_b64"),
        back.alias("name_back"),
        F.hex(F.col("c_mktsegment").cast("binary")).alias("segment_hex"),
        (back == F.col("c_name")).alias("roundtrip_ok"),
    )


_LEV_SQL = """
SELECT p.p_partkey,
       levenshtein(p.p_name, p2.p_name) AS dist,
       length(p.p_name) AS len_a, length(p2.p_name) AS len_b
FROM part p JOIN part p2 ON p2.p_partkey = p.p_partkey + 1
WHERE p.p_partkey % 50 = 0
"""


@register("fn_levenshtein", _LEV_SQL)
def fn_levenshtein(spark, sf_dir):
    """Scalar edit-distance parity: both engines ship a builtin
    levenshtein — this pins them against each other on real part
    names (the primitive join_typo_names' FastSS banding
    accelerates). Integer output, map-side join on adjacent keys."""
    part = _t(spark, sf_dir, "part")
    a = part.filter(F.col("p_partkey") % 50 == 0).select(
        "p_partkey", F.col("p_name").alias("name_a")
    )
    b = part.select(
        (F.col("p_partkey") - 1).alias("p_partkey"), F.col("p_name").alias("name_b")
    )
    return a.join(b, "p_partkey").select(
        "p_partkey",
        F.levenshtein("name_a", "name_b").alias("dist"),
        F.length("name_a").alias("len_a"),
        F.length("name_b").alias("len_b"),
    )


# ---------------------------------------------------------------------------
# Python UDTF surface.
#
# Spark 4's user-defined TABLE functions complete the repo's UDF
# inventory (scalar pandas_udf — udf_scalar_pandas; grouped
# applyInPandas — udf_group_zscore; now the one-row-to-many-rows
# form). A UDTF is registered once and composed in SQL with LATERAL,
# which is the shape users port from Hive's explode-style UDTFs or
# Postgres set-returning functions.
#
# The honest performance note from the repo's UDF policy applies
# doubly: UDTF eval is row-at-a-time Python (no Arrow batching for the
# yield path in this container's config), so this surface exists for
# API completeness and extensibility — the same fixed-width chunking
# is expressible as pure column ops (doc_chunk_stride's family), and
# THAT is the hot path. The oracle proves the UDTF's semantics equal
# the declarative form exactly.
# ---------------------------------------------------------------------------
_WIDTH = 40


_UDTF_SQL = f"""
SELECT doc_id, CAST(i AS INT) AS part,
       substr(text, CAST(i * {_WIDTH} + 1 AS INT), {_WIDTH}) AS piece,
       CAST(length(substr(text, CAST(i * {_WIDTH} + 1 AS INT), {_WIDTH}))
            AS INT) AS n_chars
FROM (SELECT doc_id, text,
             unnest(range(0, (length(text) + {_WIDTH - 1}) // {_WIDTH})) AS i
      FROM documents)
"""


@register("fn_udtf_chunks", _UDTF_SQL)
def fn_udtf_chunks(spark, sf_dir):
    """Fixed-width document chunking through a registered Python
    UDTF composed with LATERAL in SQL — the table-function member of
    the UDF surface. Each input row yields ceil(len/40) output rows
    (part index, piece, piece length); empty documents yield
    nothing, matching the oracle's empty range. The UDTF/declarative
    equivalence is the oracle check itself; the row-at-a-time cost
    profile (vs the arrow-batched and pure-column chunkers) is
    documented above and in tests/test_ext62.py."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=f"part int, piece string, n_chars int")
    class ChunkText:
        def eval(self, text: str):
            if not text:
                return
            for i in range(0, (len(text) + _WIDTH - 1) // _WIDTH):
                piece = text[i * _WIDTH : (i + 1) * _WIDTH]
                yield i, piece, len(piece)

    spark.udtf.register("chunk_text", ChunkText)
    _t(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_udtf_src"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.part, c.piece, c.n_chars
        FROM documents_udtf_src d, LATERAL chunk_text(d.text) c
        """
    )


# ---------------------------------------------------------------------------
# Jaro-Winkler similarity.
#
# The record-linkage string metric (Jaro 1989; Winkler 1990, built for
# Census name matching): Jaro scores character matches within a
# half-length window plus a transposition penalty; Winkler boosts
# scores sharing a prefix. Complements the family already shipped —
# fn_levenshtein (edit distance), join_typo_names (FastSS banding),
# join_fuzzy_parts (set-token) — with the metric actual MDM systems
# rank candidates by.
#
# The implementation matches DuckDB's builtin exactly (probed: boost
# only when jaro > 0.7, prefix capped at 4, scale 0.1), which is what
# makes the differential oracle a one-liner per pair. The Spark face
# is an Arrow-batched pandas UDF — character-window DP is the honest
# UDF case (SURVEY §7.7), not expressible in column algebra.
# ---------------------------------------------------------------------------
_TOPN = 100


_JW_SQL = f"""
WITH p AS (SELECT p_partkey AS k, p_name AS name FROM part),
pairs AS (
  SELECT a.k AS part_a, b.k AS part_b, a.name AS na, b.name AS nb
  FROM p a JOIN p b ON b.k = a.k + 1),
scored AS (
  SELECT part_a, part_b,
         ROUND(jaro_similarity(na, nb), 6) AS jaro,
         ROUND(jaro_winkler_similarity(na, nb), 6) AS jw,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(jaro_winkler_similarity(na, nb), 6) DESC,
                    part_a) AS rnk
  FROM pairs)
SELECT part_a, part_b, jaro, jw FROM scored WHERE rnk <= {_TOPN}
"""


def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    win = max(max(la, lb) // 2 - 1, 0)  # short strings: window >= 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i in range(la):
        lo, hi = max(0, i - win), min(lb, i + win + 1)
        for j in range(lo, hi):
            if not mb[j] and a[i] == b[j]:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3


def _jw(a: str, b: str) -> float:
    j = _jaro(a, b)
    if j <= 0.7:  # DuckDB's boost threshold (module docstring)
        return j
    l = 0
    for x, y in zip(a, b):
        if x == y and l < 4:
            l += 1
        else:
            break
    return j + l * 0.1 * (1 - j)


@register("fn_jaro_winkler", _JW_SQL)
def fn_jaro_winkler(spark, sf_dir):
    """Top-100 most-similar adjacent part-name pairs by
    Jaro-Winkler (jw-desc, part_a tie-break on the 6dp-rounded
    score), emitting both the raw Jaro and the boosted score. The
    pandas-UDF implementation is pinned against DuckDB's builtin by
    the oracle itself and against the textbook examples (martha/
    marhta = 0.961111, dixon/dicksonx jaro = 0.766667) plus the
    boost-threshold and prefix-cap behaviors in tests/test_ext74.py.

    Scale shape: scoring is per-pair map-only Arrow batches; the
    pair GENERATION here is a key-adjacency join (deterministic
    fixture) — production candidate generation is the FastSS/LSH
    banding of join_typo_names, with this metric as the ranking
    stage."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jaro_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_jaro(x, y) for x, y in zip(a, b)])

    @pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_jw(x, y) for x, y in zip(a, b)])

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_name").alias("name")
    )
    a = p.select(F.col("k").alias("part_a"), F.col("name").alias("na"))
    b = p.select((F.col("k") - 1).alias("part_a"), F.col("name").alias("nb"),
                 F.col("k").alias("part_b"))
    pairs = a.join(b, "part_a")
    scored = pairs.select(
        "part_a",
        "part_b",
        F.round(jaro_udf("na", "nb"), 6).alias("jaro"),
        F.round(jw_udf("na", "nb"), 6).alias("jw"),
    ).withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("jw").desc(), "part_a")),
    )
    return scored.filter(F.col("rnk") <= _TOPN).select(
        "part_a", "part_b", "jaro", "jw"
    )


# ---------------------------------------------------------------------------
# fn_business_days — closed-form weekday arithmetic
# ---------------------------------------------------------------------------

# business days in (start, od]: full weeks contribute 5 each; the
# remainder is a run of rem consecutive days starting at Monday-index
# a = (a0_start + 1) mod 7, whose weekday count has the closed form
#   f(a, rem) = max(0, min(a+rem, 5) - min(a, 5))     (pre-wrap part)
#             + max(0, min(a+rem-7, 5))               (post-wrap part)
_BDAYS_SQL = """
WITH t0 AS (SELECT MIN(o_orderdate) AS d0 FROM orders),
d AS (
  SELECT o_orderkey,
         date_diff('day', CAST(d0 AS DATE), CAST(o_orderdate AS DATE)) AS cal,
         CAST((EXTRACT(dow FROM CAST(d0 AS DATE)) + 6) % 7 AS BIGINT) AS a0
  FROM orders CROSS JOIN t0),
e AS (SELECT o_orderkey, cal, (a0 + 1) % 7 AS a, cal % 7 AS rem FROM d)
SELECT o_orderkey, cal AS calendar_days,
       CAST((cal // 7) * 5
            + greatest(0, least(a + rem, 5) - least(a, 5))
            + greatest(0, least(a + rem - 7, 5)) AS BIGINT) AS business_days
FROM e
ORDER BY o_orderkey
LIMIT 200
"""


@register("fn_business_days", _BDAYS_SQL)
def fn_business_days(spark, sf_dir):
    """Business (Mon-Fri) days between the corpus's first order date
    and each order date, as a PURE closed-form column expression —
    no calendar explode, no UDF: full weeks times five plus a
    two-term min/max count of weekdays in the remainder run (the
    date-dimension-free form an SLA/lead-time pipeline wants at
    100 TB, where exploding a day-per-row calendar per fact row is
    the anti-pattern). First 200 orderkeys keep the differential row
    set bounded; the expression itself is exercised across every
    weekday phase because the corpus spans years.

    Shape: scalar min-date broadcast, then map-side integer
    arithmetic — a single scan, no shuffle beyond the TakeOrdered."""
    o = _t(spark, sf_dir, "orders")
    t0 = o.agg(F.min("o_orderdate").alias("d0"))
    # Monday-index of a date: Spark dayofweek is 1=Sun..7=Sat
    a0 = (F.dayofweek(F.col("d0")) + 5) % 7
    d = o.crossJoin(F.broadcast(t0)).select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.col("d0")).cast("bigint").alias("cal"),
        a0.cast("bigint").alias("a0"),
    )
    e = d.select(
        "o_orderkey",
        "cal",
        ((F.col("a0") + 1) % 7).alias("a"),
        (F.col("cal") % 7).alias("rem"),
    )
    zero = F.lit(0).cast("bigint")
    bdays = (
        F.expr("cal div 7") * 5
        + F.greatest(
            zero,
            F.least(F.col("a") + F.col("rem"), F.lit(5).cast("bigint"))
            - F.least(F.col("a"), F.lit(5).cast("bigint")),
        )
        + F.greatest(
            zero,
            F.least(F.col("a") + F.col("rem") - 7, F.lit(5).cast("bigint")),
        )
    )
    return (
        e.select(
            "o_orderkey",
            F.col("cal").alias("calendar_days"),
            bdays.cast("bigint").alias("business_days"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )
