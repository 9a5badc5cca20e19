"""Session-conf robustness: the engine must work under a host session
it did not build (the verification driver / bench harness may hand us
a session whose defaults differ).

Regression for the BENCH_r05 failure: under
``spark.sql.timestampType=TIMESTAMP_NTZ``, ``cast(x AS TIMESTAMP)``
resolves to NTZ, so the loader's NTZ→LTZ normalization silently
no-ops and every epoch function (``unix_millis`` & co.) then rejects
the column. ``load_table`` now pins the conf (idempotent, constant)
and casts via the ``T.TimestampType()`` type object.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockify_spark.sources.io import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def test_load_table_normalizes_ts_under_ntz_default(spark):
    prev = spark.conf.get("spark.sql.timestampType")
    try:
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
        df = load_table(spark, SF_SMOKE, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        # the epoch function that BENCH_r05 died on must resolve
        n = df.select(F.unix_millis("ts").alias("ms")).where(F.col("ms").isNotNull()).count()
        assert n > 0
        # loader restored the LTZ default for literal casts downstream
        assert spark.conf.get("spark.sql.timestampType") == "TIMESTAMP_LTZ"
    finally:
        spark.conf.set("spark.sql.timestampType", prev)


def test_timestamp_literal_filters_survive_ntz_default(spark):
    """TPC-H-style ``lit(...).cast("timestamp")`` predicates must keep
    working after a hostile default, because load_table repins the
    session conf before any such cast is analyzed."""
    from stockify_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.timestampType")
    try:
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
        assert QUERIES["tpch_q6"](spark, SF_SMOKE).count() == 1
        assert QUERIES["window_range_frame"](spark, SF_SMOKE).count() == 1000
    finally:
        spark.conf.set("spark.sql.timestampType", prev)


def test_all_queries_analyze_under_hostile_defaults(spark):
    """Every registered query must at least ANALYZE under the driver's
    possible hostile session defaults (NTZ timestamp type + case-
    sensitive resolution). Analysis is where the BENCH_r05 class of
    failure surfaces (type resolution), and it is cheap enough to
    sweep the whole registry."""
    from stockify_spark.registry import QUERIES

    prev_t = spark.conf.get("spark.sql.timestampType")
    prev_c = spark.conf.get("spark.sql.caseSensitive")
    fails = []
    try:
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
        spark.conf.set("spark.sql.caseSensitive", "true")
        for name, fn in QUERIES.items():
            try:
                fn(spark, SF_SMOKE).schema
            except Exception as ex:  # noqa: BLE001 - collecting all failures
                fails.append((name, str(ex)[:120]))
    finally:
        spark.conf.set("spark.sql.timestampType", prev_t)
        spark.conf.set("spark.sql.caseSensitive", prev_c)
    assert not fails, fails


def test_representative_queries_execute_under_hostile_tz(spark):
    """A driver session may carry a non-UTC timezone; load_table
    re-pins UTC (the oracle comparison basis), so results must be
    IDENTICAL to a UTC run — not just analyzable."""
    from stockify_spark.registry import QUERIES

    names = ["tpch_q6", "groupby_time_rollup", "events_sessionize", "window_range_frame"]
    baseline = {n: QUERIES[n](spark, SF_SMOKE).count() for n in names}
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for n in names:
            assert QUERIES[n](spark, SF_SMOKE).count() == baseline[n], n
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_representative_queries_execute_under_ansi_mode(spark):
    """ANSI mode turns silent overflow/invalid-cast/bad-index into
    runtime errors, which only surface at EXECUTION — sweep a
    representative subset end-to-end (timestamp arithmetic, integer
    hash math, element_at indexing, division) under
    spark.sql.ansi.enabled=true."""
    from stockify_spark.registry import QUERIES

    names = [
        "tpch_q6", "agg_stats", "fn_math", "window_range_frame",
        "sample_weighted", "dedup_simhash", "sim_pq_topk",
        "events_sessionize", "fn_null_handling", "doc_chunk_stride",
        "tokenizer_bpe_batched", "agg_exact_median",
        # round-8: codec paths (binary columns through Arrow + integer
        # bit math inside mapInPandas) and the bloom index's conv/md5
        # hash arithmetic are exactly the ANSI-sensitive class
        "media_flac_decode", "media_h264_probe", "pipeline_gzip_ingest",
        "txlog_bloom_lookup", "txlog_zorder",
        # round-8 waves: bit-shift bitmap words (overflow-adjacent),
        # md5→conv hash math in the HLL registers, quadkey integer
        # div/mod chains, an applyInPandas recursion, and the
        # metadata-only stats path
        "agg_bitmap_distinct", "agg_hll_sketch", "events_quadkey_rollup",
        "stocks_macd", "txlog_metadata_count", "window_hurst_rs",
        # curation wave: conv/md5 hash ladders (CDC cuts, bootstrap
        # weights, DP noise, walk draws), element_at indexing (fence
        # ladder, neighbor pick), integer div (systematic resample,
        # stump deciles), log/exp hot paths (logreg, KN, entropy)
        "pipeline_cdc_chunk_dedup", "stats_bootstrap_ci", "dq_dp_counts",
        "graph_random_walk", "stats_fdr_bh", "pipeline_systematic_resample",
        "ml_decision_stump", "ml_logreg_newton", "text_kneser_ney",
        "window_dtw", "window_lttb", "window_holt_winters",
    ]
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    fails = []
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        for n in names:
            try:
                QUERIES[n](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 - collecting all failures
                fails.append((n, str(ex)[:160]))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert not fails, fails


def test_aqe_floor_default_and_scoped_verify_spread(spark):
    """r15 scoping of the r14 AQE-floor fix: the session factory
    leaves ``coalescePartitions.minPartitionSize`` at Spark's 1m
    default (the 64k session-wide floor taxed every sub-second query
    5-10%), and the dedup pair generators instead carry an EXPLICIT
    round-robin repartition at their verify boundary — the ids-only
    candidate frame (bytes say "one partition") feeding the CPU-dense
    array_intersect verify (CPU says "every core"). The explicit
    exchange must be visible in the physical plan so AQE cannot
    coalesce the verify back onto one core."""
    from stockify_spark.llm.dedup import (
        ngram_jaccard_pairs,
        shingle_containment_pairs,
    )

    got = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    assert got == "1m"

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 3 + str(i % 7))
         for i in range(40)],
        "doc_id long, text string",
    )
    for fn in (ngram_jaccard_pairs, shingle_containment_pairs):
        plan = fn(docs, "text", "doc_id")._jdf.queryExecution().toString()
        assert "RoundRobinPartitioning" in plan, fn.__name__
