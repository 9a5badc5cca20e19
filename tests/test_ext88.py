"""Round-9 ext88: MP3 silence decode query + DSIR importance weights."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_media_mp3_decode_rows_and_silence(spark):
    from stockify_spark.registry import QUERIES

    rows = QUERIES["media_mp3_decode"](spark, SF).collect()
    assert len(rows) == 18
    for r in rows:
        assert r.n_samples == r.n_frames * 1152
        assert r.peak == 0 and r.rms_r == 0.0
        assert r.duration_ms == r.n_frames * 1152 * 1000 // r.sample_rate
        assert r.side_digest > 0  # populated side info actually parsed


def test_dsir_weights_prefer_target_language(spark):
    """The DSIR sanity property: the top-50 by importance weight must
    be ENRICHED in the target domain ('de') relative to its corpus
    share — otherwise the likelihood-ratio model learned nothing."""
    from stockify_spark.registry import QUERIES
    from stockify_spark.sources.io import load_table

    top = QUERIES["pipeline_dsir_weights"](spark, SF)
    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    joined = top.join(docs, "doc_id")
    n_de_top = joined.filter(F.col("lang") == "de").count()
    total = docs.count()
    n_de = docs.filter(F.col("lang") == "de").count()
    base_rate = n_de / total
    assert n_de_top / 50 > 2 * base_rate, (n_de_top, base_rate)
    # weights are finite and descending-sorted output is well-formed
    ws = [r.log_w for r in top.collect()]
    assert all(w == w and abs(w) < 1e6 for w in ws)
    assert ws == sorted(ws, reverse=True)


def test_dsir_plan_broadcasts_model_and_topk(spark):
    """Scale shape pins: the per-bucket weight table joins back as a
    BROADCAST (model state, never a shuffle side), and the final
    selection is TakeOrderedAndProject, never a global sort."""
    from stockify_spark.registry import QUERIES

    plan = QUERIES["pipeline_dsir_weights"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_temperature_mix_flattens_distribution(spark):
    """alpha < 1 must flatten: every below-average language gets
    upsample > 1, the head language < 1, and p_alpha sums to 1."""
    from stockify_spark.registry import QUERIES

    rows = QUERIES["pipeline_temperature_mix"](spark, SF).collect()
    assert abs(sum(r.p_alpha for r in rows) - 1.0) < 1e-4
    head = max(rows, key=lambda r: r.p_raw)
    tail = min(rows, key=lambda r: r.p_raw)
    assert head.upsample < 1.0 < tail.upsample
    # order preserved: temperature rescales, never reranks
    by_raw = sorted(rows, key=lambda r: r.p_raw)
    by_alpha = sorted(rows, key=lambda r: r.p_alpha)
    assert [r.lang for r in by_raw] == [r.lang for r in by_alpha]


def test_ppl_buckets_monotone_and_kept(spark):
    """Terciles must be ppl-monotone within each language (head mean
    <= middle mean <= tail mean) and the keep rule drops exactly
    bucket 3."""
    from stockify_spark.registry import QUERIES

    rows = QUERIES["pipeline_ppl_buckets"](spark, SF).collect()
    langs = {r.lang for r in rows}
    assert len(langs) == 5 and len(rows) == 15
    for lang in langs:
        by_bucket = sorted((r for r in rows if r.lang == lang),
                           key=lambda r: r.bucket)
        means = [r.mean_ppl for r in by_bucket]
        assert means == sorted(means), (lang, means)
        assert [r.kept for r in by_bucket] == [True, True, False]


def test_countmin_never_underestimates_and_is_tight_for_present_keys(spark):
    from stockify_spark.registry import QUERIES

    rows = QUERIES["agg_countmin_sketch"](spark, SF).collect()
    assert len(rows) == 20
    assert all(r.no_underestimate for r in rows)
    present = [r for r in rows if r.exact_cnt > 0]
    assert present, "probe keys should include present customers"
    # with d=4 rows of 256 buckets over a small corpus the estimate
    # is exact or near-exact; the guarantee is one-sided regardless
    assert all(r.cms_est >= r.exact_cnt for r in rows)


def test_gumbel_topk_is_seeded_and_weight_biased(spark):
    """Same seed twice -> identical sample; the weighted sample's
    mean n_chars must exceed the corpus mean (weights = n_chars)."""
    from stockify_spark.registry import QUERIES
    from stockify_spark.sources.io import load_table

    a = QUERIES["pipeline_gumbel_topk"](spark, SF).collect()
    b = QUERIES["pipeline_gumbel_topk"](spark, SF).collect()
    assert a == b and len(a) == 20
    corpus_mean = (
        load_table(spark, SF, "documents").agg({"n_chars": "avg"}).collect()[0][0]
    )
    sample_mean = sum(r.n_chars for r in a) / len(a)
    assert sample_mean > corpus_mean


def test_did_identity_and_cells(spark):
    """The DiD estimate must equal the four cell means' double
    difference exactly, repeated on all four rows; SE positive."""
    from stockify_spark.registry import QUERIES

    rows = QUERIES["stats_diff_in_diff"](spark, SF).collect()
    assert len(rows) == 4
    cell = {(r.treated, r.post): r.mean_v for r in rows}
    did = rows[0].did
    expect = (cell[(1, 1)] - cell[(1, 0)]) - (cell[(0, 1)] - cell[(0, 0)])
    assert abs(did - expect) < 2e-6
    assert len({r.did for r in rows}) == 1
    assert all(r.se_did > 0 for r in rows)
    assert sum(r.n for r in rows) > 0


def test_geo_knn_grid_matches_brute_force(spark):
    """r9 superlinear fix: the grid-pruned + certified kNN must be
    BIT-IDENTICAL to the brute cross-join on every row, at two SFs
    (sparse cells at sf0.001 exercise the fallback path; sf0.01 the
    certified path)."""
    from pyspark.sql import Window
    from stockify_spark.registry import QUERIES, _t
    from stockify_spark.queries.events import _haversine_km

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        def pts(df, key):
            return df.select(
                key,
                (((F.col(key) * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
                (((F.col(key) * 104729) % 36000) / 100.0 - 180.0).alias("lon"),
            )

        cust = pts(_t(spark, sf, "customer"), "c_custkey")
        sup = pts(_t(spark, sf, "supplier"), "s_suppkey").select(
            "s_suppkey", F.col("lat").alias("s_lat"), F.col("lon").alias("s_lon")
        )
        d = cust.crossJoin(F.broadcast(sup)).select(
            "c_custkey",
            "s_suppkey",
            F.round(
                _haversine_km(F.col("lat"), F.col("lon"),
                              F.col("s_lat"), F.col("s_lon")), 6
            ).alias("dist_km"),
        )
        w = Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
        brute = (
            d.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
        )
        got = {tuple(r) for r in QUERIES["geo_knn_suppliers"](spark, sf).collect()}
        want = {tuple(r) for r in brute.collect()}
        assert got == want, f"mismatch at {sf}: {len(got ^ want)} rows differ"
