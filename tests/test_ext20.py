"""Pins for the metadata/BM25/Shapley/spectral wave (queries: events, similarity, txlog, windows)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_table_stats_opens_no_data_files(spark, tmp_path):
    """table_stats must agree with a full scan AND survive deleting
    every data file (proof it reads only the log)."""
    import os

    from stockify_spark.sources import txlog

    path = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 13).cast("double").alias("v")
    )
    txlog.create(df, path)
    txlog.append(
        spark.range(500, 700).select(
            F.col("id"), (F.col("id") % 13).cast("double").alias("v")
        ),
        path,
    )
    st = txlog.table_stats(path)
    assert st["rows"] == 700
    assert st["min"]["id"] == 0 and st["max"]["id"] == 699
    assert st["min"]["v"] == 0.0 and st["max"]["v"] == 12.0
    # delete all data files: stats must still answer (log-only read)
    ddir = os.path.join(path, "data")
    for f in os.listdir(ddir):
        os.remove(os.path.join(ddir, f))
    st2 = txlog.table_stats(path)
    assert st2 == st


def test_bm25_ordering_and_positivity(spark):
    """Scores are positive (non-negative idf variant), sorted
    descending, and every returned doc contains at least one query
    term."""
    from stockify_spark.queries.similarity import sim_bm25_search, _BM25_TERMS
    from stockify_spark.registry import _t

    rows = sim_bm25_search(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    texts = {r.doc_id: r.text for r in _t(spark, SF_SMALL, "documents").collect()}
    for r in rows:
        toks = set(texts[r.doc_id].strip().lower().split())
        assert toks & set(_BM25_TERMS)


def test_shapley_credits_sum_to_attributed_users(spark):
    """Total credit across channels equals the number of converted
    users with at least one pre-purchase channel (each contributes
    exactly 1.0 split across their set)."""
    from stockify_spark.queries.events import events_shapley_attribution
    from stockify_spark.registry import _t

    rows = events_shapley_attribution(spark, SF_SMALL).collect()
    assert {r.channel for r in rows} <= {"click", "view", "signup", "error"}
    total_credit = sum(r.shapley_credit for r in rows)
    ev = _t(spark, SF_SMALL, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    n_attributed = (
        ev.join(conv, "user_id")
        .filter((F.col("event_type") != "purchase") & (F.col("ts") < F.col("fp")))
        .select("user_id")
        .distinct()
        .count()
    )
    assert abs(total_credit - n_attributed) < 1e-3


def test_goertzel_sawtooth_harmonics(spark):
    """The ramp is a pure 18-periodic sawtooth, so (a) every series
    shows the same spectrum, (b) harmonic power decreases ~1/k²,
    and (c) the value matches a direct Python evaluation."""
    from collections import defaultdict

    from stockify_spark.queries.windows import window_goertzel_power

    rows = window_goertzel_power(spark, SF_SMALL).collect()
    per = defaultdict(dict)
    for r in rows:
        per[r.symbol][r.harmonic] = r.power
    assert set(per) == set(range(10))
    ref = per[0]
    for sym in per:
        assert per[sym] == ref  # identical periodic content
    assert ref[1] > ref[2] > ref[3] > ref[4] > ref[5] > 0
    # direct check for harmonic 1
    x = [500.0 + (i % 18) * 10.0 for i in range(180)]
    cs = sum(
        x[t] * math.cos(2.0 * math.pi * 1 * (t % 18) / 18.0) for t in range(180)
    )
    sn = sum(
        x[t] * math.sin(2.0 * math.pi * 1 * (t % 18) / 18.0) for t in range(180)
    )
    assert abs(ref[1] - (cs * cs + sn * sn)) < 1e-2
