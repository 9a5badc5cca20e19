"""Pins for the indicator/classifier/containment wave (queries: ml, pipeline, stocks)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from tests.conftest import SF_SMALL


def _r6(x: float) -> float:
    """HALF_UP 6dp rounding — what Spark's ROUND and DuckDB's ROUND
    both do; Python's builtin round() is half-even and disagrees on
    exact binary ties like 545.0390625."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _ohlcv(row_id: int) -> tuple[float, float, float, float, float]:
    i = row_id % 18
    return (
        450.0 + i * 10.0,  # open
        510.0 + i * 10.0,  # high
        440.0 + i * 10.0,  # low
        500.0 + i * 10.0,  # close
        1_200_000.0 + i * 100_000.0,  # volume
    )


def test_heikin_ashi_matches_independent_recursion(spark):
    """Third independent face: replay the ha_open/ha_close recursion
    in plain Python from the ramp formula and demand exact equality
    after the same 6dp rounding, plus the candle-envelope invariant
    ha_low <= min(ha_open, ha_close) <= max(...) <= ha_high."""
    from stockify_spark.queries.stocks import stocks_heikin_ashi

    rows = stocks_heikin_ashi(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    assert len(rows) == 1800
    for sym in (0, 7):
        series = [r for r in rows if r.symbol == sym]
        o0, h0, l0, c0, _ = _ohlcv(sym * 180)
        ha_open = (o0 + c0) / 2
        ha_close = (o0 + h0 + l0 + c0) / 4
        assert series[0].ha_open == _r6(ha_open)
        for t in range(1, 180):
            o, h, lo, c, _ = _ohlcv(sym * 180 + t)
            ha_open, ha_close = (ha_open + ha_close) / 2, (o + h + lo + c) / 4
            assert series[t].ha_open == _r6(ha_open), (sym, t)
            assert series[t].ha_close == _r6(ha_close), (sym, t)
    for r in rows:
        assert r.ha_low <= min(r.ha_open, r.ha_close) + 1e-9
        assert r.ha_high >= max(r.ha_open, r.ha_close) - 1e-9


def test_adx_bounds_and_spot_recursion(spark):
    """DI± and ADX live in [0, 100]; replay the four coupled Wilder
    recursions for one series and demand exact 6dp equality."""
    from stockify_spark.queries.stocks import stocks_adx

    rows = stocks_adx(spark, SF_SMALL).orderBy("symbol", "pos").collect()
    assert len(rows) == 1800
    for r in rows:
        assert -1e-9 <= r.di_plus <= 100 + 1e-9
        assert -1e-9 <= r.di_minus <= 100 + 1e-9
        assert -1e-9 <= r.adx <= 100 + 1e-9
    series = [r for r in rows if r.symbol == 2]
    h0, l0 = _ohlcv(2 * 180)[1], _ohlcv(2 * 180)[2]
    e_tr, e_p, e_n, adx = h0 - l0, 0.0, 0.0, 0.0
    prev = _ohlcv(2 * 180)
    for t in range(1, 180):
        o, h, lo, c, _ = _ohlcv(2 * 180 + t)
        up, dn = h - prev[1], prev[2] - lo
        pdm = up if (up > dn and up > 0) else 0.0
        ndm = dn if (dn > up and dn > 0) else 0.0
        tr = max(h - lo, abs(h - prev[3]), abs(lo - prev[3]))
        e_tr = e_tr + (tr - e_tr) / 14.0
        e_p = e_p + (pdm - e_p) / 14.0
        e_n = e_n + (ndm - e_n) / 14.0
        dip, din = 100.0 * e_p / e_tr, 100.0 * e_n / e_tr
        dxv = 0.0 if dip + din == 0 else 100.0 * abs(dip - din) / (dip + din)
        adx = adx + (dxv - adx) / 14.0
        assert series[t].di_plus == _r6(dip), t
        assert series[t].adx == _r6(adx), t
        prev = (o, h, lo, c, _)


def test_cci_first_frame_null_and_spot_value(spark):
    """The single-row first frame has zero mean deviation -> NULL by
    the guard; a full 20-row frame matches an independent two-pass
    computation exactly at 6dp."""
    from stockify_spark.queries.stocks import stocks_cci

    rows = stocks_cci(spark, SF_SMALL).orderBy("row_id").collect()
    assert len(rows) == 1800
    assert rows[0].cci_20 is None
    t = 40
    tps = [sum(_ohlcv(i)[1:4]) / 3 for i in range(t - 19, t + 1)]
    # left-to-right fold like both engine faces
    s = 0.0
    for x in tps:
        s += x
    sma = s / 20
    d = 0.0
    for x in tps:
        d += abs(x - sma)
    mad = d / 20
    expect = _r6((tps[-1] - sma) / (0.015 * mad))
    assert rows[t].cci_20 == expect


def test_mfi_bounds_and_flat_start(spark):
    """Row 0 contributes no flow (lag undefined) -> both sums 0 ->
    MFI pinned to 100; all values in [0, 100]."""
    from stockify_spark.queries.stocks import stocks_mfi

    rows = stocks_mfi(spark, SF_SMALL).orderBy("row_id").collect()
    assert rows[0].pos_flow == 0.0 and rows[0].neg_flow == 0.0
    assert rows[0].mfi_14 == 100.0
    for r in rows:
        assert -1e-9 <= r.mfi_14 <= 100 + 1e-9
    # the ramp rises within a period: mid-period frames carry positive
    # flow, so some row must sit strictly between the extremes
    assert any(0.0 < r.mfi_14 < 100.0 for r in rows)


def test_naive_bayes_covers_test_split_once(spark):
    """Every held-out doc (doc_id % 5 == 0) gets exactly one
    prediction from the 5-class label set, with a negative
    log-score (probabilities < 1)."""
    from stockify_spark.queries.ml import ml_naive_bayes

    rows = ml_naive_bayes(spark, SF_SMALL).collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == sorted(set(ids))
    assert all(i % 5 == 0 for i in ids)
    assert len(ids) == 100
    langs = {r.pred_lang for r in rows}
    assert langs <= {"en", "de", "es", "fr", "zh"}
    assert all(r.score < 0 for r in rows)


def test_containment_recall_vs_bruteforce(spark):
    """The asymmetric prefix filter has recall exactly 1.0: compare
    against an all-ordered-pairs brute force on the same corpus."""
    from pyspark.sql import functions as F

    from stockify_spark.llm.dedup import shingle_containment_pairs, shingles
    from stockify_spark.registry import _t

    docs = _t(spark, SF_SMALL, "documents")
    got = {
        (r.contained_id, r.container_id, r.containment)
        for r in shingle_containment_pairs(docs, "text", "doc_id", 3, 0.6).collect()
    }
    base = docs.select("doc_id", shingles("text", 3).alias("sh")).filter(
        F.size("sh") > 0
    )
    a = base.select(F.col("doc_id").alias("ia"), F.col("sh").alias("sa"))
    b = base.select(F.col("doc_id").alias("ib"), F.col("sh").alias("sb"))
    c = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size("sa").cast(
        "double"
    )
    brute = {
        (r.ia, r.ib, r.c)
        for r in a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .filter(c >= 0.6)
        .select("ia", "ib", F.round(c, 6).alias("c"))
        .collect()
    }
    assert got == brute
    assert len(got) >= 40  # the corpus plants containment duplicates


def test_containment_is_directional(spark):
    """Containment is a directional measure: normalizing by |S(A)|
    means C(A→B) != C(B→A) whenever the shingle sets differ in size.
    The sf0.01 corpus's planted near-dups are mutual at 0.6 (both
    directions detected), but at least one pair must carry UNEQUAL
    scores in the two directions — pinning that this is containment,
    not Jaccard re-emitted."""
    from stockify_spark.llm.dedup import shingle_containment_pairs
    from stockify_spark.registry import _t

    docs = _t(spark, SF_SMALL, "documents")
    score = {
        (r.contained_id, r.container_id): r.containment
        for r in shingle_containment_pairs(docs, "text", "doc_id", 3, 0.6).collect()
    }
    assert any(
        (b, a) in score and score[(b, a)] != s for (a, b), s in score.items()
    )
