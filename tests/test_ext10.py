"""Round-7 wave 3 behavioral tests: banded-join completeness
(typo pairs, geo radius pairs) against in-engine brute force, the
Count-Min sketch's never-underestimate + mass-conservation
guarantees, seasonal-decomposition reconstruction, last-touch
attribution on a hand-built sequence, and CUSUM on a known
changepoint. The differential oracle gate (tools/check_oracle.py)
covers value-exactness; these pin the properties the oracles can't
state — above all that the BANDED plans find exactly the pairs the
quadratic definition does."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from stockify_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _events_dir(spark, rows):
    """Write a hand-built events table where a registry query expects
    a scale-factor directory."""
    d = tempfile.mkdtemp(prefix="ext10_events_")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


def test_typo_banding_equals_bruteforce(spark):
    """The pigeonhole half-band join must return EXACTLY the pairs an
    all-pairs levenshtein<=1 scan returns (on the real fixed-length
    name corpus, where the equal-length argument is airtight)."""
    banded = {
        (r.name_a, r.name_b)
        for r in QUERIES["join_typo_names"](spark, SF01).collect()
    }
    sup = spark.read.parquet(f"{SF01}/supplier.parquet").select("s_name")
    a = sup.select(F.col("s_name").alias("na"))
    b = sup.select(F.col("s_name").alias("nb"))
    brute = {
        (r.na, r.nb)
        for r in a.crossJoin(b)
        .filter((F.col("na") < F.col("nb")) & (F.levenshtein("na", "nb") <= 1))
        .collect()
    }
    assert banded == brute and len(brute) > 0


def test_cms_never_underestimates_and_conserves_mass(spark):
    """Count-Min hard guarantees: (a) the point estimate min over the
    4 hash rows is >= the true count for EVERY key; (b) each hash row
    partitions the stream, so its cells sum to the total row count."""
    cells = {
        (r.row_idx, r.bucket): r.cell_n
        for r in QUERIES["agg_cms_sketch"](spark, SF).collect()
    }
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    total = orders.count()
    for row_idx in range(4):
        assert sum(v for (r, _), v in cells.items() if r == row_idx) == total
    truth = {
        r.o_custkey: r.n
        for r in orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    probe = orders.select("o_custkey").distinct().select(
        "o_custkey",
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(str(i)), F.lit("|"), F.col("o_custkey").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 64
            ).alias(f"b{i}")
            for i in range(4)
        ],
    )
    for r in probe.collect():
        est = min(cells[(i, r[f"b{i}"])] for i in range(4))
        assert est >= truth[r.o_custkey]


def test_geo_banding_equals_bruteforce(spark):
    """Latitude banding (band width > radius, ±1 neighbor) must not
    lose any pair the exact cross-join haversine filter admits."""
    from stockify_spark.queries.events import _haversine_km, _GEO_R_KM

    got = {
        (r.c_custkey, r.s_suppkey)
        for r in QUERIES["geo_range_join"](spark, SF).collect()
    }
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0).alias("c_lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias("c_lon"),
    )
    sup = spark.read.parquet(f"{SF}/supplier.parquet").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7919) % 18000) / 100.0 - 90.0).alias("s_lat"),
        (((F.col("s_suppkey") * 104729) % 36000) / 100.0 - 180.0).alias("s_lon"),
    )
    dist = _haversine_km(F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon"))
    brute = {
        (r.c_custkey, r.s_suppkey)
        for r in cust.crossJoin(sup).filter(dist <= _GEO_R_KM).collect()
    }
    assert got == brute and len(brute) > 0


def test_seasonal_components_reconstruct(spark):
    """Additive decomposition: rev == trend + seasonal + resid (to
    the published rounding) on every emitted row."""
    rows = QUERIES["window_seasonal"](spark, SF01).collect()
    assert rows
    for r in rows:
        assert abs(r.rev - (r.trend + r.seasonal + r.resid)) < 2e-6


def test_attribution_hand_sequence(spark):
    """view → click → purchase credits 'click'; a purchase with no
    prior non-purchase event lands in '(none)'; later purchases
    re-credit the latest preceding channel, not the first."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t0 + 0 * s, 7, "view", 0.0, ""),
        (2, t0 + 1 * s, 7, "click", 0.0, ""),
        (3, t0 + 2 * s, 7, "purchase", 10.0, ""),
        (4, t0 + 3 * s, 7, "signup", 0.0, ""),
        (5, t0 + 4 * s, 7, "purchase", 5.0, ""),
        (6, t0 + 0 * s, 8, "purchase", 2.0, ""),
    ]
    d = _events_dir(spark, rows)
    got = {
        r.channel: (r.purchases, r.revenue)
        for r in QUERIES["events_attribution"](spark, d).collect()
    }
    assert got == {"click": (1, 10.0), "signup": (1, 5.0), "(none)": (1, 2.0)}


def test_cusum_flags_the_level_shift(spark):
    """A series that jumps from 0 to 10 half-way has max |CUSUM| at
    the last pre-shift row; a constant series scores exactly 0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    shifted = [
        (i, t0 + i * s, 1, "view", 0.0 if i < 5 else 10.0, "") for i in range(10)
    ]
    flat = [(100 + i, t0 + i * s, 2, "view", 3.0, "") for i in range(6)]
    d = _events_dir(spark, shifted + flat)
    got = {r.user_id: (r.cp_score, r.cp_event) for r in QUERIES["window_cusum"](spark, d).collect()}
    # mean is 5; pre-shift rows each add -5, so |CUSUM| peaks at 25
    # on the last pre-shift row (event_id 4)
    assert got[1] == (25.0, 4)
    assert got[2][0] == 0.0


def test_pareto_classes_partition_the_customers(spark):
    rows = QUERIES["orders_pareto"](spark, SF01).collect()
    by_cls = {r.cls: r for r in rows}
    assert set(by_cls) == {"A", "B", "C"}
    n_customers = (
        spark.read.parquet(f"{SF01}/orders.parquet").select("o_custkey").distinct().count()
    )
    assert sum(r.customers for r in rows) == n_customers
    # bands are taken in descending revenue order, so mean revenue
    # per customer must fall monotonically A > B > C (the synthetic
    # revenue is too uniform for the textbook 80/20 head-count skew,
    # so THAT is not asserted)
    avg = {c: by_cls[c].revenue / by_cls[c].customers for c in "ABC"}
    assert avg["A"] > avg["B"] > avg["C"]


def test_rolling_median_matches_pandas(spark):
    """Exact windowed median must equal pandas' rolling(15, min_periods=1)
    median per series (same (a+b)/2 interpolation for even frames; the
    operator rounds to 6dp for the cross-engine hash, so compare at
    that precision)."""
    got = (
        QUERIES["window_rolling_median"](spark, SF)
        .toPandas()
        .set_index("event_id")["med"]
    )
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev["ms"] = ev["ts"].astype("int64")
    ev = ev.sort_values(["user_id", "ms", "event_id"])
    exp = (
        ev.groupby("user_id")["value"]
        .rolling(15, min_periods=1)
        .median()
        .reset_index(drop=True)
    )
    exp.index = ev["event_id"].values
    for eid in ev["event_id"].values:
        assert abs(got[eid] - round(exp[eid], 6)) < 1e-9


def test_ks_disjoint_supports_give_d_of_one(spark):
    """If every click value is below every view value, the ECDF gap
    must reach exactly 1.0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [(i, t0 + i * s, 1, "click", float(i), "") for i in range(10)] + [
        (100 + i, t0 + i * s, 2, "view", 100.0 + i, "") for i in range(10)
    ]
    d = _events_dir(spark, rows)
    (r,) = QUERIES["stats_ks"](spark, d).collect()
    assert r.ks_d == 1.0


def test_phash_separation_and_decode_path(spark):
    """pHash contract on the frozen fixture: brightness variants are
    Hamming-0 THROUGH the real encode→decode round trip, unrelated
    images stay far outside the threshold, and the banded join finds
    exactly the constructed pairs."""
    from stockify_spark.llm.phash import (
        PHASH_THRESHOLD,
        phash_hashes,
        phash_dup_pairs,
        synthetic_phash_media,
    )

    media = synthetic_phash_media(spark, n_base=8)
    hs = {r.media_id: r.phash for r in phash_hashes(media).collect()}
    for i in range(8):
        assert hs[i] == hs[i + 1000]
    base = [hs[i] for i in range(8)]
    for i in range(8):
        for j in range(i + 1, 8):
            assert bin(base[i] ^ base[j]).count("1") > 3 * PHASH_THRESHOLD
    pairs = {(r.id_a, r.id_b) for r in phash_dup_pairs(media).collect()}
    assert pairs == {(i, i + 1000) for i in range(8)}


def test_phash_threshold_needs_enough_bands():
    import pytest

    from stockify_spark.llm.phash import phash_dup_pairs

    with pytest.raises(ValueError):
        phash_dup_pairs(None, threshold=4)


def _table_dir(spark, table, rows, schema):
    """Write a hand-built single-table fixture dir for a registry query."""
    d = tempfile.mkdtemp(prefix=f"ext10_{table}_")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{table}.parquet")
    )
    return d


def test_kcore_converges_and_survivors_keep_degree(spark):
    """The bounded-round contract is only the k-core because the peel
    has CONVERGED by round 10: round 11 must remove nothing, and every
    survivor must keep induced degree >= k within the surviving set."""
    from stockify_spark.queries.graph import _KCORE_K, _KCORE_ROUNDS, _kcore_peel, _kcore_sym_edges

    sym = _kcore_sym_edges(spark, SF01)
    n10 = {r.node for r in _kcore_peel(sym, _KCORE_K, _KCORE_ROUNDS).collect()}
    n11 = {r.node for r in _kcore_peel(sym, _KCORE_K, _KCORE_ROUNDS + 1).collect()}
    assert n10 == n11  # fixpoint reached within the bounded rounds
    assert n10  # non-trivial core at this SF
    deg = {}
    for r in sym.collect():
        if r.a in n10 and r.b in n10:
            deg[r.a] = deg.get(r.a, 0) + 1
    assert set(deg) == n10
    assert min(deg.values()) >= _KCORE_K


def test_psi_is_zero_for_identical_periods(spark):
    """PSI's defining property: a reference and current window with
    identical bucket distributions must score exactly 0 (smoothing
    included, since p and q stay equal term by term)."""
    import datetime as dt

    ref_d, cur_d = dt.datetime(1997, 6, 1), dt.datetime(1998, 6, 1)
    vals = [10_000.0, 70_000.0, 130_000.0, 500_000.0]
    rows = [(v, d) for v in vals for d in (ref_d, cur_d)]
    d = _table_dir(
        spark, "orders", rows, "o_totalprice double, o_orderdate timestamp"
    )
    (r,) = QUERIES["stats_psi"](spark, d).collect()
    assert r.psi == 0.0
    assert r.n_buckets == 4  # buckets 0, 1, 2 and the clamped tail


def test_basket_rules_hand_check(spark):
    """Confidence and lift on a hand-built basket set: parts 1 and 2
    co-occur in 3 of 4 baskets; part 1 appears in all 4, part 2 in 3."""
    rows = [(o, 1) for o in (1, 2, 3, 4)] + [(o, 2) for o in (1, 2, 3)] + [
        (4, 7)  # a pair below min support must NOT surface
    ]
    d = _table_dir(spark, "lineitem", rows, "l_orderkey long, l_partkey long")
    out = QUERIES["basket_rules"](spark, d).collect()
    assert len(out) == 1
    (r,) = out
    assert (r.part_a, r.part_b, r.support) == (1, 2, 3)
    assert r.conf_a_to_b == 0.75  # 3/4
    assert r.conf_b_to_a == 1.0  # 3/3
    assert r.lift == 1.0  # 3*4 / (4*3)


def test_fn_map_ops_hand_check(spark):
    """Map surface on hand-built names: duplicate words dedup before
    map construction, values double, lookup misses are NULL."""
    d = _table_dir(
        spark,
        "part",
        [(1, "green widget widget"), (2, "red bolt")],
        "p_partkey long, p_name string",
    )
    rows = {r.p_partkey: r for r in QUERIES["fn_map_ops"](spark, d).collect()}
    r1, r2 = rows[1], rows[2]
    assert (r1.n_keys, r1.keys_sorted) == (2, "green|widget")
    assert r1.vals_sum_doubled == (5 + 6) * 2
    assert r1.widget_len == 6
    assert (r2.n_keys, r2.keys_sorted) == (2, "bolt|red")
    assert r2.vals_sum_doubled == (3 + 4) * 2
    assert r2.widget_len is None


def test_fn_lambda_edge_semantics(spark):
    """The fold must mirror DuckDB list_sum on edge inputs: empty
    array -> NULL (not the 0.0 seed), NULL elements skipped (not
    poisoning the sum)."""
    d = _table_dir(
        spark,
        "embeddings",
        [(1, [3.0, None, 4.0]), (2, [])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in QUERIES["fn_lambda"](spark, d).collect()}
    assert rows[1].l2 == 5.0  # NULL element skipped: sqrt(9+16)
    assert rows[1].n_pos == 2
    assert rows[2].l2 is None and rows[2].clipped_sum is None
    assert rows[2].n_pos == 0
    assert rows[2].vmax is None and rows[2].vmin is None


def test_interpolation_hand_values(spark):
    """Known bracket: observations 10.0 on day 0 and 40.0 on day 3
    must interpolate 20.0 and 30.0 on the two missing days; observed
    days pass through unchanged."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12)
    day = dt.timedelta(days=1)
    rows = [
        (1, t0, 5, "view", 10.0, ""),
        (2, t0 + 3 * day, 5, "view", 40.0, ""),
    ]
    d = _events_dir(spark, rows)
    got = {
        (r.day, r.kind): r.value_li
        for r in QUERIES["window_interpolate"](spark, d).collect()
    }
    assert got == {
        ("2024-01-01", "obs"): 10.0,
        ("2024-01-02", "interp"): 20.0,
        ("2024-01-03", "interp"): 30.0,
        ("2024-01-04", "obs"): 40.0,
    }


def test_mad_outlier_robust_to_the_outlier_itself(spark):
    """The defining property: one extreme value must NOT mask itself.
    A 19-point tight cluster plus one huge spike — median/MAD flags
    the spike; the spike's own presence barely moves the scale."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [(i, t0 + i * s, 3, "view", 100.0 + (i % 5) * 0.5, "") for i in range(19)]
    rows.append((99, t0 + 99 * s, 3, "view", 10_000.0, ""))
    d = _events_dir(spark, rows)
    got = {r.event_id: r for r in QUERIES["events_anomaly_mad"](spark, d).collect()}
    assert got[99].is_outlier is True
    assert all(got[i].is_outlier is False for i in range(19))
    # constant-series user: MAD = 0 -> NULL score and flag, not a crash
    rows2 = [(i, t0 + i * s, 4, "view", 7.0, "") for i in range(6)]
    d2 = _events_dir(spark, rows2)
    out = QUERIES["events_anomaly_mad"](spark, d2).collect()
    assert all(r.score is None and r.is_outlier is None for r in out)
