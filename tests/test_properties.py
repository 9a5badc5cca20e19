"""Property-based tests (SURVEY §5.3): invariants over generated
literals/window sizes rather than hand-picked constants. Examples are
deliberately few (Spark jobs per example are not free); each property
is also covered at fixed literals elsewhere in the suite."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stockify_spark.operators import compare, filter_rows, moving_average, rolling_max, rolling_min
from stockify_spark.sources.fixtures import stocks_rand

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def stocks(spark):
    df = stocks_rand(spark, n=2000).cache()
    df.count()
    yield df
    df.unpersist()


@given(lit=st.floats(min_value=90, max_value=210))
@settings(**SETTINGS)
def test_filter_complement_partitions_table(stocks, lit):
    """|close >= x| + |close < x| == |table| for any literal,
    including ones outside the data range (all / none selected)."""
    n = stocks.count()
    ge = filter_rows(stocks, compare("close", "ge", lit)).count()
    lt = filter_rows(stocks, compare("close", "lt", lit)).count()
    assert ge + lt == n


@given(lit=st.floats(min_value=100, max_value=199))
@settings(**SETTINGS)
def test_filter_agrees_with_selection_vector(stocks, lit):
    from stockify_spark.operators import selection_vector

    pred = compare("volume", "ge", lit)
    compacted = stocks.filter(pred).count()
    flagged = selection_vector(stocks, pred).filter(F.col("flag")).count()
    assert compacted == flagged


@given(w=st.integers(min_value=1, max_value=40))
@settings(**SETTINGS)
def test_rolling_bounds_hold_for_any_window_size(stocks, w):
    """min <= avg <= max per row, for arbitrary frame sizes."""
    df = moving_average(stocks, "close", order_by=["row_id"], window_size=w)
    df = rolling_min(df, "close", order_by=["row_id"], window_size=w)
    df = rolling_max(df, "close", order_by=["row_id"], window_size=w)
    bad = df.filter(
        (F.col("rolling_min") > F.col("moving_avg") + 1e-9)
        | (F.col("moving_avg") > F.col("rolling_max") + 1e-9)
    ).count()
    assert bad == 0


@given(w=st.integers(min_value=1, max_value=40))
@settings(**SETTINGS)
def test_extrema_of_rolling_extrema_are_global(stocks, w):
    """The reference's identity (stockify.cu:582-590), as a property:
    min(rolling_min) == global min and max(rolling_max) == global max
    for every window size."""
    lo = rolling_min(stocks, "low", order_by=["row_id"], window_size=w)
    hi = rolling_max(stocks, "high", order_by=["row_id"], window_size=w)
    assert lo.agg(F.min("rolling_min")).collect()[0][0] == stocks.agg(F.min("low")).collect()[0][0]
    assert hi.agg(F.max("rolling_max")).collect()[0][0] == stocks.agg(F.max("high")).collect()[0][0]


@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_property(h, w, ch, seed):
    """Any 8-bit image round-trips bit-exactly through the stdlib
    PNG codec."""
    import numpy as np

    from stockify_spark.llm.png import decode_png, encode_png

    rng = np.random.RandomState(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    pix = rng.randint(0, 256, size=shape).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(pix)), pix)


@given(
    n=st.integers(min_value=1, max_value=2000),
    ch=st.sampled_from([1, 2]),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_wav_roundtrip_property(n, ch, rate, seed):
    """Any int16 PCM clip round-trips bit-exactly through the stdlib
    WAV codec, including odd-length data chunks (word alignment)."""
    import numpy as np

    from stockify_spark.llm.wav import decode_wav, encode_wav

    rng = np.random.RandomState(seed)
    shape = (n,) if ch == 1 else (n, ch)
    samples = rng.randint(-32768, 32768, size=shape).astype(np.int16)
    got, got_rate = decode_wav(encode_wav(samples, sample_rate=rate))
    assert got_rate == rate
    assert np.array_equal(got, samples)


@given(
    n=st.integers(min_value=1, max_value=8),
    h=st.sampled_from([2, 4, 6, 48]),
    w=st.sampled_from([2, 8, 64]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_y4m_roundtrip_property(n, h, w, seed):
    """Any C420 clip round-trips bit-exactly, and indexed access
    returns exactly the frames a full decode returns."""
    import numpy as np

    from stockify_spark.llm.y4m import decode_y4m, encode_y4m, frame_count

    rng = np.random.RandomState(seed)
    frames = rng.randint(0, 256, size=(n, h, w)).astype(np.uint8)
    data = encode_y4m(frames, fps=(30, 1))
    got, fps = decode_y4m(data)
    assert fps == (30, 1) and np.array_equal(got, frames)
    assert frame_count(data) == n
    idx = rng.randint(0, n)
    one, _ = decode_y4m(data, frame_indices=[int(idx)])
    assert np.array_equal(one[0], frames[idx])


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    w=st.integers(min_value=8, max_value=40),
    h=st.integers(min_value=8, max_value=40),
    sub=st.sampled_from(["420", "422", "444"]),
    gray=st.booleans(),
)
@settings(max_examples=12, deadline=None)
def test_progressive_jpeg_bit_identical_to_baseline(seed, w, h, sub, gray):
    """The defining invariant of progressive JPEG: it transmits the
    SAME quantized coefficients as the baseline stream, reordered —
    so after all passes the decodes must be bit-identical, for any
    image content, any subsampling, any (dummy-block) dimensions.
    Pure-numpy property: no Spark job per example."""
    import numpy as np

    from stockify_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w) if gray else (h, w, 3)).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, subsample=sub) if not gray else encode_jpeg(img))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, subsample=sub) if not gray else encode_jpeg_progressive(img)
    )
    assert np.array_equal(base, prog)


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=8, max_value=32),
    h=st.integers(min_value=8, max_value=32),
)
@settings(max_examples=10, deadline=None)
def test_container_roundtrip_avi_mp4_agree(seed, n, w, h):
    """Both compressed containers wrap the identical per-frame JPEG
    codec, so for ANY frame content the decoded clips must be
    byte-equal to each other and metadata must match the encode
    parameters. Pure-numpy property."""
    import numpy as np

    from stockify_spark.llm.avi import avi_info, decode_avi_mjpeg, encode_avi_mjpeg
    from stockify_spark.llm.mp4 import decode_mp4_mjpeg, encode_mp4_mjpeg, mp4_info

    rng = np.random.RandomState(seed)
    frames = rng.randint(0, 256, size=(n, h, w)).astype(np.uint8)
    avi = encode_avi_mjpeg(frames, fps=(10, 1))
    mp4 = encode_mp4_mjpeg(frames, fps=(10, 1))
    assert avi_info(avi) == (w, h, (10, 1), n)
    assert mp4_info(mp4) == (w, h, (10, 1), n)
    a, _ = decode_avi_mjpeg(avi)
    b, _ = decode_mp4_mjpeg(mp4)
    assert np.array_equal(a, b)
    # indexed access agrees with the full decode on both containers
    idx = [int(rng.randint(n))]
    sa, _ = decode_avi_mjpeg(avi, frame_indices=idx)
    sb, _ = decode_mp4_mjpeg(mp4, frame_indices=idx)
    assert np.array_equal(sa, a[idx]) and np.array_equal(sb, b[idx])


@given(
    bits=st.lists(st.integers(min_value=1, max_value=14), min_size=1, max_size=40),
    sr_idx=st.integers(min_value=0, max_value=2),
)
@settings(max_examples=20, deadline=None)
def test_mp3_frame_walk_matches_encode_spec(bits, sr_idx):
    """For ANY bitrate-index sequence the header walk must recover
    the frame count, sample rate, exact duration, integer mean
    bitrate, and VBR flag from headers alone."""
    from stockify_spark.llm.mp3 import (
        BITRATES_KBPS,
        SAMPLE_RATES,
        encode_mp3_frames,
        mp3_info,
    )

    data = encode_mp3_frames(bits, sr_idx=sr_idx)
    n, sr, dur, mean, vbr = mp3_info(data)
    kbps = [BITRATES_KBPS[b] for b in bits]
    assert n == len(bits)
    assert sr == SAMPLE_RATES[sr_idx]
    assert dur == len(bits) * 1152 * 1000 // sr
    assert mean == sum(kbps) // len(kbps)
    assert vbr == (len(set(kbps)) > 1)


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=10, deadline=None)
def test_parsers_fail_cleanly_on_malformed_input(seed):
    """The fuzz contract shared by every parser in llm/ (llm/bits.py):
    truncated or bit-flipped input raises ValueError or
    NotImplementedError — never a raw IndexError/struct.error/
    ZeroDivisionError/etc. (a corpus at scale WILL contain corrupt
    files, and a mapInPandas task must be able to catch a typed error
    per row instead of crashing the stage on an implementation
    detail)."""
    import gzip

    import numpy as np

    from stockify_spark.llm.adpcm import decode_ima, encode_ima
    from stockify_spark.llm.avi import avi_info, encode_avi_mjpeg
    from stockify_spark.llm.deflate import gunzip
    from stockify_spark.llm.flac import decode_flac, encode_flac
    from stockify_spark.llm.gif import decode_gif, encode_gif
    from stockify_spark.llm.h264 import (
        decode_h264_ipcm,
        encode_h264_annexb,
        encode_h264_ipcm,
        h264_probe,
    )
    from stockify_spark.llm.jpeg import decode_jpeg, encode_jpeg_progressive
    from stockify_spark.llm.mp3 import decode_mp3, encode_mp3_frames, encode_mp3_silence, mp3_info
    from stockify_spark.llm.mp4 import encode_mp4_mjpeg, mp4_info
    from stockify_spark.llm.png import decode_png, encode_png
    from stockify_spark.llm.wav import decode_wav, encode_wav
    from stockify_spark.llm.y4m import decode_y4m, encode_y4m

    rng = np.random.RandomState(seed)
    frames = rng.randint(0, 256, size=(2, 16, 16)).astype(np.uint8)
    img = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    audio = [int(v) for v in rng.randint(-3000, 3000, size=300)]
    cases = [
        (encode_avi_mjpeg(frames), avi_info),
        (encode_mp4_mjpeg(frames), mp4_info),
        (encode_mp3_frames([5, 9, 12]), mp3_info),
        (encode_mp3_silence([5, 9]), decode_mp3),
        (encode_png(img), decode_png),
        (encode_jpeg_progressive(img), decode_jpeg),
        (encode_flac(audio), decode_flac),
        (encode_h264_ipcm(16, 16, 10, 100, 200), decode_h264_ipcm),
        (encode_h264_annexb(34, 18, 1, 2), h264_probe),
        (encode_gif([bytes(f.reshape(-1)) for f in frames], 16, 16), decode_gif),
        (gzip.compress(bytes(frames.reshape(-1)), mtime=0), gunzip),
        (encode_wav(np.array(audio, dtype=np.int16)), decode_wav),
        (encode_y4m(frames), decode_y4m),
        (encode_ima(audio), decode_ima),
    ]
    for data, probe in cases:
        cut = int(rng.randint(len(data)))
        try:
            probe(data[:cut])
        except (ValueError, NotImplementedError):
            pass
        for _ in range(20):
            mut = bytearray(data)
            mut[int(rng.randint(len(mut)))] ^= int(rng.randint(1, 256))
            try:
                probe(bytes(mut))
            except (ValueError, NotImplementedError):
                pass


# --- wave-2 operator invariants (round 6) ----------------------------------

@given(seed=st.integers(min_value=0, max_value=10_000), p=st.floats(min_value=0.05, max_value=0.5))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_triangles_match_brute_force_property(spark, seed, p):
    """Degree-oriented enumeration equals the O(n³) definition on
    arbitrary random graphs — any edge density, any degree profile."""
    import itertools
    import numpy as np

    from stockify_spark.operators.graph import triangles

    rng = np.random.RandomState(seed)
    n = 14
    edge_set = {
        (a, b) for a in range(n) for b in range(a + 1, n) if rng.rand() < p
    }
    expected = sorted(
        (a, b, c)
        for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in edge_set and (b, c) in edge_set and (a, c) in edge_set
    )
    if not edge_set:
        return
    edges = spark.createDataFrame(sorted(edge_set), "a long, b long")
    got = sorted((r["x1"], r["x2"], r["x3"]) for r in triangles(edges).collect())
    assert got == expected


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tree_depth_random_forest_matches_walk(spark, seed):
    """Pointer doubling equals the sequential parent walk on random
    recursive trees (every node's parent has a smaller id)."""
    import numpy as np

    from stockify_spark.operators.graph import tree_depth

    rng = np.random.RandomState(seed)
    n = 40
    parent = {k: int(rng.randint(0, k)) for k in range(1, n)}
    depth = {0: 0}
    for k in range(1, n):
        depth[k] = depth[parent[k]] + 1
    edges = spark.createDataFrame(sorted(parent.items()), "node long, parent long")
    got = {r["node"]: r["depth"] for r in tree_depth(edges, root=0).collect()}
    assert got == depth


@given(gap_s=st.integers(min_value=60, max_value=7200))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sessionize_partitions_events_and_respects_gap(spark, tmp_path_factory, gap_s):
    """For any event spacing: sessions partition a user's events
    (counts sum to total), session_seq is 1..k dense, and the
    recomputed gaps honor the 30-min rule."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    t = 0
    for eid in range(12):
        rows.append((eid, base + datetime.timedelta(seconds=t), 1, "c", 1.0, "{}"))
        t += gap_s
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path_factory.mktemp("sess") / "sf")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    from stockify_spark.registry import QUERIES

    out = QUERIES["events_sessionize"](spark, d).collect()
    assert sum(r["n_events"] for r in out) == 12
    seqs = sorted(r["session_seq"] for r in out)
    assert seqs == list(range(1, len(out) + 1))
    if gap_s > 1800:
        assert len(out) == 12  # every event its own session
    else:
        assert len(out) == 1


# --- round-6 session-2 operators -------------------------------------------


def _serial_bpe(word_counts: dict[str, int], steps: int):
    """Reference serial BPE (Sennrich): list-of-symbols per word,
    left-to-right non-overlapping merge application."""
    words = {w: (list(w), c) for w, c in word_counts.items()}
    merges = []
    for step in range(1, steps + 1):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (l, r), cnt = best
        merges.append((step, l, r, cnt))
        for w, (syms, c) in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, c)
    return merges


@given(
    data=st.dictionaries(
        st.text(alphabet="ab", min_size=2, max_size=6),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_learn_matches_serial_reference(spark, data):
    """Distributed BPE (wrapped-symbol literal replace) must equal the
    serial list-of-symbols algorithm on adversarial tiny vocabularies —
    including overlap-heavy words like 'aaaa' where left-to-right
    non-overlapping application is what distinguishes correct BPE."""
    from stockify_spark.functions.bpe import bpe_learn

    words = spark.createDataFrame(
        [(w, c) for w, c in data.items()], "word string, cnt long"
    )
    got = [
        (r.step, r.lhs, r.rhs, r.pair_cnt)
        for r in sorted(bpe_learn(spark, words, steps=3).collect(), key=lambda r: r.step)
    ]
    assert got == _serial_bpe(data, 3)


@given(
    vals=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
    ),
    kfrac=st.floats(min_value=0.0, max_value=1.0),
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_kth_smallest_on_random_multisets(spark, vals, kfrac):
    """Bucket selection must agree with a plain sort on random data
    with heavy duplicates (ties straddling bucket logic)."""
    from stockify_spark.operators.sorts import exact_kth_smallest

    k = max(1, min(len(vals), int(round(kfrac * len(vals))) or 1))
    df = spark.createDataFrame([(float(v),) for v in vals], "x double").repartition(4)
    # rank_threshold=2 forces multi-level recursion on nearly every
    # input; duplicate-heavy draws exercise the min==max short-circuit
    row = exact_kth_smallest(df, "x", k=k, n_buckets=7, rank_threshold=2).collect()[0]
    assert row.kth_value == sorted(vals)[k - 1]


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_heavy_hitters_random_zipf(spark, seed):
    """MG-pruned exact heavy hitters == plain groupBy threshold on
    Zipf-ish random tokens, any partitioning."""
    import random

    from stockify_spark.operators.aggregates import exact_heavy_hitters

    rng = random.Random(seed)
    toks = [f"w{min(int(rng.paretovariate(1.2)), 30)}" for _ in range(800)]
    df = spark.createDataFrame([(t,) for t in toks], "tok string").repartition(8)
    got = {(r.word, r.cnt) for r in exact_heavy_hitters(df, "tok", phi=0.05).collect()}
    from collections import Counter

    c = Counter(toks)
    want = {(w, n) for w, n in c.items() if n >= 0.05 * len(toks)}
    assert got == want


@given(
    seed=st.integers(min_value=0, max_value=10**6),
    thr=st.sampled_from([0.3, 0.5, 0.7]),
)
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzzy_set_join_random_sets(spark, seed, thr):
    """R-S prefix-filter join recall/precision == brute force on random
    small token sets across threshold settings."""
    import random

    from stockify_spark.llm.dedup import fuzzy_set_join

    rng = random.Random(seed)
    univ = [f"t{i}" for i in range(12)]

    def mk(n, side):
        return [
            (side * 1000 + i, sorted(rng.sample(univ, rng.randint(1, 6))))
            for i in range(n)
        ]

    L = spark.createDataFrame(mk(15, 1), "id long, toks array<string>")
    R = spark.createDataFrame(mk(15, 2), "id long, toks array<string>")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_set_join(L, R, "id", "toks", threshold=thr).collect()
    }
    lv = {r.id: set(r.toks) for r in L.collect()}
    rv = {r.id: set(r.toks) for r in R.collect()}
    want = {
        (a, b)
        for a, sa in lv.items()
        for b, sb in rv.items()
        if len(sa & sb) / len(sa | sb) >= thr
    }
    assert got == want


def _serial_kmeans(vecs: dict[int, list[float]], k: int, updates: int):
    """Independent serial Lloyd's matching the distributed spec:
    seeds = first-k by id, sequential-fold sqrt distances, ties to
    lowest cluster, ROUND(6) means at each boundary."""
    import math

    def dist(a, c):
        acc = 0.0
        for x, y in zip(a, c):
            acc += (x - y) * (x - y)
        return math.sqrt(acc)

    cents = sorted((i, list(v)) for i, v in vecs.items() if i < k)

    def assign():
        out = {}
        for i, v in vecs.items():
            best = min(cents, key=lambda cv: (dist(v, cv[1]), cv[0]))
            out[i] = best[0]
        return out

    for _ in range(updates):
        a = assign()
        by_c: dict[int, list[list[float]]] = {}
        for i, c in a.items():
            by_c.setdefault(c, []).append(vecs[i])
        cents = sorted(
            (
                c,
                [
                    round(sum(v[d] for v in pts) / len(pts), 6)
                    for d in range(len(pts[0]))
                ],
            )
            for c, pts in by_c.items()
        )
    return assign()


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kmeans_matches_serial_reference(spark, seed):
    """Distributed k-means == serial Lloyd's on random low-dim sets
    with duplicate points (distance ties stress the cluster-id
    tie-break)."""
    import random

    from stockify_spark.llm.clustering import kmeans_assign

    rng = random.Random(seed)
    n, d, k = 40, 3, 4
    # integer-grid coordinates force exact distances and real ties
    vecs = {i: [float(rng.randint(0, 4)) for _ in range(d)] for i in range(n)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.cluster for r in kmeans_assign(df, k=k, updates=2).collect()}
    want = _serial_kmeans(vecs, k, 2)
    assert got == want


def _serial_bpe_batched(word_counts: dict[str, int], rounds: int, batch: int):
    """Reference implementation of the BATCHED merge-selection spec
    (functions/bpe.bpe_learn_batched docstring): per round rank pairs
    by (count desc, l, r), keep rank r among the top ``batch`` iff it
    shares no symbol with any higher-ranked top-``batch`` pair, apply
    the selected merges left-to-right-non-overlapping in rank order."""
    words = {w: (list(w), c) for w, c in word_counts.items()}

    def apply(l, r):
        for w, (syms, c) in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, c)

    result = []
    for rnd in range(1, rounds + 1):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:batch]
        for rn, ((l, r), cnt) in enumerate(top, start=1):
            higher = [p for p, _ in top[: rn - 1]]
            if any(l in p or r in p for p in higher):
                continue
            result.append((rnd, rn, l, r, cnt))
            apply(l, r)
    return result


@given(
    data=st.dictionaries(
        st.text(alphabet="abc", min_size=2, max_size=6),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_batched_batch1_degenerates_to_serial(spark, data):
    """batch=1 selects exactly the per-round argmax — the batched
    schedule must then equal serial BPE merge-for-merge (the
    equivalence leg of the equivalence-or-documented-divergence
    contract)."""
    from stockify_spark.functions.bpe import bpe_learn_batched

    words = spark.createDataFrame(
        [(w, c) for w, c in data.items()], "word string, cnt long"
    )
    got = [
        (r["round"], r.lhs, r.rhs, r.pair_cnt)
        for r in sorted(
            bpe_learn_batched(spark, words, rounds=3, batch=1).collect(),
            key=lambda r: r["round"],
        )
    ]
    want = [(s, l, r, c) for (s, l, r, c) in _serial_bpe(data, 3)]
    assert got == want


@given(
    data=st.dictionaries(
        st.text(alphabet="abcd", min_size=2, max_size=7),
        st.integers(min_value=1, max_value=9),
        min_size=2,
        max_size=10,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_batched_matches_batched_reference(spark, data):
    """The distributed batched trainer must equal the serial
    reference implementation of the SAME batched spec on adversarial
    tiny vocabularies (interacting pairs, overlap-heavy words)."""
    from stockify_spark.functions.bpe import bpe_learn_batched

    words = spark.createDataFrame(
        [(w, c) for w, c in data.items()], "word string, cnt long"
    )
    got = [
        (r["round"], r.rn, r.lhs, r.rhs, r.pair_cnt)
        for r in sorted(
            bpe_learn_batched(spark, words, rounds=2, batch=4).collect(),
            key=lambda r: (r["round"], r.rn),
        )
    ]
    assert got == _serial_bpe_batched(data, 2, 4)


def test_bpe_batched_fewer_driver_round_trips_english(spark):
    """At equal learned-vocabulary size the batched trainer needs
    fewer pair-count/collect round-trips than serial (one per merge).
    English text in the LETTER-BOOTSTRAP phase is the worst case for
    the independent-set rule — the 26-letter alphabet caps disjoint
    pairs at 13 and common letters (e, r, i, n...) sit in most top
    pairs — so the bound here is the modest >=3x; the >=10x scale
    regime is pinned by the diverse-alphabet test below."""
    from stockify_spark.functions.bpe import bpe_learn_batched, word_frequencies
    from stockify_spark.sources.io import load_table

    words = word_frequencies(load_table(spark, "/root/testdata/sf0.001", "documents"))
    rounds = 3
    learned = bpe_learn_batched(spark, words, rounds=rounds, batch=16).collect()
    # serial would need len(learned) round-trips for the same merges
    assert len(learned) >= 3 * rounds


def test_bpe_batched_10x_fewer_jobs_on_diverse_symbols(spark):
    """The >=10x jobs claim, in the regime a long training run spends
    nearly all its time in: once the symbol alphabet outgrows the
    26-letter bootstrap (merged symbols join the alphabet), top pairs
    are mostly symbol-disjoint and each round commits a large batch.
    A 60-symbol alphabet of disjoint digraph words: one round-trip
    learns 25 merges where serial pays 25."""
    from stockify_spark.functions.bpe import bpe_learn_batched

    # 60 distinct unicode letters -> 30 fully-disjoint digraphs
    alphabet = [chr(0x3B1 + i) for i in range(25)] + [chr(0x430 + i) for i in range(35)]
    rows = [
        (alphabet[2 * i] + alphabet[2 * i + 1], 1000 - i) for i in range(30)
    ]
    words = spark.createDataFrame(rows, "word string, cnt long")
    learned = bpe_learn_batched(spark, words, rounds=1, batch=25).collect()
    assert len(learned) == 25  # 25 merges, ONE pair-count round-trip
    # and they are exactly the 25 most frequent digraphs, in order
    got = [(r.lhs, r.rhs) for r in sorted(learned, key=lambda r: r.rn)]
    want = [(alphabet[2 * i], alphabet[2 * i + 1]) for i in range(25)]
    assert got == want


@given(
    st.lists(st.integers(min_value=1, max_value=14), min_size=1, max_size=6),
    st.integers(min_value=0, max_value=2),
    st.randoms(use_true_random=False),
)
@settings(max_examples=30, deadline=None)
def test_mp3_silence_decode_roundtrip_property(bits, sr_idx, rng):
    """r9: for ANY bitrate sequence, sample rate, and per-granule
    gain/count1 assignment, the silence stream decodes with the exact
    closed-form side digest and all-zero PCM of the right length."""
    from stockify_spark.llm.mp3 import decode_mp3, encode_mp3_silence

    gains = {}
    sels = {}

    def gain_fn(j, g, c):
        return gains.setdefault((j, g, c), rng.randrange(256))

    def count1_fn(j, g, c):
        return sels.setdefault((j, g, c), rng.randrange(2))

    data = encode_mp3_silence(bits, sr_idx=sr_idx,
                              gain_fn=gain_fn, count1_fn=count1_fn)
    out = decode_mp3(data)
    assert out["n_frames"] == len(bits)
    assert len(out["samples"]) == len(bits) * 1152
    assert not any(out["samples"])
    expect = sum(
        gains[(j, g, c)] * (1 + 2 * g + c) + sels[(j, g, c)]
        for j in range(len(bits)) for g in range(2) for c in range(2)
    )
    assert out["side_digest"] == expect


@given(st.lists(st.integers(min_value=0, max_value=3), min_size=2, max_size=5),
       st.integers(min_value=2, max_value=11))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_mv_equals_recompute_under_random_histories(
    spark, tmp_path_factory, ops, mod
):
    """r9: for ANY sequence of append / COW delete / MOR delete /
    restore commits, the change-feed-maintained COUNT/SUM view equals
    a fresh recompute at head."""
    from pyspark.sql import functions as F

    from stockify_spark.sources import txlog

    path = str(tmp_path_factory.mktemp("mvp") / "t")
    df = spark.range(120).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 7).cast("long").alias("v"),
        F.col("id").alias("rid"),
    )
    txlog.create(df.filter(F.col("rid") < 60).repartition(2), path)
    next_rid = 60
    for op in ops:
        if op == 0 and next_rid < 120:  # append a fresh slice
            txlog.append(
                df.filter((F.col("rid") >= next_rid) & (F.col("rid") < next_rid + 20)),
                path,
            )
            next_rid += 20
        elif op == 1:
            if txlog._replay(path).dvs:
                txlog.materialize_dvs(spark, path)
            txlog.delete_where(spark, path, F.col("rid") % mod == 0)
        elif op == 2:
            txlog.delete_where_dv(spark, path, F.col("rid") % mod == 1)
        else:  # restore to the middle of history
            txlog.restore(path, txlog.current_version(path) // 2)
    head = txlog.current_version(path)
    mv = txlog.incremental_mv(spark, path, ["k"], "v", 0, head)
    fresh = txlog.snapshot(spark, path).groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("total"),
    )
    assert sorted(map(tuple, mv.collect())) == sorted(map(tuple, fresh.collect()))


@given(st.integers(min_value=0, max_value=2**31), st.integers(min_value=2, max_value=6))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_countmin_one_sided_error_property(spark, seed, d):
    """Count-Min never underestimates, for any seed-shifted key
    distribution and any number of hash rows."""
    from pyspark.sql import functions as F

    n_keys, w = 40, 32
    df = spark.range(600).select(
        ((F.col("id") * F.lit(seed % 97 + 3)) % n_keys).alias("key")
    )
    rows_ = spark.range(d).select(F.col("id").cast("int").alias("r"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.col("r"), F.col("key"))), 1, 8), 16, 10)
        .cast("long") % w
    )
    cells = (
        df.crossJoin(F.broadcast(rows_))
        .select("r", bucket.alias("b"))
        .groupBy("r", "b").agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe = spark.range(n_keys).select(F.col("id").alias("key"))
    exact = df.groupBy("key").agg(F.count(F.lit(1)).alias("exact"))
    pc = probe.crossJoin(F.broadcast(rows_)).select(
        "key", "r",
        (F.conv(F.substring(F.md5(F.concat_ws("|", F.col("r"), F.col("key"))), 1, 8), 16, 10)
         .cast("long") % w).alias("b"),
    )
    est = (
        pc.join(F.broadcast(cells), ["r", "b"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
    joined = est.join(exact, "key", "left").select(
        "key", "est", F.coalesce("exact", F.lit(0)).alias("exact")
    ).collect()
    assert joined and all(r.est >= r.exact for r in joined)


# --- local-solve / distributed parity properties (round 11) ----------------
# The fixed-input parity tests live in test_local_fold_parity.py; these
# fuzz the INPUT SHAPE: random digraphs for the pagerank fold, random
# word tables (with tie-heavy counts) for the BPE fold. 5 examples each
# — every example runs two full operators.

_PARITY_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(**_PARITY_SETTINGS)
def test_pagerank_local_fold_parity_random_digraph(spark, seed):
    import numpy as np

    from stockify_spark.operators.graph import pagerank

    rng = np.random.RandomState(seed)
    n = int(rng.randint(3, 12))
    density = rng.rand() * 0.6 + 0.2
    edges = [
        (i, j, float(rng.randint(1, 5)))
        for i in range(n)
        for j in range(n)
        if rng.rand() < density
    ]
    if not edges:
        edges = [(0, 1, 1.0)]
    df = spark.createDataFrame(edges, "src int, dst int, w double")
    loc = {r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()}
    dist = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=5, local_edge_limit=0).collect()
    }
    assert set(loc) == set(dist)
    for node, rank in loc.items():
        assert rank == pytest.approx(dist[node], abs=1e-12)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(**_PARITY_SETTINGS)
def test_bpe_batched_local_fold_parity_random_words(spark, seed):
    import numpy as np

    from stockify_spark.functions.bpe import bpe_learn_batched

    rng = np.random.RandomState(seed)
    alphabet = "abcd"  # tiny alphabet → heavy pair-count ties
    words = [
        (
            "".join(alphabet[k] for k in rng.randint(0, len(alphabet), size=rng.randint(2, 9))),
            int(rng.randint(1, 6)),
        )
        for _ in range(rng.randint(3, 25))
    ]
    df = spark.createDataFrame(words, "word string, cnt long")
    loc = [tuple(r) for r in bpe_learn_batched(spark, df, rounds=2, batch=3).collect()]
    dist = [
        tuple(r)
        for r in bpe_learn_batched(
            spark, df, rounds=2, batch=3, local_vocab_limit=0
        ).collect()
    ]
    assert loc == dist
