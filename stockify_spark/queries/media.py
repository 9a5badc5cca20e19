"""Media decode queries: images, audio and video codecs and containers,
each checked against an oracle that rebuilds the expected frames or
samples.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F, types as T

from stockify_spark.registry import ORACLE, register


@register(
    "media_features",
    # The synthetic_media fixture is deterministic (id 0..95, kind
    # cycles image/audio/video), so the full expected row set is pure
    # SQL: the oracle checks the mapInPandas plumbing emits exactly
    # one feature row per media row with ids and kinds intact.
    "SELECT r AS media_id,"
    " CASE CAST(r % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
    " ELSE 'video' END AS kind"
    " FROM range(96) t(r)",
)
def media_features(spark, sf_dir):
    """Multimodal decode+featurize plumbing over mapInPandas (decode
    stubbed — no codecs in this container; Arrow batch shape is
    real)."""
    from stockify_spark.llm.multimodal import extract_features, synthetic_media

    return extract_features(synthetic_media(spark, n=96)).select("media_id", "kind")


@register(
    "media_frame_plan",
    # Exact row-set oracle: video rows are id ≡ 2 (mod 3) with
    # duration_ms = 1000 + id, and the sample grid is every 250 ms.
    # Spark's sequence(0, duration-1, 250) is inclusive-end; DuckDB's
    # range(0, duration, 250) is exclusive-end — identical grids.
    "SELECT media_id, unnest(range(0, 1000 + media_id, 250)) AS frame_ts_ms"
    " FROM (SELECT 3 * r + 2 AS media_id FROM range(32) t(r))",
)
def media_frame_plan(spark, sf_dir):
    from stockify_spark.llm.multimodal import frame_sample_plan, synthetic_media

    return frame_sample_plan(synthetic_media(spark, n=96), every_ms=250)


@register(
    "media_decode_real",
    # Tolerance-of-truth oracle (the agg_approx_distinct pattern):
    # Spark decodes every payload for REAL and compares the features
    # against the pattern-derived expectations (computed pre-encode,
    # codecs not involved — multimodal.expected_media_features), so
    # the booleans assert the encode→decode round trip: exact for
    # the lossless containers, within a measured 0.02 (tol 0.05) for
    # the lossy baseline JPEG. The oracle states every row must pass.
    "SELECT r AS media_id,"
    " CASE CAST(r % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
    " ELSE 'video' END AS kind,"
    " TRUE AS f0_ok, TRUE AS f3_ok"
    " FROM range(96) t(r)",
)
def media_decode_real(spark, sf_dir):
    """REAL decode path (no stub) for ALL THREE modalities: PNG and
    baseline JPEG (llm/png.py, llm/jpeg.py), PCM WAV (llm/wav.py),
    and Y4M video (llm/y4m.py) decode inside mapInPandas; features
    derive from actual pixels/samples/frames and are driver-checked
    against the pre-encode pattern spec (exact for lossless formats,
    |err| < 0.05 for JPEG whose measured max is 0.0184). Unsupported
    compressed containers would raise explicitly — filter-BEFORE-
    decode keeps undecodable payloads from ever deserializing."""
    from stockify_spark.llm.multimodal import (
        expected_media_features,
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=96)
    feats = extract_features(media, decode_stub=False)
    exp = spark.createDataFrame(
        expected_media_features(96), "media_id long, e0 double, e3 double"
    )
    is_jpeg = (F.col("media_id") % 3 == 0) & (F.floor(F.col("media_id") / 3) % 2 == 1)
    tol = F.when(is_jpeg, F.lit(0.05)).otherwise(F.lit(1e-9))
    return feats.join(F.broadcast(exp), "media_id").select(
        "media_id",
        "kind",
        (F.abs(F.element_at("feature", 1).cast("double") - F.col("e0")) <= tol).alias("f0_ok"),
        (F.abs(F.element_at("feature", 4).cast("double") - F.col("e3")) <= tol).alias("f3_ok"),
    )


def _video_pattern_constants(n: int = 96, seed: int = 42) -> str:
    """VALUES rows (media_id, ofs, speed, duration_ms, n_frames) for
    the synthetic video clips — the blake2b pattern offset is the only
    non-SQL ingredient of the fixture, so it is embedded as a literal
    and everything downstream of it stays declarative SQL."""
    import hashlib

    rows = []
    for i in range(2, n, 3):
        ofs = int.from_bytes(
            hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=4).digest(), "big"
        )
        dur = 1000 + i
        rows.append(f"({i}, {ofs}, {1 + i % 5}, {dur}, {max(int(round(dur * 10 / 1000)), 1)})")
    return ", ".join(rows)


@register(
    "media_sample_frames",
    # Closed-form oracle for the REAL video decode: each synthetic
    # frame is the pattern (x*4 + y + ofs + t*speed*8) % 256, Y4M
    # stores luma losslessly, and the mean of 3072 uint8 pixels is an
    # exact integer sum < 2^53 followed by one IEEE division — so the
    # oracle recomputes every sampled frame's mean luma from the
    # pattern spec (codec not involved) and the decoded values must
    # match BIT-EXACTLY. frame_index = ts*10//1000 == ts//100 at
    # fps=10/1, clamped to the last frame. Durations CAN land on a
    # *.5 frame count (media_id 50: 1050 ms -> 10.5 frames at fps 10);
    # both _video_pattern_constants and _pattern_video compute
    # n_frames with Python's round() (banker's), so encoder and
    # oracle stay in lockstep — never switch one side alone to
    # plain/floor rounding.
    "WITH v(media_id, ofs, speed, duration_ms, n_frames) AS"
    " (VALUES " + _video_pattern_constants() + "),"
    " ts AS (SELECT media_id, ofs, speed, n_frames,"
    "  unnest(range(0, duration_ms, 250)) AS frame_ts_ms FROM v),"
    " fi AS (SELECT media_id, ofs, speed, frame_ts_ms,"
    "  least(frame_ts_ms // 100, n_frames - 1) AS frame_index FROM ts),"
    " px AS (SELECT x.r AS x, y.r AS y FROM range(64) x(r), range(48) y(r))"
    " SELECT media_id, frame_ts_ms, frame_index,"
    "  CAST(SUM((x * 4 + y + ofs + frame_index * speed * 8) % 256) AS DOUBLE)"
    "   / 3072.0 AS mean_luma"
    " FROM fi, px GROUP BY media_id, frame_ts_ms, frame_index",
)
def media_sample_frames(spark, sf_dir):
    """Frame sampling with REAL decode: explode timestamps BEFORE
    decode, then each row decodes only its own frame — Y4M frames sit
    at fixed offsets, so this is pointer arithmetic, not a clip scan
    (llm/multimodal.sample_frames). The oracle recomputes each mean
    luma from the synthetic pattern's closed form, so the driver
    hash-checks the whole decode path end to end (mean emitted raw:
    integer-sum/3072 is bit-identical on both engines)."""
    from stockify_spark.llm.multimodal import sample_frames, synthetic_media

    out = sample_frames(synthetic_media(spark, n=96), every_ms=250)
    return out.select("media_id", "frame_ts_ms", "frame_index", "mean_luma")


@register(
    "media_resize",
    # Exact row-set oracle: only image rows (id ≡ 0 mod 3) may appear
    # — the filter-before-decode contract — and every one resizes to
    # the 32×24 target.
    "SELECT 3 * r AS media_id, 32 AS width, 24 AS height FROM range(32) t(r)",
)
def media_resize(spark, sf_dir):
    """Image resize plumbing over mapInPandas (decode stubbed; the
    non-image rows are filtered BEFORE any payload deserialization)."""
    from stockify_spark.llm.multimodal import resize_images, synthetic_media

    return resize_images(synthetic_media(spark, n=96)).select("media_id", "width", "height")


# ---------------------------------------------------------------------------
# Compressed-container video: MJPEG-in-AVI (llm/avi.py). The clips
# share ids and SOURCE pattern frames with the Y4M rows, so the same
# closed-form constants drive both oracle families.
# ---------------------------------------------------------------------------
@register(
    "media_avi_index",
    # Exact oracle: everything here comes from the RIFF headers and
    # the idx1 frame index — no entropy decode — so the values are
    # deterministic container metadata, hash-checked bit-for-bit.
    # n_frames literals come from the shared pattern-constants helper
    # (_video_pattern_constants; Python banker's round,
    # same as the encoder).
    None,  # filled by _register_container_oracles below
)
def media_avi_index(spark, sf_dir):
    """Container metadata probe over REAL MJPEG AVIs: mapInPandas
    parses RIFF headers + idx1 per payload (llm/avi.avi_info) and
    never touches frame entropy data — the filter-before-decode
    contract for compressed video, where routing/batching decisions
    read O(header) bytes of a multi-GB clip."""
    import pandas as pd

    from stockify_spark.llm.multimodal import synthetic_media_avi
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("fps_num", T.IntegerType(), False),
            T.StructField("fps_den", T.IntegerType(), False),
            T.StructField("n_frames", T.LongType(), False),
        ]
    )

    def run(batches):
        from stockify_spark.llm.avi import avi_info

        for pdf in batches:
            rows = {k.name: [] for k in schema.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                w, h, fps, n = avi_info(bytes(content))
                rows["media_id"].append(mid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["fps_num"].append(fps[0])
                rows["fps_den"].append(fps[1])
                rows["n_frames"].append(n)
            yield pd.DataFrame(rows)

    return synthetic_media_avi(spark, n=96).mapInPandas(run, schema)


@register(
    "media_container_mjpeg",
    None,  # filled by _register_container_oracles below
)
def media_container_mjpeg(spark, sf_dir):
    """Sampled-frame decode from a COMPRESSED container: explode the
    250 ms grid BEFORE decode, then each row seeks frame k via the
    AVI idx1 index and entropy-decodes ONLY that JPEG
    (llm/multimodal.sample_frames → llm/avi.decode_avi_mjpeg).
    frame_index is exact; mean luma is tolerance-of-truth against the
    pre-encode pattern spec — JPEG quantization drifts the mean by at
    most 0.57 across all 32 clips (tol 1.5), so luma_ok == TRUE
    asserts the full container-parse → huffman → IDCT path."""
    import numpy as np

    from stockify_spark.llm.multimodal import (
        _pattern_video,
        sample_frames,
        synthetic_media_avi,
    )

    exp_rows = []
    for i in range(2, 96, 3):
        frames = _pattern_video(i, 42, duration_ms=1000 + i)
        for idx in range(len(frames)):
            exp_rows.append((i, idx, float(np.asarray(frames[idx], dtype=np.float64).mean())))
    exp = spark.createDataFrame(exp_rows, "media_id long, frame_index long, e_luma double")

    out = sample_frames(synthetic_media_avi(spark, n=96), every_ms=250)
    return out.join(F.broadcast(exp), ["media_id", "frame_index"]).select(
        "media_id",
        "frame_ts_ms",
        "frame_index",
        (F.abs(F.col("mean_luma") - F.col("e_luma")) <= 1.5).alias("luma_ok"),
    )


# ---------------------------------------------------------------------------
# Compressed-container video #2: Photo-JPEG MP4 (llm/mp4.py). Same
# clip ids and SOURCE pattern frames as the AVI family — the
# container differs (ISO BMFF stbl tables instead of RIFF idx1), the
# per-frame codec and therefore the oracle constants are identical.
# ---------------------------------------------------------------------------

@register(
    "media_mp4_index",
    None,  # filled by _register_container_oracles below
)
def media_mp4_index(spark, sf_dir):
    """Container metadata probe over REAL Photo-JPEG MP4s:
    mapInPandas walks the ISO BMFF moov/stbl boxes per payload
    (llm/mp4.mp4_info) and never touches mdat entropy data — the
    filter-before-decode contract where routing decisions read
    O(moov) bytes of a multi-GB clip. fps comes back as the exact
    (timescale, stts delta) rational the muxer stored."""
    import pandas as pd

    from stockify_spark.llm.multimodal import synthetic_media_mp4
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("fps_num", T.IntegerType(), False),
            T.StructField("fps_den", T.IntegerType(), False),
            T.StructField("n_frames", T.LongType(), False),
        ]
    )

    def run(batches):
        from stockify_spark.llm.mp4 import mp4_info

        for pdf in batches:
            rows = {k.name: [] for k in schema.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                w, h, fps, n = mp4_info(bytes(content))
                rows["media_id"].append(mid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["fps_num"].append(fps[0])
                rows["fps_den"].append(fps[1])
                rows["n_frames"].append(n)
            yield pd.DataFrame(rows)

    return synthetic_media_mp4(spark, n=96).mapInPandas(run, schema)


@register(
    "media_container_mp4",
    None,  # filled by _register_container_oracles below
)
def media_container_mp4(spark, sf_dir):
    """Sampled-frame decode from the MP4 container: explode the
    250 ms grid BEFORE decode, then each row seeks sample k via the
    stbl tables and entropy-decodes ONLY that JPEG
    (llm/multimodal.sample_frames → llm/mp4.decode_mp4_mjpeg). Same
    tolerance-of-truth bound as the AVI twin: the per-frame codec is
    the identical baseline JPEG, so quantization drifts mean luma by
    at most 0.57 across all 32 clips (tol 1.5)."""
    import numpy as np

    from stockify_spark.llm.multimodal import (
        _pattern_video,
        sample_frames,
        synthetic_media_mp4,
    )

    exp_rows = []
    for i in range(2, 96, 3):
        frames = _pattern_video(i, 42, duration_ms=1000 + i)
        for idx in range(len(frames)):
            exp_rows.append((i, idx, float(np.asarray(frames[idx], dtype=np.float64).mean())))
    exp = spark.createDataFrame(exp_rows, "media_id long, frame_index long, e_luma double")

    out = sample_frames(synthetic_media_mp4(spark, n=96), every_ms=250)
    return out.join(F.broadcast(exp), ["media_id", "frame_index"]).select(
        "media_id",
        "frame_ts_ms",
        "frame_index",
        (F.abs(F.col("mean_luma") - F.col("e_luma")) <= 1.5).alias("luma_ok"),
    )


def _register_container_oracles() -> None:
    """The AVI and MP4 oracles use the Y4M family's pattern-constants
    literal helper, so their SQL is single-sourced with it.
    The MP4 oracles are textually the AVI ones: same ids, dims, fps,
    frame grid — the containers differ only in how the bytes are laid
    out, which is exactly what the queries verify."""

    v = "WITH v(media_id, ofs, speed, duration_ms, n_frames) AS (VALUES " + _video_pattern_constants() + ")"
    index_sql = (
        v + " SELECT media_id, 64 AS width, 48 AS height,"
        " 10 AS fps_num, 1 AS fps_den, n_frames FROM v"
    )
    frames_sql = (
        v + ", ts AS (SELECT media_id, n_frames,"
        "  unnest(range(0, duration_ms, 250)) AS frame_ts_ms FROM v)"
        " SELECT media_id, frame_ts_ms,"
        "  least(frame_ts_ms // 100, n_frames - 1) AS frame_index,"
        "  TRUE AS luma_ok FROM ts"
    )
    ORACLE["media_avi_index"] = index_sql
    ORACLE["media_container_mjpeg"] = frames_sql
    ORACLE["media_mp4_index"] = index_sql
    ORACLE["media_container_mp4"] = frames_sql


_register_container_oracles()


# ---------------------------------------------------------------------------
# Compressed-audio container probe: MP3 frame-header walk (llm/mp3.py)
# — the audio twin of media_avi_index / media_mp4_index. Sample
# decode stays an honest NotImplementedError boundary; the probe
# (frame index, duration, CBR/VBR classification) is real structure
# over structurally valid frames.
# ---------------------------------------------------------------------------
_MP3_INDEX_N = 48

_MP3_KBPS_SQL = "list_value(0,32,40,48,56,64,80,96,112,128,160,192,224,256,320)"


@register(
    "media_mp3_index",
    f"WITH ids AS (SELECT unnest(range(0, {_MP3_INDEX_N})) AS media_id),"
    " spec AS (SELECT media_id,"
    "  40 + (media_id % 60) AS n_frames,"
    f" {_MP3_KBPS_SQL}[(media_id % 14) + 2] AS k1,"
    f" {_MP3_KBPS_SQL}[((media_id + 5) % 14) + 2] AS k2,"
    "  CASE media_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000"
    "   ELSE 32000 END AS sample_rate FROM ids)"
    " SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,"
    " CAST(sample_rate AS INTEGER) AS sample_rate,"
    " CAST(n_frames * 1152 * 1000 // sample_rate AS BIGINT) AS duration_ms,"
    " CAST(CASE WHEN media_id % 2 = 0 THEN k1"
    "  ELSE ((n_frames + 1) // 2 * k1 + n_frames // 2 * k2) // n_frames"
    "  END AS INTEGER) AS mean_kbps,"
    " CAST(media_id % 2 = 1 AS BOOLEAN) AS is_vbr"
    " FROM spec",
)
def media_mp3_index(spark, sf_dir):
    """Compressed-audio metadata probe: mapInPandas walks MPEG-1
    Layer III frame headers per payload (llm/mp3.mp3_info) — frame
    count, sample rate, exact duration, mean bitrate, CBR/VBR — and
    never reads audio payload bytes. Even ids are CBR streams, odd
    ids alternate two bitrates (VBR); the oracle recomputes every
    figure closed-form from the generation spec. Sample decode is
    the documented NotImplementedError boundary (llm/mp3.decode_mp3)."""
    import pandas as pd

    from pyspark.sql import types as T

    from stockify_spark.llm.mp3 import encode_mp3_frames

    rows = []
    for i in range(_MP3_INDEX_N):
        b1, b2 = (i % 14) + 1, ((i + 5) % 14) + 1
        n = 40 + (i % 60)
        pattern = [b1] * n if i % 2 == 0 else [b1, b2] * ((n + 1) // 2)
        rows.append((i, bytearray(encode_mp3_frames(pattern[:n], sr_idx=i % 3))))
    media = spark.createDataFrame(rows, "media_id long, content binary")

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_frames", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType(), False),
            T.StructField("duration_ms", T.LongType(), False),
            T.StructField("mean_kbps", T.IntegerType(), False),
            T.StructField("is_vbr", T.BooleanType(), False),
        ]
    )

    def run(batches):
        from stockify_spark.llm.mp3 import mp3_info

        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                n, sr, dur, mean, vbr = mp3_info(bytes(content))
                out["media_id"].append(mid)
                out["n_frames"].append(n)
                out["sample_rate"].append(sr)
                out["duration_ms"].append(dur)
                out["mean_kbps"].append(mean)
                out["is_vbr"].append(vbr)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# media_phash_dedup — perceptual-hash image near-dup pairs
# ---------------------------------------------------------------------------
_PHASH_N_BASE = 24

_PHASH_SQL = (
    "SELECT CAST(r AS BIGINT) AS id_a, CAST(r + 1000 AS BIGINT) AS id_b,"
    " CAST(0 AS INT) AS hamming"
    f" FROM range({_PHASH_N_BASE}) t(r)"
)


@register("media_phash_dedup", _PHASH_SQL)
def media_phash_dedup(spark, sf_dir):
    """Image near-duplicate detection: REAL PNG decode → 32×32 DCT →
    63-bit pHash (DC excluded) → 4-band pigeonhole Hamming join
    (llm/phash.py). Closed-form oracle, media-family pattern
    (media_decode_real precedent): each fixture image i has a +10
    uniform-brightness variant at i+1000, and because the DCT of a
    constant image is pure DC — which the hash drops — the variant's
    hash is IDENTICAL by linearity, so the expected pair set is
    exactly {(i, i+1000, 0)}; unrelated seeded-random images sit
    22-44 bits apart (test_ext10 pins both facts). The oracle states
    the construction, not a rerun of the decoder — correctness-only
    in the bench ratio, like the rest of the media family."""
    from stockify_spark.llm.phash import phash_dup_pairs, synthetic_phash_media

    media = synthetic_phash_media(spark, n_base=_PHASH_N_BASE)
    return phash_dup_pairs(media)


# ---------------------------------------------------------------------------
# H.264 Annex-B structural probe + FLAC
# entropy-coded audio decode.
#
# Extends the multimodal family (SURVEY §2 LLM ops; media_mp3_index /
# media_avi_index precedent) two codecs deeper:
#
# * llm/h264.py — real NAL-unit walking, emulation-prevention
#   stripping, bit-level Exp-Golomb SPS parsing; slice decode held at
#   the documented NotImplementedError boundary. Spec-echo oracle
#   (media-family precedent).
# * llm/flac.py — the family's first full ENTROPY-CODED codec: Rice
#   residual coding over fixed predictors, lossless and
#   self-verifying (CRC-8/16 + MD5). Its oracle is stronger than the
#   media-family norm: it independently recomputes the decoded
#   waveform's statistics from the generation formula, so a
#   mis-decode fails the value hash rather than echoing a spec.
#
# Plus two ACID-surface completions: `txlog_restore` — Delta-style
# RESTORE TO VERSION as an O(log) metadata commit
# (sources/txlog.restore) — and `txlog_zorder` — OPTIMIZE ZORDER BY
# multi-dimensional clustering with multi-column log-level skipping
# (sources/txlog.compact zorder_by + snapshot_pruned_multi).
#
# None of these queries joins the bench ratio (the codec oracles don't
# run a rival codec; the txlog queries are write-path lifecycles),
# matching the correctness-only / txlog_lifecycle policies in bench.py.
# ---------------------------------------------------------------------------

# fixture spec: dims sweep non-multiple-of-16 (cropping exercised on
# most ids), profiles alternate baseline/main, GOP density varies
_H264_N = 48


def _h264_spec(i: int) -> tuple[int, int, int, int, int, int]:
    width = 96 + 2 * (i % 17)  # 96..128, mostly non-multiple-of-16
    height = 64 + 2 * (i % 11)  # 64..84
    n_idr = 1 + i % 4
    n_non_idr = (i * 3) % 13
    profile = 66 if i % 2 == 0 else 77
    level = (30, 31, 40)[i % 3]
    return width, height, n_idr, n_non_idr, profile, level


_H264_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_H264_N})) AS media_id)
SELECT media_id,
       CAST(96 + 2 * (media_id % 17) AS INTEGER) AS width,
       CAST(64 + 2 * (media_id % 11) AS INTEGER) AS height,
       CAST(CASE WHEN media_id % 2 = 0 THEN 66 ELSE 77 END AS INTEGER)
         AS profile_idc,
       CAST(list_value(30, 31, 40)[(media_id % 3) + 1] AS INTEGER) AS level_idc,
       CAST(2 + (1 + media_id % 4) + ((media_id * 3) % 13) AS BIGINT) AS n_nal,
       CAST(1 + media_id % 4 AS BIGINT) AS n_idr,
       CAST((media_id * 3) % 13 AS BIGINT) AS n_non_idr
FROM ids
"""


@register("media_h264_probe", _H264_SQL)
def media_h264_probe(spark, sf_dir):
    """Video-corpus router probe: per payload, one mapInPandas pass
    walks Annex-B start codes, strips emulation-prevention bytes, and
    bit-parses the SPS (llm/h264.h264_probe) — exact pixel dimensions
    (through the macroblock+crop encoding: 14 of every 17 widths here
    are NOT multiples of 16), profile/level, and the NAL census that
    gives keyframe density (IDR vs non-IDR). Filter-before-decode:
    the probe reads O(start codes + SPS bits), never slice payload,
    so routing a 100 TB video corpus by resolution/profile/GOP shape
    is a map-only scan. The oracle restates the generation spec
    closed-form (media-family precedent); slice decode itself is the
    honest NotImplementedError boundary (llm/h264.decode_h264)."""
    import pandas as pd
    from pyspark.sql import types as T

    from stockify_spark.llm.h264 import encode_h264_annexb, h264_probe

    rows = [
        (i, bytearray(encode_h264_annexb(*_h264_spec(i)))) for i in range(_H264_N)
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("profile_idc", T.IntegerType(), False),
            T.StructField("level_idc", T.IntegerType(), False),
            T.StructField("n_nal", T.LongType(), False),
            T.StructField("n_idr", T.LongType(), False),
            T.StructField("n_non_idr", T.LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            infos = [h264_probe(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [x["width"] for x in infos],
                    "height": [x["height"] for x in infos],
                    "profile_idc": [x["profile_idc"] for x in infos],
                    "level_idc": [x["level_idc"] for x in infos],
                    "n_nal": [x["n_nal"] for x in infos],
                    "n_idr": [x["n_idr"] for x in infos],
                    "n_non_idr": [x["n_non_idr"] for x in infos],
                }
            )

    return media.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# media_flac_decode — REAL entropy-coded lossless audio decode
# ---------------------------------------------------------------------------

_FLAC_N = 24

_FLAC_RATE = 16000


# waveform formula shared by the Spark generator and the DuckDB
# oracle: x(t) = ((t*t + 7*id) % 4001) - 2000, n = 3000 + 153*id
# (streams past id 7 span multiple 4096-sample FLAC frames)
_FLAC_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_FLAC_N})) AS media_id),
s AS (SELECT media_id, 3000 + 153 * media_id AS n FROM ids),
t AS (SELECT media_id, n, unnest(range(0, n)) AS i FROM s),
v AS (SELECT media_id, n, ((i * i + 7 * media_id) % 4001) - 2000 AS x FROM t)
SELECT media_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST({_FLAC_RATE} AS INTEGER) AS sample_rate,
       CAST(MAX(ABS(x)) AS INTEGER) AS peak,
       ROUND(CAST(SUM(x) AS DOUBLE) / MAX(n), 6) AS mean_r,
       ROUND(SQRT(CAST(SUM(x * x) AS DOUBLE) / MAX(n)), 6) AS rms_r
FROM v GROUP BY media_id
"""


@register("media_flac_decode", _FLAC_SQL)
def media_flac_decode(spark, sf_dir):
    """End-to-end ENTROPY-CODED audio: each stream is synthesized
    from a closed-form waveform, FLAC-encoded (llm/flac.py —
    partitioned Rice residual coding over fixed or LPC predictors,
    CRC-8/16 framing, STREAMINFO MD5), then decoded back and reduced
    to sample
    statistics. Unlike the spec-echo media oracles, this oracle
    RECOMPUTES the statistics from the waveform formula through an
    independent path: any mis-decoded sample (wrong Rice quotient,
    bad reintegration, off-by-one at a 4096-sample frame boundary —
    streams here deliberately span it) changes SUM/SUM-of-squares
    and fails the value hash. The decoder also self-verifies every
    frame CRC and the stream MD5, so silent corruption cannot pass.
    Float policy: sums are exact int64 on both engines; one divide /
    sqrt before ROUND 6 (DESIGN.md float policy). Encode and decode
    both run inside mapInPandas over a binary column — two real
    Arrow-batched stages, the 100 TB audio-corpus plumbing shape."""
    import pandas as pd
    from pyspark.sql import types as T

    from stockify_spark.llm.flac import decode_flac, encode_flac

    spec = spark.createDataFrame(
        [(i, 3000 + 153 * i) for i in range(_FLAC_N)], "media_id long, n long"
    )

    def ingest(batches):
        for pdf in batches:
            payloads = []
            for i, n in zip(pdf["media_id"], pdf["n"]):
                wave = [((t * t + 7 * int(i)) % 4001) - 2000 for t in range(int(n))]
                payloads.append(bytearray(encode_flac(wave, _FLAC_RATE)))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": payloads})

    media = spec.mapInPandas(
        ingest,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("content", T.BinaryType(), False),
            ]
        ),
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType(), False),
            T.StructField("peak", T.IntegerType(), False),
            T.StructField("mean_r", T.DoubleType(), False),
            T.StructField("rms_r", T.DoubleType(), False),
        ]
    )

    def analyze(batches):
        for pdf in batches:
            rows = []
            for i, content in zip(pdf["media_id"], pdf["content"]):
                samples, rate = decode_flac(bytes(content))
                n = len(samples)
                ssum = sum(samples)  # exact int
                ssq = sum(s * s for s in samples)
                # NOT rounded here: Python round() is banker's, DuckDB
                # ROUND is half-away — the 6dp round happens Spark-side
                # (F.round, HALF_UP) below so both engines agree at
                # exact half-ulp boundaries
                rows.append(
                    (
                        int(i),
                        n,
                        rate,
                        max(abs(s) for s in samples),
                        ssum / n,
                        (ssq / n) ** 0.5,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_samples",
                    "sample_rate",
                    "peak",
                    "mean_r",
                    "rms_r",
                ],
            )

    from pyspark.sql import functions as F

    return media.mapInPandas(analyze, out_schema).select(
        "media_id",
        "n_samples",
        "sample_rate",
        "peak",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("rms_r", 6).alias("rms_r"),
    )


# ---------------------------------------------------------------------------
# Decodable H.264 — the I_PCM subset.
#
# Moves the video-codec boundary from "structural probe only" to REAL
# sample decode for the decodable subset of H.264: streams whose
# macroblocks are I_PCM (raw 8-bit samples inside a fully standard
# Annex-B/SPS/PPS/slice-header wrapper — the lossless escape hatch
# every AVC profile includes). The encoder and decoder share only the
# bitstream spec, exercising Exp-Golomb slice headers, PCM byte
# alignment, and wire-level emulation prevention end to end. Coded
# (CAVLC/intra-predicted) macroblocks remain the honest
# NotImplementedError boundary (llm/h264.decode_h264).
# ---------------------------------------------------------------------------
_IPCM_N = 6


def _ipcm_spec(i: int) -> tuple[int, int, int, int, int]:
    # 32x32 frames; luma_base + x + 2y stays under 256 for base <= 162
    return 32, 32, 16 + 8 * i, 120 + i, 60 + 2 * i


_IPCM_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_IPCM_N})) AS media_id)
SELECT media_id,
       CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height,
       CAST(4 AS BIGINT) AS n_mb,
       ROUND(CAST(16 + 8 * media_id AS DOUBLE) + 15.5 + 31.0, 4) AS mean_luma,
       CAST(120 + media_id AS INTEGER) AS cb0,
       CAST(60 + 2 * media_id AS INTEGER) AS cr0
FROM ids
"""


@register("media_h264_ipcm_decode", _IPCM_SQL)
def media_h264_ipcm_decode(spark, sf_dir):
    """REAL H.264 decode of the I_PCM subset: per payload, one
    mapInPandas pass splits NALs, parses SPS/PPS and the IDR
    slice header (Exp-Golomb), walks the macroblock loop and
    reconstructs the raw PCM planes — the decoded luma mean and
    chroma DCs are checked against the closed-form generation spec
    (media-family oracle precedent: the ramp pattern
    luma = base + x + 2y has mean base + 46.5 on a 32x32 frame).
    Every byte crosses the emulation-prevention layer on the wire.
    Filter-before-decode still applies at scale: h264_probe routes,
    this decodes only what the router admits."""
    from pyspark.sql import types as T

    import pandas as pd

    from stockify_spark.llm.h264 import decode_h264_ipcm, encode_h264_ipcm

    rows = [
        (i, bytearray(encode_h264_ipcm(*_ipcm_spec(i)))) for i in range(_IPCM_N)
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("n_mb", T.LongType(), False),
            T.StructField("mean_luma", T.DoubleType(), False),
            T.StructField("cb0", T.IntegerType(), False),
            T.StructField("cr0", T.IntegerType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                f = decode_h264_ipcm(bytes(content))
                out.append(
                    (
                        int(mid),
                        f["width"],
                        f["height"],
                        f["n_mb"],
                        round(sum(f["luma"]) / len(f["luma"]), 4),
                        f["cb0"],
                        f["cr0"],
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "n_mb",
                    "mean_luma", "cb0", "cr0",
                ],
            )

    return media.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# MP3 Layer III zero-spectrum sample decode.
#
# r8 verdict #6 — move the MP3 honest boundary one notch inward, in the
# media_flac_decode tolerance-of-truth family: the oracle RECOMPUTES
# everything the decoder must produce (frame count, duration, VBR flag,
# sample count, waveform stats, and a side-info digest) from the
# fixture's closed forms through an independent path. The decode side
# walks real MPEG-1 frame structure (padding-alternating lengths, three
# sample rates), parses the 256-bit stereo side info bit-exactly, and
# reconstructs the per-spec exactly-silent PCM; a mis-walked frame
# boundary changes n_frames/duration, a one-bit side-info offset error
# scrambles the global_gain/count1table_select digest, and a wrong
# sample count or non-zero sample changes n_samples/peak/rms — each
# fails the value hash. Non-silent Layer III (huffman + scalefactors +
# IMDCT) stays behind decode_mp3's NotImplementedError (llm/mp3.py).
# ---------------------------------------------------------------------------
_MP3_DECODE_N = 18  # media ids; sr cycles all three MPEG-1 rates


# fixture closed forms shared by the Spark generator and the oracle:
#   n_frames(m)       = 6 + m % 5
#   sr(m)             = (44100, 48000, 32000)[m % 3]
#   bitrate_idx(m, j) = 1 + (m*5 + j*3) % 14
#   gain(m, j, g, c)  = (m*7 + j*11 + g*13 + c*29) % 256
#   count1(m, j, g, c)= (m + j + g + c) % 2
_MP3_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_MP3_DECODE_N})) AS media_id),
spec AS (
  SELECT media_id,
         6 + media_id % 5 AS n_frames,
         CASE media_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS sample_rate
  FROM ids),
frames AS (
  SELECT media_id, n_frames, sample_rate,
         unnest(range(0, n_frames)) AS j
  FROM spec),
rates AS (
  SELECT media_id,
         COUNT(DISTINCT 1 + (media_id * 5 + j * 3) % 14) AS n_rates
  FROM frames GROUP BY media_id),
cells AS (
  SELECT f.media_id, f.j, g.g, c.c
  FROM frames f,
       (SELECT unnest(range(0, 2)) AS g) g,
       (SELECT unnest(range(0, 2)) AS c) c),
digest AS (
  SELECT media_id,
         CAST(SUM(((media_id * 7 + j * 11 + g * 13 + c * 29) % 256)
                    * (1 + 2 * g + c)
                  + (media_id + j + g + c) % 2) AS BIGINT) AS side_digest
  FROM cells GROUP BY media_id)
SELECT s.media_id,
       CAST(s.n_frames AS BIGINT) AS n_frames,
       CAST(s.sample_rate AS INTEGER) AS sample_rate,
       CAST(s.n_frames * 1152 * 1000 // s.sample_rate AS BIGINT) AS duration_ms,
       r.n_rates > 1 AS is_vbr,
       CAST(s.n_frames * 1152 AS BIGINT) AS n_samples,
       d.side_digest,
       CAST(0 AS INTEGER) AS peak,
       CAST(0.0 AS DOUBLE) AS rms_r
FROM spec s
JOIN rates r USING (media_id)
JOIN digest d USING (media_id)
"""


@register("media_mp3_decode", _MP3_SQL)
def media_mp3_decode(spark, sf_dir):
    """Encode→decode MP3 silence streams inside two Arrow-batched
    stages (the 100 TB audio-corpus plumbing shape: binary column in,
    per-file stats out), then reduce the decoded PCM and parsed side
    info to the columns the closed-form oracle recomputes."""
    import pandas as pd
    from pyspark.sql import types as T

    from stockify_spark.llm.mp3 import decode_mp3, encode_mp3_silence, mp3_info

    spec = spark.createDataFrame(
        [(m, 6 + m % 5, m % 3) for m in range(_MP3_DECODE_N)],
        "media_id long, n_frames long, sr_idx int",
    )

    def ingest(batches):
        for pdf in batches:
            payloads = []
            for m, nf, sr_idx in zip(pdf["media_id"], pdf["n_frames"], pdf["sr_idx"]):
                m, nf = int(m), int(nf)
                payloads.append(
                    bytearray(
                        encode_mp3_silence(
                            [1 + (m * 5 + j * 3) % 14 for j in range(nf)],
                            sr_idx=int(sr_idx),
                            gain_fn=lambda j, g, c, m=m: (m * 7 + j * 11 + g * 13 + c * 29) % 256,
                            count1_fn=lambda j, g, c, m=m: (m + j + g + c) % 2,
                        )
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": payloads})

    media = spec.mapInPandas(
        ingest,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("content", T.BinaryType(), False),
            ]
        ),
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_frames", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType(), False),
            T.StructField("duration_ms", T.LongType(), False),
            T.StructField("is_vbr", T.BooleanType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("side_digest", T.LongType(), False),
            T.StructField("peak", T.IntegerType(), False),
            T.StructField("rms_r", T.DoubleType(), False),
        ]
    )

    def analyze(batches):
        for pdf in batches:
            rows = []
            for m, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content)
                nf, sr, dur_ms, _mean, vbr = mp3_info(payload)
                dec = decode_mp3(payload)
                samples = dec["samples"]
                n = len(samples)
                rows.append(
                    (
                        int(m),
                        nf,
                        sr,
                        dur_ms,
                        bool(vbr),
                        n,
                        dec["side_digest"],
                        max(abs(s) for s in samples),
                        (sum(s * s for s in samples) / n) ** 0.5,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_frames",
                    "sample_rate",
                    "duration_ms",
                    "is_vbr",
                    "n_samples",
                    "side_digest",
                    "peak",
                    "rms_r",
                ],
            )

    return media.mapInPandas(analyze, out_schema)


# ---------------------------------------------------------------------------
# Two new REAL codec paths.
#
# GIF89a closes the LZW gap in the codec suite (llm/gif.py — the
# variable-width dictionary coder none of png/jpeg/flac/deflate
# exercises; deflate's LZ77+huffman is a different design), decoded
# per-frame through the animation extensions. IMA ADPCM (llm/adpcm.py)
# is the suite's first LOSSY audio codec — 4-bit differential
# quantization with the standard step/index tables — whose oracle pins
# the format's EXACT guarantees (counts, block structure, verbatim
# block-header samples, compressed size) and states the reconstruction
# contract as deterministic booleans, the honest shape for a lossy
# path (BASELINE.md's tolerance-of-truth policy).
#
# Both run encode AND decode inside mapInPandas over binary columns —
# the Arrow-batched 100 TB media-corpus shape shared by the whole
# suite (llm/multimodal.py).
# ---------------------------------------------------------------------------
_GIF_N = 16

_GIF_FRAMES = 3

_GIF_DELAY = 4


# pixel(x, y, f) = (7x + 13y + 5*id + 11f) % 256 over w×h, 3 frames;
# the oracle re-derives every statistic from this formula through an
# independent path, so any LZW mis-decode (wrong width bump, bad
# KwKwK, sub-block seam) shifts the position-weighted hash.
_GIF_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_GIF_N})) AS media_id),
dims AS (SELECT media_id, 32 + 2 * (media_id % 8) AS w,
                24 + (media_id % 6) AS h
         FROM ids),
px AS (SELECT media_id, w, h,
              unnest(range(0, w * h * {_GIF_FRAMES})) AS pos
       FROM dims),
v AS (SELECT media_id, w, h, pos,
             ((pos % (w * h)) % w) * 7
           + ((pos % (w * h)) // w) * 13
           + 5 * media_id + 11 * (pos // (w * h)) AS raw
      FROM px)
SELECT media_id,
       CAST(MAX(w) AS INTEGER) AS width,
       CAST(MAX(h) AS INTEGER) AS height,
       CAST({_GIF_FRAMES} AS INTEGER) AS n_frames,
       CAST({_GIF_FRAMES * _GIF_DELAY} AS BIGINT) AS delay_cs_total,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM(raw % 256) AS BIGINT) AS pix_sum,
       CAST(MIN(raw % 256) AS INTEGER) AS pix_min,
       CAST(MAX(raw % 256) AS INTEGER) AS pix_max,
       CAST(SUM((raw % 256) * (pos + 1)) % 2147483647 AS BIGINT) AS pix_whash
FROM v GROUP BY media_id
"""


@register("media_gif_decode", _GIF_SQL)
def media_gif_decode(spark, sf_dir):
    """End-to-end LZW: per stream, synthesize 3 grayscale frames from
    a closed-form pattern, encode as an animated GIF89a (llm/gif.py —
    real LZW with width growth, table-overflow Clears, 255-byte
    sub-blocks, Graphic Control Extensions), decode back, and reduce
    to pixel statistics INCLUDING a position-weighted hash
    (sum of v·(pos+1) over the frame-major pixel order) so a decode
    that produces the right multiset of pixels in the wrong order
    still fails. The oracle recomputes everything from the pattern
    formula — it never sees the codec.

    Plumbing: encode and decode are two mapInPandas stages over a
    binary column; per-row work is bounded by frame area so Arrow
    batches stay O(batch·area) — the shape that holds when the
    corpus is 100 TB of real GIFs."""
    import pandas as pd

    from stockify_spark.llm.gif import decode_gif, encode_gif

    spec = spark.createDataFrame(
        [(i, 32 + 2 * (i % 8), 24 + (i % 6)) for i in range(_GIF_N)],
        "media_id long, w int, h int",
    )

    def ingest(batches):
        for pdf in batches:
            payloads = []
            for i, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                i, w, h = int(i), int(w), int(h)
                frames = [
                    bytes(
                        (x * 7 + y * 13 + 5 * i + 11 * f) % 256
                        for y in range(h)
                        for x in range(w)
                    )
                    for f in range(_GIF_FRAMES)
                ]
                payloads.append(bytearray(encode_gif(frames, w, h, _GIF_DELAY)))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": payloads})

    media = spec.mapInPandas(
        ingest,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("content", T.BinaryType(), False),
            ]
        ),
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("n_frames", T.IntegerType(), False),
            T.StructField("delay_cs_total", T.LongType(), False),
            T.StructField("n_pixels", T.LongType(), False),
            T.StructField("pix_sum", T.LongType(), False),
            T.StructField("pix_min", T.IntegerType(), False),
            T.StructField("pix_max", T.IntegerType(), False),
            T.StructField("pix_whash", T.LongType(), False),
        ]
    )

    def analyze(batches):
        for pdf in batches:
            rows = []
            for i, content in zip(pdf["media_id"], pdf["content"]):
                g = decode_gif(bytes(content))
                stream = b"".join(g["frames"])
                whash = sum(v * (p + 1) for p, v in enumerate(stream)) % 2147483647
                rows.append(
                    (
                        int(i),
                        g["width"],
                        g["height"],
                        len(g["frames"]),
                        sum(g["delays_cs"]),
                        len(stream),
                        sum(stream),
                        min(stream),
                        max(stream),
                        whash,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_frames",
                    "delay_cs_total",
                    "n_pixels",
                    "pix_sum",
                    "pix_min",
                    "pix_max",
                    "pix_whash",
                ],
            )

    return media.mapInPandas(analyze, out_schema)


# ---------------------------------------------------------------------------
# media_adpcm_roundtrip — lossy 4-bit IMA ADPCM with an exactness +
# error-contract oracle
# ---------------------------------------------------------------------------

_ADPCM_N = 20

_BLK = 506  # 1 header sample + 505 body samples per block

_ERR_BOUND = 256   # measured worst 79 on this family; 3x margin

_SNR_FLOOR = 35.0  # measured worst 44.02 dB; 9 dB margin


# triangle wave: x(t) = 60*(abs(((t + 3*id) % 100) - 50) - 25),
# n = 2000 + 37*id (spans 4-5 blocks; the phase offset makes every
# stream hit block boundaries at different waveform slopes)
_ADPCM_SQL = f"""
WITH ids AS (SELECT unnest(range(0, {_ADPCM_N})) AS media_id),
s AS (SELECT media_id, 2000 + 37 * media_id AS n FROM ids),
blk AS (SELECT media_id, n,
               unnest(range(0, (n + {_BLK} - 1) // {_BLK})) AS b
        FROM s),
bb AS (SELECT media_id, n, b,
              least({_BLK - 1}, n - {_BLK} * b - 1) AS body
       FROM blk)
SELECT media_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(60 * (abs((3 * MAX(media_id)) % 100 - 50) - 25) AS INTEGER)
         AS first_sample,
       CAST(SUM(6 + (body + 1) // 2) AS BIGINT) AS n_bytes,
       TRUE AS headers_exact,
       TRUE AS max_err_le_{_ERR_BOUND},
       TRUE AS snr_db_ge_{int(_SNR_FLOOR)}
FROM bb GROUP BY media_id
"""


@register("media_adpcm_roundtrip", _ADPCM_SQL)
def media_adpcm_roundtrip(spark, sf_dir):
    """Lossy 4-bit IMA ADPCM, encode → decode → contract check. The
    oracle restates everything the FORMAT guarantees exactly — sample
    count, block count, the verbatim first sample, the compressed
    byte count (6-byte state header + ceil(body/2) nibble bytes per
    block, ~4:1 vs 16-bit PCM) — and the codec's reconstruction
    contract as booleans computed Spark-side from the REAL decode:
    every block-header sample exact, max |error| <= 256 (measured 79
    on this family), SNR >= 35 dB (measured 44). A broken step-table
    update, nibble order, or index clamp blows the error bound and
    flips a boolean; a mis-framed block shifts n_bytes/n_blocks.

    Same two-stage mapInPandas shape as the rest of the suite; ADPCM
    state is strictly per-block, so blocks — and therefore Arrow
    batches — decode independently: the property that makes the
    format splittable at 100 TB."""
    import pandas as pd

    from stockify_spark.llm.adpcm import BLOCK_SAMPLES, decode_ima, encode_ima

    spec = spark.createDataFrame(
        [(i, 2000 + 37 * i) for i in range(_ADPCM_N)], "media_id long, n long"
    )

    def ingest(batches):
        for pdf in batches:
            payloads = []
            for i, n in zip(pdf["media_id"], pdf["n"]):
                i, n = int(i), int(n)
                wave = [
                    60 * (abs(((t + 3 * i) % 100) - 50) - 25) for t in range(n)
                ]
                payloads.append(bytearray(encode_ima(wave)))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": payloads})

    media = spec.mapInPandas(
        ingest,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("content", T.BinaryType(), False),
            ]
        ),
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("n_blocks", T.LongType(), False),
            T.StructField("first_sample", T.IntegerType(), False),
            T.StructField("n_bytes", T.LongType(), False),
            T.StructField("headers_exact", T.BooleanType(), False),
            T.StructField(f"max_err_le_{_ERR_BOUND}", T.BooleanType(), False),
            T.StructField(f"snr_db_ge_{int(_SNR_FLOOR)}", T.BooleanType(), False),
        ]
    )

    def analyze(batches):
        for pdf in batches:
            rows = []
            for i, content in zip(pdf["media_id"], pdf["content"]):
                i = int(i)
                raw = bytes(content)
                dec = decode_ima(raw)
                n = len(dec)
                wave = [
                    60 * (abs(((t + 3 * i) % 100) - 50) - 25) for t in range(n)
                ]
                stride = BLOCK_SAMPLES + 1
                headers_exact = all(
                    dec[b] == wave[b] for b in range(0, n, stride)
                )
                max_err = max(abs(a - b) for a, b in zip(wave, dec))
                sig = sum(x * x for x in wave)
                noise = sum((a - b) ** 2 for a, b in zip(wave, dec))
                snr = 10 * math.log10(sig / noise) if noise else float("inf")
                rows.append(
                    (
                        i,
                        n,
                        (n + stride - 1) // stride,
                        wave[0],
                        len(raw),
                        headers_exact,
                        max_err <= _ERR_BOUND,
                        snr >= _SNR_FLOOR,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in out_schema.fields],
            )

    return media.mapInPandas(analyze, out_schema)
