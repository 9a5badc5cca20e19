"""Multimodal plumbing tests: schema, Arrow batch shape, deterministic
stub features, frame-sampling plan, and the REAL PNG decode branch
(stdlib codec in stockify_spark/llm/png.py; audio/video decode stays
stubbed — those codecs aren't in this container)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stockify_spark.llm.multimodal import (
    FEATURE_DIM,
    extract_features,
    frame_sample_plan,
    synthetic_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synthetic_media(spark, n=30).cache()


def test_feature_extraction_shape_and_determinism(media):
    a = extract_features(media).orderBy("media_id").collect()
    b = extract_features(media).orderBy("media_id").collect()
    assert len(a) == 30
    assert all(len(r["feature"]) == FEATURE_DIM for r in a)
    assert [r["feature"] for r in a] == [r["feature"] for r in b]
    # features derive from content: distinct payloads → distinct vectors
    assert len({tuple(r["feature"]) for r in a}) == 30


def test_real_decode_rejects_unsupported_containers(spark):
    """Formats that genuinely need native codecs (webm here; mp4 is
    now a real parser, llm/mp4.py) must raise explicitly under
    decode_stub=False, not decode junk — and a supported container
    with corrupt bytes must fail loudly too."""
    from stockify_spark.llm.multimodal import MEDIA_SCHEMA

    fake = spark.createDataFrame(
        [(0, "video", "video/webm", 8, None, None, 1000, b"\x00" * 8)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception) as exc_info:
        extract_features(fake, decode_stub=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )
    junk_mp4 = spark.createDataFrame(
        [(0, "video", "video/mp4", 8, None, None, 1000, b"\x00" * 8)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception) as exc_info:
        extract_features(junk_mp4, decode_stub=False).collect()
    assert "not an MP4" in str(exc_info.value)


def test_y4m_codec_roundtrip_and_indexed_access():
    from stockify_spark.llm.y4m import decode_y4m, encode_y4m, frame_count

    rng = np.random.RandomState(9)
    frames = rng.randint(0, 256, size=(7, 6, 8)).astype(np.uint8)
    data = encode_y4m(frames, fps=(10, 1))
    got, fps = decode_y4m(data)
    assert fps == (10, 1) and np.array_equal(got, frames)
    assert frame_count(data) == 7
    # O(1) indexed access returns exactly the requested frames
    some, _ = decode_y4m(data, frame_indices=[6, 0, 3])
    assert np.array_equal(some[0], frames[6])
    assert np.array_equal(some[1], frames[0])
    assert np.array_equal(some[2], frames[3])


def test_real_video_feature_extraction_end_to_end(media):
    """decode_stub=False on video rows: REAL Y4M decode inside
    mapInPandas — frame counts must match the metadata duration at
    the synthetic 10 fps, and the moving-bar clips show motion."""
    video = media.filter("kind = 'video'")
    durations = {r["media_id"]: r["duration_ms"] for r in video.collect()}
    out = extract_features(video, decode_stub=False).orderBy("media_id").collect()
    assert len(out) == len(durations)
    for r in out:
        f = r["feature"]
        assert len(f) == FEATURE_DIM
        assert f[0] == pytest.approx(round(durations[r["media_id"]] * 10 / 1000))
        assert f[1] == pytest.approx(10.0)  # fps
        assert f[4] > 0.0  # motion energy of a moving bar
        assert abs(sum(f[6:]) - 1.0) < 1e-5  # luma histogram mass


def test_sample_frames_decodes_only_requested_frames(spark):
    """sample_frames: each exploded timestamp decodes exactly its own
    frame; the per-frame mean luma must equal a direct decode."""
    from stockify_spark.llm.multimodal import sample_frames
    from stockify_spark.llm.y4m import decode_y4m

    media = synthetic_media(spark, n=9)
    out = sample_frames(media, every_ms=400).collect()
    src = {
        r["media_id"]: bytes(r["content"])
        for r in media.filter("kind = 'video'").collect()
    }
    assert len(out) > 0
    for r in out:
        direct, _ = decode_y4m(src[r["media_id"]], frame_indices=[r["frame_index"]])
        assert r["mean_luma"] == pytest.approx(float(direct.mean()))


def test_wav_codec_roundtrip():
    from stockify_spark.llm.wav import decode_wav, encode_wav

    rng = np.random.RandomState(5)
    mono = (rng.standard_normal(500) * 10000).astype(np.int16)
    got, rate = decode_wav(encode_wav(mono, sample_rate=8000))
    assert rate == 8000 and np.array_equal(got, mono)
    stereo = (rng.standard_normal((300, 2)) * 10000).astype(np.int16)
    got2, rate2 = decode_wav(encode_wav(stereo, sample_rate=44100))
    assert rate2 == 44100 and np.array_equal(got2, stereo)


def test_real_audio_feature_extraction_end_to_end(media):
    """decode_stub=False on the audio rows: REAL WAV decode inside
    mapInPandas; the spectral centroid must track each clip's known
    synthetic tone frequency and band energies sum to ~1."""
    audio = media.filter("kind = 'audio'")
    out = extract_features(audio, decode_stub=False).orderBy("media_id").collect()
    assert len(out) == audio.count()
    for r in out:
        f = r["feature"]
        assert len(f) == FEATURE_DIM
        assert 0.2 < f[0] < 0.6  # rms of a 0.5-amplitude sine ≈ 0.35
        assert abs(sum(f[6:]) - 1.0) < 1e-3  # band energy mass
        # tone at 200 + 50*(id % 16) Hz, nyquist 4000 Hz
        expected_centroid = (200 + 50 * (r["media_id"] % 16)) / 4000
        assert abs(f[3] - expected_centroid) < 0.05, (r["media_id"], f[3])


def test_png_codec_roundtrip_and_all_filters():
    """encode→decode round-trips bit-exactly for gray/RGB/RGBA, and
    the decoder reconstructs every PNG filter type (hand-filtered
    scanlines)."""
    import struct
    import zlib

    from stockify_spark.llm.png import _SIGNATURE, _chunk, decode_png, encode_png

    rng = np.random.RandomState(11)
    for shape in ((5, 7), (5, 7, 3), (5, 7, 4)):
        pix = rng.randint(0, 256, size=shape).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(pix)), pix), shape

    # hand-filter an RGB image with every filter type per row
    pix = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    h, w, ch = pix.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = pix[y].reshape(-1).astype(np.int64)
        filtered = np.zeros_like(line)
        for x in range(len(line)):
            left = line[x - ch] if x >= ch else 0
            up = prev[x]
            upleft = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - upleft
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else upleft)
            filtered[x] = (line[x] - pred) % 256
        raw.append(ftype)
        raw.extend(filtered.astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), pix)


def test_real_image_feature_extraction_end_to_end(media):
    """decode_stub=False on the image rows: REAL decode of BOTH image
    containers (PNG and baseline JPEG) inside mapInPandas, features
    derived from actual pixels (bounded means/stds, histogram sums
    to 1)."""
    images = media.filter("kind = 'image'")
    mimes = {r["mime"] for r in images.collect()}
    assert mimes == {"image/png", "image/jpeg"}  # fixture covers both
    out = extract_features(images, decode_stub=False).orderBy("media_id").collect()
    assert len(out) == images.count()
    for r in out:
        f = r["feature"]
        assert len(f) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in f[:3])  # channel means
        assert abs(sum(f[6:]) - 1.0) < 1e-5  # histogram mass
    # distinct images → distinct pixel-derived features
    assert len({tuple(r["feature"]) for r in out}) == len(out)


def test_real_image_resize_end_to_end(spark):
    """decode_stub=False resize: output payloads are valid images in
    the SAME container as their source (PNG stays PNG, JPEG stays
    JPEG) at the target geometry; pixels equal a nearest-neighbor
    resample of the decoded source (exactly for PNG, within the
    re-encode loss for JPEG)."""
    from stockify_spark.llm.jpeg import decode_jpeg
    from stockify_spark.llm.multimodal import resize_images
    from stockify_spark.llm.png import decode_png, resize_nearest

    media = synthetic_media(spark, n=18)
    src = {
        r["media_id"]: (bytes(r["content"]), r["mime"])
        for r in media.filter("kind = 'image'").collect()
    }
    out = resize_images(media, target_w=16, target_h=12, decode_stub=False).collect()
    assert len(out) == len(src)
    saw_jpeg = False
    for r in out:
        payload, mime = src[r["media_id"]]
        got_bytes = bytes(r["content"])
        if mime == "image/jpeg":
            saw_jpeg = True
            assert got_bytes[:2] == b"\xff\xd8"
            got = decode_jpeg(got_bytes)
            want = resize_nearest(decode_jpeg(payload), 16, 12)
            assert got.shape == (12, 16, 3)
            # quality-50 re-encode of a sharp-edged 4x downsample is
            # genuinely lossy; random/garbage decode would sit ~70
            err = np.abs(got.astype(float) - want.astype(float)).mean()
            assert err < 30.0, err
        else:
            got = decode_png(got_bytes)
            want = resize_nearest(decode_png(payload), 16, 12)
            assert got.shape == (12, 16, 3)
            assert np.array_equal(got, want)
    assert saw_jpeg


def test_jpeg_codec_roundtrip_psnr_and_rejections():
    """Baseline JPEG codec (llm/jpeg.py): gray/444/422/420
    round-trips land above 30 dB PSNR on a smooth gradient; restart
    markers decode identically; progressive frames raise
    explicitly."""
    from stockify_spark.llm.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(3)
    x = np.linspace(0, 255, 48)
    gray = np.clip(
        np.add.outer(x, x) / 2 + rng.normal(0, 4, (48, 48)), 0, 255
    ).astype(np.uint8)
    rgb = np.stack([gray, gray[::-1], gray.T], axis=-1).astype(np.uint8)

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 10 * np.log10(255**2 / mse) if mse else float("inf")

    out_g = decode_jpeg(encode_jpeg(gray))
    assert out_g.shape == gray.shape and psnr(gray, out_g) > 30
    quality = {}
    for ss in ("444", "422", "420"):
        data = encode_jpeg(rgb, subsample=ss)
        out = decode_jpeg(data)
        assert out.shape == rgb.shape and psnr(rgb, out) > 30
        quality[ss] = (psnr(rgb, out), -len(data))
    # less chroma loss → better fidelity and bigger files, in order
    assert quality["444"] >= quality["422"] >= quality["420"]
    # odd dimensions survive the MCU padding at every sampling shape
    odd = rgb[:37, :29]
    for ss in ("444", "422", "420"):
        out = decode_jpeg(encode_jpeg(odd, subsample=ss))
        assert out.shape == odd.shape and psnr(odd, out) > 30
    # restart markers: bit-identical result to the unsegmented stream
    a = decode_jpeg(encode_jpeg(rgb, subsample="420"))
    b = decode_jpeg(encode_jpeg(rgb, subsample="420", restart_interval=2))
    assert np.array_equal(a, b)
    # hierarchical frames remain explicitly out of scope
    bad = bytearray(encode_jpeg(gray))
    i = bad.find(b"\xff\xc0")
    bad[i + 1] = 0xC5
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bad))


def test_jpeg_progressive_identical_to_baseline():
    """Progressive (SOF2) transmits the same quantized coefficients
    as baseline, reordered — so after all passes the decode must be
    BIT-IDENTICAL to decoding the baseline stream of the same image,
    across subsampling profiles, grayscale, and odd (dummy-block)
    dimensions. This is the strongest possible oracle for the four
    G.1.2 scan state machines."""
    from stockify_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from stockify_spark.llm.multimodal import _pattern_image

    for i, sub in ((3, "420"), (4, "422"), (5, "444")):
        img = _pattern_image(i, 42)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(img, subsample=sub)),
            decode_jpeg(encode_jpeg_progressive(img, subsample=sub)),
        ), sub
    gray = _pattern_image(7, 42)[:, :, 0]
    assert np.array_equal(
        decode_jpeg(encode_jpeg(gray)), decode_jpeg(encode_jpeg_progressive(gray))
    )
    # odd dims: the interleaved DC scan covers MCU-padded dummy
    # blocks while non-interleaved AC scans cover only the true grid
    for w, h, sub in ((61, 37, "420"), (50, 25, "422"), (41, 31, "444")):
        odd = _pattern_image(w + h, 42, w=w, h=h)
        assert np.array_equal(
            decode_jpeg(encode_jpeg(odd, subsample=sub)),
            decode_jpeg(encode_jpeg_progressive(odd, subsample=sub)),
        ), (w, h, sub)


def test_jpeg_progressive_eobn_runs_decode():
    """Other encoders (libjpeg with optimized tables) code long
    end-of-band runs as EOBn symbols — our encoder only ever emits
    EOB1, so exercise the decoder's EOBn path with a hand-built
    stream: a custom AC table defining EOB4 (symbol 0x20), one scan
    where the first block carries a coefficient and the rest share
    one EOB4 run."""
    from stockify_spark.llm.bits import MsbWriter as _BitWriter
    from stockify_spark.llm.jpeg import (
        _DC_LUMA,
        _build_codes,
        _dht_payload,
        _dqt_payload,
        _seg,
        decode_jpeg,
        encode_jpeg,
        QTABLE_LUMA,
    )

    # 32x8 grayscale → 4 blocks; flat 128 everywhere except block 0
    img = np.full((8, 32), 128, dtype=np.uint8)
    img[:, :8] = 160
    base = decode_jpeg(encode_jpeg(img))

    ac_bits = [0] * 16
    ac_vals = [0x00, 0x20, 0x01, 0xF0]  # EOB1, EOB4, run0/size1, ZRL
    ac_bits[2] = 4  # all four at length 3 (canonical, valid)
    dc_codes = _build_codes(*_DC_LUMA)
    ac_codes = _build_codes(ac_bits, ac_vals)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, _dqt_payload(0, QTABLE_LUMA))
    sof = bytes([8]) + (8).to_bytes(2, "big") + (32).to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
    out += _seg(0xC2, sof)
    out += _seg(0xC4, _dht_payload(0, 0, *_DC_LUMA))
    out += _seg(0xC4, _dht_payload(1, 0, ac_bits, ac_vals))
    # DC first scan, Al=0: diffs 4, -4, 0, 0 (quantized DC of
    # 160-128=32 is 32*8/16=16... compute from the baseline encoder's
    # own quantization: DC = round(8*(level-128)/16))
    from stockify_spark.llm.jpeg import _magnitude

    dcs = [16, 0, 0, 0]
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
    wtr = _BitWriter()
    pred = 0
    for dc in dcs:
        size, bits = _magnitude(dc - pred)
        pred = dc
        code, length = dc_codes[size]
        wtr.write(code, length)
        if size:
            wtr.write(bits, size)
    out += wtr.flush()
    # AC first scan 1..63, Al=0: all bands zero → one EOB4 covers
    # all four blocks
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0]))
    wtr = _BitWriter()
    code, length = ac_codes[0x20]
    wtr.write(code, length)
    wtr.write(3, 2)  # eobrun = (1<<2) + 3 - 1 → wait: 4 + bits(2)=3 → 7? see below
    out += wtr.flush()
    out += b"\xff\xd9"
    # EOB4 + 2 extension bits b11 → run = 4 + 3 = 7 blocks ≥ 4: fine
    got = decode_jpeg(bytes(out))
    assert np.array_equal(got, base)


def test_jpeg_progressive_restart_markers():
    """libjpeg commonly emits DRI + RSTn inside progressive scans:
    DC predictors and EOB runs must reset at each restart. Hand-build
    the same 4-block image as the EOBn test with restart_interval=2
    in the DC scan (two entropy segments, predictor resets between
    them) and per-segment EOB1s in the AC scan."""
    from stockify_spark.llm.bits import MsbWriter as _BitWriter
    from stockify_spark.llm.jpeg import (
        _DC_LUMA,
        _AC_LUMA,
        _build_codes,
        _dht_payload,
        _dqt_payload,
        _magnitude,
        _seg,
        decode_jpeg,
        encode_jpeg,
        QTABLE_LUMA,
    )

    img = np.full((8, 32), 128, dtype=np.uint8)
    img[:, :8] = 160
    base = decode_jpeg(encode_jpeg(img))

    dc_codes = _build_codes(*_DC_LUMA)
    ac_codes = _build_codes(*_AC_LUMA)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, _dqt_payload(0, QTABLE_LUMA))
    sof = bytes([8]) + (8).to_bytes(2, "big") + (32).to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
    out += _seg(0xC2, sof)
    out += _seg(0xC4, _dht_payload(0, 0, *_DC_LUMA))
    out += _seg(0xC4, _dht_payload(1, 0, *_AC_LUMA))
    out += _seg(0xDD, (2).to_bytes(2, "big"))  # DRI: restart every 2 MCUs

    def dc_bits(dcs, pred0=0):
        w = _BitWriter()
        pred = pred0
        for dc in dcs:
            size, bits = _magnitude(dc - pred)
            pred = dc
            code, length = dc_codes[size]
            w.write(code, length)
            if size:
                w.write(bits, size)
        return w.flush()

    # DC scan: blocks [16, 0] | RST0 | [0, 0] — predictor resets, so
    # the second segment codes 0-diffs from pred=0
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
    out += dc_bits([16, 0])
    out += b"\xff\xd0"  # RST0
    out += dc_bits([0, 0])
    # AC scan 1..63: all-zero bands; one EOB1 per block, split by RST1
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0]))
    w = _BitWriter()
    code, length = ac_codes[0x00]
    w.write(code, length)
    w.write(code, length)
    out += w.flush()
    out += b"\xff\xd1"  # RST1
    w = _BitWriter()
    w.write(code, length)
    w.write(code, length)
    out += w.flush()
    out += b"\xff\xd9"
    got = decode_jpeg(bytes(out))
    assert np.array_equal(got, base)


def test_frame_sample_plan(media):
    plan = frame_sample_plan(media, every_ms=500)
    rows = plan.collect()
    assert all(r["frame_ts_ms"] % 500 == 0 for r in rows)
    n_videos = media.filter(F.col("kind") == "video").count()
    assert plan.select("media_id").distinct().count() == n_videos
    # every video's frame count matches its duration
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter(F.col("kind") == "video").collect()
    }
    counts = {r["media_id"]: r["n"] for r in
              plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    for mid, dur in durations.items():
        assert counts[mid] == (dur - 1) // 500 + 1


def test_resize_images_touches_only_images(spark):
    from stockify_spark.llm.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, n=30)
    out = resize_images(media, target_w=16, target_h=12).collect()
    assert len(out) == media.filter("kind = 'image'").count()
    assert all(r["width"] == 16 and r["height"] == 12 for r in out)
    assert all(len(r["content"]) >= 16 for r in out)
    # deterministic across runs
    again = resize_images(media, target_w=16, target_h=12).collect()
    assert sorted(r["media_id"] for r in out) == sorted(r["media_id"] for r in again)


def test_y4m_parameterized_frame_headers_take_scan_fallback():
    """Y4M allows per-frame parameters after the FRAME marker; records
    then stop being fixed-size and decode must fall back to the
    header scan instead of fixed-offset arithmetic."""
    from stockify_spark.llm.y4m import decode_y4m, encode_y4m, frame_count

    rng = np.random.RandomState(11)
    frames = rng.randint(0, 256, size=(5, 4, 6)).astype(np.uint8)
    data = encode_y4m(frames, fps=(10, 1))
    # rewrite frame 2's bare marker as a parameterized one
    body = data.split(b"FRAME\n")
    assert len(body) == 6
    varied = (
        body[0]
        + b"FRAME\n" + body[1]
        + b"FRAME\n" + body[2]
        + b"FRAME Ixxx\n" + body[3]
        + b"FRAME\n" + body[4]
        + b"FRAME\n" + body[5]
    )
    assert frame_count(varied) == 5
    got, fps = decode_y4m(varied)
    assert fps == (10, 1) and np.array_equal(got, frames)
    some, _ = decode_y4m(varied, frame_indices=[4, 2])
    assert np.array_equal(some[0], frames[4])
    assert np.array_equal(some[1], frames[2])


def test_decode_matches_pattern_spec_within_oracle_tolerances():
    """The media_decode_real oracle's claim, pinned here without
    Spark: features of the DECODED payloads match features of the
    pre-encode pattern arrays exactly for lossless containers and
    within half the 0.05 oracle tolerance for baseline JPEG."""
    from stockify_spark.llm.jpeg import decode_jpeg
    from stockify_spark.llm.multimodal import (
        _image_feature,
        _synthetic_jpeg,
        _synthetic_png,
        _synthetic_wav,
        _synthetic_y4m,
        expected_media_features,
    )
    from stockify_spark.llm.png import decode_png
    from stockify_spark.llm.wav import audio_features, decode_wav
    from stockify_spark.llm.y4m import decode_y4m, video_features

    expected = dict((i, (e0, e3)) for i, e0, e3 in expected_media_features(24))
    for i in range(24):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            jpeg = (i // 3) % 2 == 1
            payload = _synthetic_jpeg(i, 42) if jpeg else _synthetic_png(i, 42)
            f = _image_feature(decode_jpeg(payload) if jpeg else decode_png(payload))
            tol = 0.025 if jpeg else 0.0
        elif kind == "audio":
            f = audio_features(*decode_wav(_synthetic_wav(i, 42, duration_ms=1000 + i)))
            tol = 0.0
        else:
            f = video_features(*decode_y4m(_synthetic_y4m(i, 42, duration_ms=1000 + i)))
            tol = 0.0
        e0, e3 = expected[i]
        assert abs(float(f[0]) - e0) <= tol, (i, kind, float(f[0]), e0)
        assert abs(float(f[3]) - e3) <= tol, (i, kind, float(f[3]), e3)
