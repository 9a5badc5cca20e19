"""Pins for the H.264 I_PCM codec (queries/media.py / llm/h264.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def test_ipcm_lossless_roundtrip_various_geometries():
    """Encode → decode must reproduce every luma sample exactly for
    several frame geometries and bases, including patterns that
    force emulation-prevention insertions (zero-byte runs)."""
    from stockify_spark.llm.h264 import decode_h264_ipcm, encode_h264_ipcm

    for w, h, base, cb, cr in [
        (16, 16, 0, 0, 0),      # all-zero start: EP-heavy stream
        (32, 16, 7, 128, 255),
        (48, 32, 100, 1, 2),
        (16, 48, 150, 200, 100),
    ]:
        data = encode_h264_ipcm(w, h, base, cb, cr)
        f = decode_h264_ipcm(data)
        assert (f["width"], f["height"]) == (w, h)
        assert f["n_mb"] == (w // 16) * (h // 16)
        for y in range(h):
            for x in range(w):
                assert f["luma"][y * w + x] == (base + x + 2 * y) & 0xFF, (x, y)
        assert f["cb0"] == cb and f["cr0"] == cr


def test_ipcm_decoder_rejects_coded_macroblocks():
    """A structural stub stream (non-PCM slice payload) must hit the
    honest boundary, not mis-decode."""
    from stockify_spark.llm.h264 import encode_h264_annexb, decode_h264_ipcm

    stub = encode_h264_annexb(32, 32, n_idr=1, n_non_idr=0)
    with pytest.raises((NotImplementedError, ValueError)):
        decode_h264_ipcm(stub)


def test_ipcm_probe_and_decode_agree():
    """The structural probe and the full decode must report the same
    geometry for the same stream."""
    from stockify_spark.llm.h264 import (
        decode_h264_ipcm,
        encode_h264_ipcm,
        h264_probe,
    )

    data = encode_h264_ipcm(32, 32, 40, 130, 70)
    p = h264_probe(data)
    f = decode_h264_ipcm(data)
    assert (p["width"], p["height"]) == (f["width"], f["height"])
    assert p["n_idr"] == 1


def test_ipcm_query_matches_spec(spark):
    from stockify_spark.queries.media import media_h264_ipcm_decode

    rows = {r.media_id: r for r in media_h264_ipcm_decode(spark, SF_SMALL).collect()}
    assert set(rows) == set(range(6))
    for i, r in rows.items():
        assert r.mean_luma == round(16 + 8 * i + 46.5, 4)
        assert r.cb0 == 120 + i and r.cr0 == 60 + 2 * i
        assert r.n_mb == 4
