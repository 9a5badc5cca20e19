"""Codec pins for llm/gif.py (LZW) and llm/adpcm.py (IMA ADPCM)."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from stockify_spark.llm.adpcm import (
    BLOCK_SAMPLES,
    STEP_TABLE,
    decode_ima,
    encode_ima,
)
from stockify_spark.llm.gif import decode_gif, encode_gif, lzw_decode, lzw_encode


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=4000))
def test_lzw_roundtrip_random(data):
    assert lzw_decode(lzw_encode(data, 8), 8, len(data)) == data


def test_lzw_roundtrip_forces_table_overflow_and_clear():
    # long repetitive stream drives next_code to 4096 repeatedly —
    # the Clear/reset path and every width from 9 to 12
    data = bytes([i % 7 for i in range(60000)])
    enc = lzw_encode(data, 8)
    assert lzw_decode(enc, 8, len(data)) == data
    assert len(enc) < len(data) // 3  # and it actually compresses


def test_lzw_kwkwk_case():
    # 'aaaa...' is the canonical KwKwK stream: the decoder receives
    # codes one ahead of its table on every step
    data = b"\x01" * 500
    assert lzw_decode(lzw_encode(data, 8), 8, len(data)) == data


def test_lzw_small_code_size():
    data = bytes([i % 4 for i in range(1000)])
    assert lzw_decode(lzw_encode(data, 2), 2, len(data)) == data


def test_lzw_eoi_at_widen_boundary():
    # r13 ADVICE item 4: when the decoder's table assignment for the
    # FINAL data code lands on 2^width - 1, an early-change decoder
    # widens before reading EOI; a pre-fix encoder wrote EOI at the
    # old width. LSB-first zero padding masks that except when the
    # widened read crosses into a byte the encoder never flushed —
    # this 295-pixel stream (found by search) puts the pre-widen EOI
    # flush exactly at a byte boundary, so the pre-fix encoder's
    # output raises "LZW bitstream truncated" in a conforming
    # decoder. Asking for MORE pixels than exist forces the decoder
    # to actually read EOI instead of exiting on count.
    data = bytes(
        int(c)
        for c in "2023223313023000132200310312110103201100010232311233122031"
        "2033030133013301010013111330020121320021123202232123213011001210"
        "0333002103001220020002211223120120320001232123033322302001032133"
        "1030330120230030232020322001031102011011333130022331020002003100"
        "303022200102110012203010202120002032031"
    )
    enc = lzw_encode(data, 2)
    assert lzw_decode(enc, 2, len(data) + 1) == data
    assert lzw_decode(enc, 2, len(data)) == data
    # cheap sibling: a 2-pixel stream whose final assignment also
    # lands on the widen boundary (7 = 2^3 - 1)
    assert lzw_decode(lzw_encode(b"\x00\x01", 2), 2, 3) == b"\x00\x01"


def test_lzw_stream_without_a_leading_clear_code():
    # the code table starts as a Clear code sets it: 9-bit codes 5
    # then 0 are literals, and the stream then runs out of bits
    assert lzw_decode(bytes([5, 0, 0]), 8, 2) == b"\x05\x00"
    with pytest.raises(ValueError):
        lzw_decode(bytes([5, 0, 0]), 8, 10)


# ---------------------------------------------------------------------------
# GIF container
# ---------------------------------------------------------------------------


def test_gif_multiframe_roundtrip_and_structure():
    w, h = 37, 23  # odd sizes cross sub-block boundaries unaligned
    frames = [
        bytes((x * 7 + y * 13 + 11 * f) % 256 for y in range(h) for x in range(w))
        for f in range(4)
    ]
    g = encode_gif(frames, w, h, delay_cs=7)
    assert g[:6] == b"GIF89a"
    assert struct.unpack("<HH", g[6:10]) == (w, h)
    assert g[-1] == 0x3B
    d = decode_gif(g)
    assert (d["width"], d["height"]) == (w, h)
    assert d["frames"] == frames
    assert d["delays_cs"] == [7, 7, 7, 7]


def test_gif_single_pixel_and_constant_frame():
    g = encode_gif([b"\x2a"], 1, 1)
    assert decode_gif(g)["frames"] == [b"\x2a"]
    flat = bytes([200]) * (64 * 64)
    assert decode_gif(encode_gif([flat], 64, 64))["frames"] == [flat]


def test_gif_rejects_garbage():
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + b"\x00" * 20)


# ---------------------------------------------------------------------------
# IMA ADPCM
# ---------------------------------------------------------------------------


def test_adpcm_block_headers_are_verbatim_and_stream_splits():
    wave = [60 * (abs((t % 100) - 50) - 25) for t in range(BLOCK_SAMPLES * 3 + 10)]
    dec = decode_ima(encode_ima(wave))
    assert len(dec) == len(wave)
    stride = BLOCK_SAMPLES + 1
    for b in range(0, len(wave), stride):
        assert dec[b] == wave[b]  # header sample stored verbatim


def test_adpcm_tracks_smooth_wave_tightly():
    wave = [30 * (abs(((t + 11) % 80) - 40) - 20) for t in range(3000)]
    dec = decode_ima(encode_ima(wave))
    errs = [abs(a - b) for a, b in zip(wave, dec)]
    assert max(errs) <= 128
    sig = sum(x * x for x in wave)
    noise = sum(e * e for e in errs)
    assert 10 * (sig / noise) > 10**4  # > 40 dB without math.log10


def test_adpcm_clamps_at_int16_rails():
    wave = [32767, -32768] * 600 + [32767] * 600
    dec = decode_ima(encode_ima(wave))
    assert len(dec) == len(wave)
    assert all(-32768 <= s <= 32767 for s in dec)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=1200)
)
def test_adpcm_roundtrip_random_never_diverges(wave):
    """Even on white noise (ADPCM's worst case) the decoder must
    stay sample-aligned and inside the step-table's reach: the
    reconstruction error is bounded by ~2x the largest step."""
    dec = decode_ima(encode_ima(wave))
    assert len(dec) == len(wave)
    bound = 2 * STEP_TABLE[-1]
    assert all(abs(a - b) <= bound for a, b in zip(wave, dec))


def test_adpcm_compression_ratio_near_4x():
    wave = [60 * (abs((t % 100) - 50) - 25) for t in range(BLOCK_SAMPLES * 4)]
    raw = encode_ima(wave)
    pcm_bytes = 2 * len(wave)
    assert pcm_bytes / len(raw) > 3.5
