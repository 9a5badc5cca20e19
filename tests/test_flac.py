"""FLAC codec tests (llm/flac.py): bit-exact lossless round trip
under hypothesis-style fuzz, frame-boundary coverage, every subframe
type the encoder can emit, corruption detection via the CRC/MD5
self-checks, and the STREAMINFO router. The registry query's
cross-engine value exactness is covered by the differential gate."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from stockify_spark.llm.flac import (
    BLOCKSIZE,
    crc8,
    crc16,
    decode_flac,
    encode_flac,
    parse_streaminfo,
)


def _round_trip(samples, rate=16000):
    enc = encode_flac(samples, rate)
    dec, got_rate = decode_flac(enc)
    assert dec == samples
    assert got_rate == rate
    return enc


def test_round_trip_waveform_families():
    rnd = random.Random(42)
    _round_trip([0] * 100)  # constant → SUBFRAME_CONSTANT
    _round_trip([1234] * 5000)  # constant across frames
    _round_trip([rnd.randint(-32768, 32767) for _ in range(3000)])  # noise
    _round_trip([int(2000 * math.sin(t / 20)) for t in range(10000)])  # tonal
    _round_trip(list(range(-2000, 2000)))  # ramp → order-1/2 predictor
    _round_trip([32767, -32768] * 2500)  # full-scale alternation
    _round_trip([7])  # single sample


def test_round_trip_fuzz_mixed_predictor_regimes():
    rnd = random.Random(7)
    for _ in range(20):
        n = rnd.randint(1, 3 * BLOCKSIZE + 50)
        kind = rnd.randint(0, 3)
        if kind == 0:
            s = [rnd.randint(-40, 40) for _ in range(n)]
        elif kind == 1:
            base = rnd.randint(-30000, 30000)
            s = [base + rnd.randint(-3, 3) for _ in range(n)]
        elif kind == 2:
            s = [int(10000 * math.sin(t / rnd.randint(3, 50))) for t in range(n)]
        else:
            s = [rnd.randint(-32768, 32767) for _ in range(n)]
        _round_trip(s)


def test_frame_boundary_exactness():
    """Streams of exactly one frame, one frame ± 1 sample, and
    several frames must all reconstruct exactly (the off-by-one
    classes a block codec can hide)."""
    for n in (BLOCKSIZE - 1, BLOCKSIZE, BLOCKSIZE + 1, 3 * BLOCKSIZE + 17):
        _round_trip([((t * t) % 4001) - 2000 for t in range(n)])


def test_compression_actually_compresses_smooth_signals():
    smooth = [int(2000 * math.sin(t / 30)) for t in range(20000)]
    enc = encode_flac(smooth)
    assert len(enc) < 0.4 * (2 * len(smooth))  # rice over order-2 residuals


def test_corruption_always_detected():
    """Any single flipped byte in the stream must raise, never
    silently mis-decode — that is what CRC-8/16 + MD5 buy."""
    samples = [int(3000 * math.sin(t / 15)) for t in range(6000)]
    enc = bytearray(encode_flac(samples))
    rnd = random.Random(3)
    for _ in range(40):
        pos = rnd.randrange(42, len(enc))  # past magic + STREAMINFO header
        flipped = bytearray(enc)
        flipped[pos] ^= 1 << rnd.randrange(8)
        try:
            dec, _ = decode_flac(bytes(flipped))
            assert dec == samples  # only acceptable if the flip was outside data
            pytest.fail("flip changed nothing — unreachable byte?")
        except (ValueError, NotImplementedError):
            pass


def test_streaminfo_router():
    enc = encode_flac([5] * 12345, sample_rate=44100)
    info = parse_streaminfo(enc)
    assert info["total_samples"] == 12345
    assert info["sample_rate"] == 44100
    assert info["channels"] == 1 and info["bits"] == 16


def test_crc_vectors():
    """Known CRC properties: empty data → 0; CRC of data + its own
    CRC byte(s) → 0 (the standard check identity for both polys)."""
    assert crc8(b"") == 0 and crc16(b"") == 0
    data = b"stockify"
    assert crc8(data + bytes([crc8(data)])) == 0
    c16 = crc16(data)
    assert crc16(data + bytes([c16 >> 8, c16 & 0xFF])) == 0


def test_encoder_rejects_out_of_range():
    with pytest.raises(ValueError):
        encode_flac([40000])


def test_registry_query_round_trips_on_spark(spark):
    from stockify_spark.registry import QUERIES

    rows = QUERIES["media_flac_decode"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 24
    by_id = {r.media_id: r for r in rows}
    # id 8 is the first stream longer than one 4096-sample frame
    assert by_id[8].n_samples == 3000 + 153 * 8 > BLOCKSIZE
    assert all(r.sample_rate == 16000 for r in rows)
    assert all(0 < r.peak <= 2000 for r in rows)


# ---------------------------------------------------------------------------
# hypothesis: arbitrary int16 waveforms always round-trip losslessly
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=9000))
@settings(max_examples=40, deadline=None)
def test_flac_round_trip_arbitrary_waveforms(samples):
    dec, rate = decode_flac(encode_flac(samples, 8000))
    assert dec == samples and rate == 8000


def test_partitioned_rice_is_used_and_round_trips():
    """Nonstationary blocks (quiet half, loud half) must make the
    encoder CHOOSE partition order > 0 — per-partition parameters are
    the whole point — and still decode bit-exactly."""
    from stockify_spark.llm.bits import MsbWriter as _BitWriter
    from stockify_spark.llm.flac import _difference, _write_residuals

    quiet = [((t * 7) % 5) - 2 for t in range(2048)]
    loud = [((t * t) % 20001) - 10000 for t in range(2048)]
    samples = quiet + loud
    _round_trip(samples)  # lossless through the full codec
    # the chosen residual coding really is partitioned: encode the
    # residuals directly and read the header fields back (2-bit
    # method, then 4-bit partition order — both in the first byte)
    w = _BitWriter()
    _write_residuals(w, _difference(samples, 1), len(samples), 1)
    first = w._out[0]
    assert first >> 6 == 0  # method: 4-bit rice
    assert (first >> 2) & 0xF > 0  # partition order chosen > 0


def test_lpc_subframes_chosen_and_lossless():
    """Noisy tonal content is where fixed differencing loses (it
    amplifies the noise 2^order-fold) and real LPC wins: the encoder
    must CHOOSE an LPC subframe there (stream shrinks vs fixed-only),
    and the integer-prediction decode must stay bit-exact."""
    import stockify_spark.llm.flac as fl

    rnd = random.Random(1)
    s = [int(8000 * math.sin(t / 30)) + rnd.randint(-50, 50) for t in range(9000)]
    enc = fl.encode_flac(s, 16000)
    dec, _ = fl.decode_flac(enc)
    assert dec == s
    # an int16 array must encode exactly like the list (numpy int16
    # products overflow in the LPC autocorrelation)
    assert fl.encode_flac(np.array(s, dtype=np.int16), 16000) == enc
    orig = fl._lpc_analyze
    try:
        fl._lpc_analyze = lambda *a, **k: None  # disable LPC candidates
        fixed_only = fl.encode_flac(s, 16000)
    finally:
        fl._lpc_analyze = orig
    assert len(enc) < len(fixed_only)  # LPC was chosen AND paid off
    dec2, _ = fl.decode_flac(fixed_only)
    assert dec2 == s  # fixed path unchanged


def test_lpc_quantization_fits_precision():
    from stockify_spark.llm.flac import _lpc_analyze, _quantize_lpc

    s = [int(12000 * math.sin(t / 9.7)) for t in range(4096)]
    coefs = _lpc_analyze(s, 8)
    assert coefs is not None
    q, shift = _quantize_lpc(coefs, 12)
    lim = 1 << 11
    assert all(-lim <= x < lim for x in q)
    assert 0 <= shift <= 14


def test_stereo_decorrelation_round_trips_and_pays():
    """Stereo: every channel-assignment path must reconstruct both
    channels bit-exactly (including the 17-bit side channel at full
    scale and mid/side parity), and joint-stereo must beat two
    independent mono encodes on correlated content."""
    rnd = random.Random(5)
    L = [int(9000 * math.sin(t / 21)) + rnd.randint(-30, 30) for t in range(9000)]
    R = [int(9000 * math.sin(t / 21)) + rnd.randint(-30, 30) for t in range(9000)]
    enc = encode_flac((L, R), 44100)
    (dl, dr), rate = decode_flac(enc)
    assert dl == L and dr == R and rate == 44100
    assert len(enc) < len(encode_flac(L, 44100)) + len(encode_flac(R, 44100))
    # full-scale side channel: L-R needs all 17 bits
    (dl, dr), _ = decode_flac(encode_flac(([32767] * 3000, [-32768] * 3000)))
    assert dl == [32767] * 3000 and dr == [-32768] * 3000
    # mid/side parity torture: odd sums drop a bit into the side LSB
    Lo = [t % 2 + 100 for t in range(5000)]
    Ro = [100] * 5000
    (dl, dr), _ = decode_flac(encode_flac((Lo, Ro)))
    assert dl == Lo and dr == Ro


@given(
    pairs=st.lists(
        st.tuples(st.integers(-32768, 32767), st.integers(-32768, 32767)),
        min_size=1,
        max_size=6000,
    )
)
@settings(max_examples=25, deadline=None)
def test_flac_stereo_round_trip_arbitrary(pairs):
    L = [a for a, _ in pairs]
    R = [b for _, b in pairs]
    (dl, dr), _ = decode_flac(encode_flac((L, R), 8000))
    assert dl == L and dr == R
