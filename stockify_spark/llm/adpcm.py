"""Pure-stdlib IMA ADPCM codec (encode + decode) — the suite's first
LOSSY audio path.

Every audio codec here so far is lossless (PCM WAV, FLAC, the MP3
path is index/probe-shaped), but real speech/telephony corpora
arrive as 4-bit ADPCM (DVI4 in RTP, IMA blocks in WAV). This module
implements the IMA/DVI standard tables and update rule
(step-size table of 89 entries, index table {-1,-1,-1,-1,2,4,6,8}),
packed as a block stream: each block opens with the exact decoder
state (predictor int16 LE, step index uint8, reserved byte — the
DVI4 header shape) followed by 4-bit nibbles, low nibble first (the
IMA-in-WAV order).

Lossy means the differential oracle cannot restate decoded samples
in SQL; the registry query therefore pins the EXACT fields the
format guarantees (sample counts, the verbatim first sample per
block) and asserts the codec's error contract (bounded
reconstruction error / SNR) as booleans — deterministic, since both
codec and waveform are.
"""

from __future__ import annotations

import struct

from stockify_spark.llm.bits import malformed_input_guard

STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]

INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]

BLOCK_SAMPLES = 505  # samples per block AFTER the header sample


def _clamp16(x: int) -> int:
    return -32768 if x < -32768 else (32767 if x > 32767 else x)


def _clamp_idx(i: int) -> int:
    return 0 if i < 0 else (88 if i > 88 else i)


def _step(predictor: int, index: int, sample: int) -> tuple[int, int, int]:
    """One IMA encode step: quantize (sample - predictor) to a 4-bit
    code and advance (predictor, index) exactly as the decoder will."""
    step = STEP_TABLE[index]
    diff = sample - predictor
    code = 0
    if diff < 0:
        code = 8
        diff = -diff
    if diff >= step:
        code |= 4
        diff -= step
    if diff >= step >> 1:
        code |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        code |= 1
    predictor, index = _advance(predictor, index, code)
    return code, predictor, index


def _advance(predictor: int, index: int, code: int) -> tuple[int, int]:
    """Shared state update — the decode rule both sides must run."""
    step = STEP_TABLE[index]
    delta = step >> 3
    if code & 1:
        delta += step >> 2
    if code & 2:
        delta += step >> 1
    if code & 4:
        delta += step
    predictor = _clamp16(predictor - delta if code & 8 else predictor + delta)
    index = _clamp_idx(index + INDEX_TABLE[code & 7])
    return predictor, index


def encode_ima(samples: list[int]) -> bytes:
    """Encode int16 samples as an IMA block stream. Each block:
    4-byte state header (predictor int16 LE = the block's first
    sample VERBATIM, index uint8, n_nibbles-in-block marker uint8)
    then ceil(n/2) nibble bytes, low nibble first."""
    out = bytearray()
    index = 0
    pos = 0
    n = len(samples)
    while pos < n:
        first = _clamp16(samples[pos])
        pos += 1
        body = samples[pos : pos + BLOCK_SAMPLES]
        pos += len(body)
        out += struct.pack("<hBB", first, index, 0)
        predictor = first
        nibbles = []
        for s in body:
            code, predictor, index = _step(predictor, index, _clamp16(s))
            nibbles.append(code)
        if len(nibbles) % 2:
            nibbles.append(0)
        out.append(len(body) & 0xFF)  # low byte of body length
        out.append(len(body) >> 8)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out)


@malformed_input_guard("IMA ADPCM")
def decode_ima(data: bytes) -> list[int]:
    """Inverse of encode_ima."""
    out: list[int] = []
    pos = 0
    while pos < len(data):
        first, index, _rsvd = struct.unpack("<hBB", data[pos : pos + 4])
        pos += 4
        nbody = data[pos] | (data[pos + 1] << 8)
        pos += 2
        out.append(first)
        predictor = first
        nbytes = (nbody + 1) // 2
        got = 0
        for b in data[pos : pos + nbytes]:
            for code in (b & 0x0F, b >> 4):
                if got == nbody:
                    break
                predictor, index = _advance(predictor, index, code)
                out.append(predictor)
                got += 1
        pos += nbytes
    return out
