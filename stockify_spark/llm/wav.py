"""Pure-Python WAV (RIFF PCM) codec — stdlib struct + numpy only.

Companion to llm/png.py: WAV PCM is an uncompressed RIFF container,
so a correct codec needs no native audio libraries. This gives the
multimodal operators a REAL ``decode_stub=False`` branch for audio:
payloads built by :func:`encode_wav` (or any 16-bit PCM WAV) decode
to numpy sample arrays end-to-end inside the Spark UDFs.

Scope: PCM format 1, 16-bit signed little-endian samples, mono or
interleaved multi-channel — the plain uncompressed case.
"""

from __future__ import annotations

import struct

import numpy as np

from stockify_spark.llm.bits import malformed_input_guard


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Encode int16 samples as a PCM WAV. ``samples``: (n,) mono or
    (n, channels) interleaved; other dtypes are clipped+cast."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError(f"unsupported sample shape {np.asarray(samples).shape}")
    arr = np.clip(arr, -32768, 32767).astype("<i2")
    n_frames, n_ch = arr.shape
    data = arr.tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


@malformed_input_guard("WAV")
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV to (samples, sample_rate). Samples come back
    int16, shape (n,) for mono else (n, channels)."""
    data = bytes(data)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            pcm = body
    if fmt is None or pcm is None:
        raise ValueError("not a WAV: missing fmt/data chunk")
    audio_format, n_ch, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV variant (format={audio_format}, bits={bits})")
    samples = np.frombuffer(pcm[: (len(pcm) // (2 * n_ch)) * 2 * n_ch], dtype="<i2")
    samples = samples.reshape(-1, n_ch)
    return (samples[:, 0] if n_ch == 1 else samples), sample_rate


def audio_features(samples: np.ndarray, sample_rate: int, n_bands: int = 10) -> np.ndarray:
    """Real audio features from decoded PCM: [rms, peak, zero-crossing
    rate, spectral centroid (normalized), duration_s, log-energy] +
    ``n_bands`` normalized FFT band energies = 16 floats for the
    default band count."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim > 1:
        x = x.mean(axis=1)
    x = x / 32768.0
    n = len(x)
    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
    peak = float(np.abs(x).max()) if n else 0.0
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(x)) if n else np.zeros(1)
    power = spec * spec
    total = power.sum()
    freqs = np.fft.rfftfreq(max(n, 1), d=1.0 / sample_rate)
    centroid = float((freqs * power).sum() / total / (sample_rate / 2)) if total > 0 else 0.0
    bands = np.array_split(power, n_bands)
    band_e = np.array([b.sum() for b in bands])
    band_e = band_e / total if total > 0 else band_e
    head = np.array(
        [rms, peak, zcr, centroid, n / sample_rate, float(np.log1p(total))]
    )
    return np.concatenate([head, band_e]).astype(np.float32)
