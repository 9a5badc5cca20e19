"""Pure-Python PNG codec (stdlib zlib/struct + numpy only).

The container has no native image codecs (PIL/libpng), but PNG's
format is just zlib-compressed filtered scanlines, so a correct
decoder needs nothing beyond the standard library. This gives the
multimodal operators (llm/multimodal.py) a REAL ``decode_stub=False``
branch for one modality: images encoded by :func:`encode_png` (or any
8-bit non-interlaced gray/RGB/RGBA PNG) decode to numpy pixel arrays
end-to-end inside the Spark UDFs.

Scope: bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA),
no interlacing — the overwhelmingly common cases. All five scanline
filters (None/Sub/Up/Average/Paeth) are implemented on the decode
side; the encoder emits filter 0 (zlib does the heavy lifting).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from stockify_spark.llm.bits import malformed_input_guard

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}  # color_type -> samples per pixel


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an 8-bit image array as a valid PNG.

    ``pixels``: (h, w) grayscale, or (h, w, 3) RGB, or (h, w, 4) RGBA,
    dtype uint8 (other dtypes are clipped+cast).
    """
    arr = np.asarray(pixels)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3, 4):
        raise ValueError(f"unsupported pixel shape {np.asarray(pixels).shape}")
    arr = np.clip(arr, 0, 255).astype(np.uint8)
    h, w, ch = arr.shape
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 per scanline
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@malformed_input_guard("PNG")
def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to a uint8 array: (h, w) for grayscale, else
    (h, w, channels). Supports bit depth 8, color types 0/2/6,
    interlace 0, all five scanline filters. Malformed input raises
    ValueError (the fuzz contract in llm/bits.py)."""
    if bytes(data[:8]) != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        body = bytes(data[pos + 8 : pos + 8 + length])
        pos += 12 + length  # len + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("not a PNG: missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in _CHANNELS or interlace != 0 or comp != 0:
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color_type={color_type},"
            f" interlace={interlace})"
        )
    ch = _CHANNELS[color_type]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("corrupt PNG: wrong decompressed length")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1).copy()
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub — per-byte-lane cumsum; uint8 wraps mod 256
            recon = line.reshape(-1, ch).cumsum(axis=0, dtype=np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            recon = line + prev
        elif ftype == 3:  # Average — sequential in x
            recon = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(recon[x - ch]) if x >= ch else 0
                recon[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth — sequential in x
            recon = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(recon[x - ch]) if x >= ch else 0
                upleft = int(prev[x - ch]) if x >= ch else 0
                recon[x] = (int(line[x]) + _paeth(left, int(prev[x]), upleft)) & 0xFF
        else:
            raise ValueError(f"corrupt PNG: filter type {ftype}")
        out[y] = recon
        prev = out[y]
    pixels = out.reshape(h, w, ch)
    return pixels[:, :, 0] if ch == 1 else pixels


def resize_nearest(pixels: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample (pixel-center mapping), any channel
    count — the decode→transform step of the resize pipeline."""
    h, w = pixels.shape[:2]
    ys = np.minimum(((np.arange(target_h) + 0.5) * h / target_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(target_w) + 0.5) * w / target_w).astype(np.int64), w - 1)
    return pixels[ys][:, xs]
