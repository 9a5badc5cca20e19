"""Pure-Python Y4M (YUV4MPEG2) video codec — stdlib + numpy only.

Completes the modality set (llm/png.py images, llm/wav.py audio):
YUV4MPEG2 is an uncompressed header-delimited stream — an ASCII
header (`YUV4MPEG2 W<w> H<h> F<num>:<den> ... C420`) followed by
`FRAME\\n` markers each carrying one 4:2:0 picture (Y plane h×w, then
U and V at quarter size). No entropy coding, so a correct codec needs
nothing beyond numpy, and frame access is O(1) arithmetic on offsets
— which is exactly why frame-sampling pipelines love intermediate
uncompressed formats.

Scope: C420 (4:2:0), 8-bit, progressive — the plain case. Compressed
containers (mp4/webm) genuinely need ffmpeg and stay stubbed.
"""

from __future__ import annotations

import numpy as np

from stockify_spark.llm.bits import malformed_input_guard

_MAGIC = b"YUV4MPEG2"


def encode_y4m(
    y_frames: np.ndarray,
    fps: tuple[int, int] = (25, 1),
    u_frames: np.ndarray | None = None,
    v_frames: np.ndarray | None = None,
) -> bytes:
    """Encode luma frames (n, h, w) uint8 as a C420 Y4M stream.
    Chroma defaults to neutral 128 (grayscale video); pass quarter-
    size ``u_frames``/``v_frames`` (n, h//2, w//2) for color. h and w
    must be even (4:2:0 subsampling)."""
    y = np.asarray(y_frames)
    if y.ndim != 3:
        raise ValueError(f"expected (n, h, w) luma frames, got {y.shape}")
    n, h, w = y.shape
    if h % 2 or w % 2:
        raise ValueError("C420 needs even frame dimensions")
    y = np.clip(y, 0, 255).astype(np.uint8)
    if u_frames is None:
        u = np.full((n, h // 2, w // 2), 128, dtype=np.uint8)
    else:
        u = np.clip(u_frames, 0, 255).astype(np.uint8)
    if v_frames is None:
        v = np.full((n, h // 2, w // 2), 128, dtype=np.uint8)
    else:
        v = np.clip(v_frames, 0, 255).astype(np.uint8)
    header = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420\n".encode()
    parts = [header]
    for i in range(n):
        parts.append(b"FRAME\n")
        parts.append(y[i].tobytes())
        parts.append(u[i].tobytes())
        parts.append(v[i].tobytes())
    return b"".join(parts)


def _parse_header(data: bytes) -> tuple[int, int, tuple[int, int], int]:
    nl = data.index(b"\n")
    fields = data[:nl].split(b" ")
    if fields[0] != _MAGIC:
        raise ValueError("not a Y4M: bad magic")
    w = h = None
    fps = (25, 1)
    colorspace = b"C420"
    for f in fields[1:]:
        if f.startswith(b"W"):
            w = int(f[1:])
        elif f.startswith(b"H"):
            h = int(f[1:])
        elif f.startswith(b"F"):
            num, den = f[1:].split(b":")
            fps = (int(num), int(den))
        elif f.startswith(b"C"):
            colorspace = f
    if w is None or h is None:
        raise ValueError("not a Y4M: missing W/H")
    if not colorspace.startswith(b"C420"):
        raise ValueError(f"unsupported Y4M colorspace {colorspace!r}")
    return w, h, fps, nl + 1


def _frame_bodies(data: bytes, pos: int, frame_bytes: int) -> list[int]:
    """Offset of each frame's plane data. Bare ``FRAME\\n`` markers
    (what our encoder emits) make records fixed-size, so offsets are
    pure arithmetic; a stream with parameterized FRAME headers fails
    the marker probe and takes the header-scan fallback — still no
    pixel reads for skipped frames, one 5-byte compare per record."""
    marker = b"FRAME"
    rec = len(marker) + 1 + frame_bytes
    if (len(data) - pos) % rec == 0:
        n = (len(data) - pos) // rec
        if all(
            data[pos + i * rec : pos + i * rec + len(marker) + 1] == marker + b"\n"
            for i in range(n)
        ):
            return [pos + i * rec + len(marker) + 1 for i in range(n)]
    bodies, p = [], pos
    while p < len(data):
        if data[p : p + len(marker)] != marker:
            raise ValueError(f"corrupt Y4M: no FRAME marker at {p}")
        body = data.index(b"\n", p) + 1
        bodies.append(body)
        p = body + frame_bytes
    return bodies


@malformed_input_guard("Y4M")
def _layout(data: bytes) -> tuple[int, int, tuple[int, int], list[int]]:
    """(width, height, fps, frame body offsets). Malformed input raises
    ValueError (the fuzz contract in llm/bits.py); a frame index out
    of range stays the caller's IndexError, as in llm/avi.py."""
    w, h, fps, pos = _parse_header(data)
    frame_bytes = w * h + 2 * ((w * h) // 4)
    return w, h, fps, _frame_bodies(data, pos, frame_bytes)


def frame_count(data: bytes) -> int:
    """Number of frames — header/offset arithmetic, no pixel decode."""
    return len(_layout(bytes(data))[3])


def decode_y4m(
    data: bytes, frame_indices: list[int] | None = None
) -> tuple[np.ndarray, tuple[int, int]]:
    """Decode a C420 Y4M stream to luma frames (n, h, w) uint8 and
    the frame rate. ``frame_indices`` decodes ONLY those frames —
    uncompressed frames sit at fixed offsets, so sampling frame k is
    pointer arithmetic, not a scan (the explode-before-decode shape:
    each task seeks straight to its frames)."""
    data = bytes(data)
    w, h, fps, bodies = _layout(data)
    n_frames = len(bodies)
    if frame_indices is None:
        frame_indices = list(range(n_frames))
    frames = np.zeros((len(frame_indices), h, w), dtype=np.uint8)
    for out_i, idx in enumerate(frame_indices):
        if not 0 <= idx < n_frames:
            raise IndexError(f"frame {idx} out of range 0..{n_frames - 1}")
        frames[out_i] = np.frombuffer(
            data, dtype=np.uint8, count=w * h, offset=bodies[idx]
        ).reshape(h, w)
    return frames, fps


def video_features(frames: np.ndarray, fps: tuple[int, int], n_bins: int = 10) -> np.ndarray:
    """Real video features from decoded luma: [n_frames, fps, mean,
    std, mean |frame-to-frame delta| (motion energy), temporal std of
    frame means] + ``n_bins`` luma histogram = 16 floats for the
    default bin count."""
    x = np.asarray(frames, dtype=np.float64)
    n = len(x)
    means = x.mean(axis=(1, 2)) if n else np.zeros(0)
    motion = float(np.abs(np.diff(x, axis=0)).mean()) / 255.0 if n > 1 else 0.0
    hist, _ = np.histogram(x, bins=n_bins, range=(0.0, 256.0))
    hist = hist.astype(np.float64) / max(x.size, 1)
    head = np.array(
        [
            float(n),
            fps[0] / fps[1],
            float(x.mean()) / 255.0 if n else 0.0,
            float(x.std()) / 255.0 if n else 0.0,
            motion,
            float(means.std()) / 255.0 if n else 0.0,
        ]
    )
    return np.concatenate([head, hist]).astype(np.float32)
