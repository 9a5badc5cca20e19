"""Pure-Python MP4 (ISO BMFF) container with Photo-JPEG video —
stdlib + numpy only.

The second compressed-container family after MJPEG-in-AVI
(llm/avi.py): MP4's box structure is the public ISO/IEC 14496-12
spec, and the 'jpeg' VisualSampleEntry (Photo JPEG, inherited from
QuickTime and registered for MP4 at mp4ra.org) stores one
independently coded baseline JPEG per sample — exactly the codec
llm/jpeg.py already implements. So the parser stays stdlib-only
while both the container AND the payload are real formats a user's
corpus would contain.

Layout written/understood here::

    ftyp                       brand 'isom'
    mdat                       concatenated JPEG samples
    moov
      mvhd                     movie header (timescale, duration)
      trak
        tkhd                   track header (dims as 16.16 fixed)
        mdia
          mdhd                 media timescale/duration
          hdlr 'vide'
          minf
            vmhd + dinf/dref
            stbl
              stsd 'jpeg'      visual sample entry (w, h)
              stts             time-to-sample (uniform delta = fps)
              stsc             sample-to-chunk runs
              stsz             per-sample byte sizes
              stco             chunk byte offsets (absolute)

The stbl sample tables are the point for the Spark pipelines: like
AVI's idx1, ``stsz``+``stco``+``stsc`` give O(1) access to sample k
— the explode-before-decode shape (llm/multimodal.sample_frames)
seeks straight to one JPEG and entropy-decodes ONLY that frame,
never the clip. The decoder expands general stsc runs and accepts
co64 (64-bit offsets) and largesize boxes, so real muxer output
parses, not just our own writer's.

Scope: 'jpeg' (and the motion-JPEG twins 'mjpa'/'mjpb' when their
samples are plain baseline scans) video tracks. Inter-frame codecs
('avc1', 'hev1', 'mp4v', 'vp09') need native decoders and raise
NotImplementedError — the honest-boundary policy unchanged
(llm/multimodal.py module docstring).
"""

from __future__ import annotations

import struct

import numpy as np

from stockify_spark.llm.bits import malformed_input_guard
from stockify_spark.llm.jpeg import decode_jpeg, encode_jpeg

_JPEG_FOURCC = (b"jpeg", b"mjpa", b"mjpb")


def _box(boxtype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + boxtype + payload


def _full(boxtype: bytes, payload: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(boxtype, struct.pack(">I", (version << 24) | flags) + payload)


def encode_mp4_mjpeg(y_frames: np.ndarray, fps: tuple[int, int] = (10, 1)) -> bytes:
    """Encode luma frames (n, h, w) uint8 as a Photo-JPEG MP4: each
    frame is an independent grayscale baseline JPEG (llm/jpeg.py)
    sample in mdat, one sample per chunk, with full stbl tables for
    O(1) sample seeks. Media timescale is ``fps[0]`` with a uniform
    per-sample delta of ``fps[1]`` so the rate is represented
    exactly."""
    y = np.asarray(y_frames)
    if y.ndim != 3:
        raise ValueError(f"expected (n, h, w) luma frames, got {y.shape}")
    n, h, w = y.shape
    jpegs = [encode_jpeg(np.clip(y[i], 0, 255).astype(np.uint8)) for i in range(n)]

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom" + b"iso2" + b"mp41")
    mdat_payload = b"".join(jpegs)

    # absolute sample offsets: ftyp, then mdat's 8-byte header
    base = len(ftyp) + 8
    offsets = []
    pos = base
    for j in jpegs:
        offsets.append(pos)
        pos += len(j)

    timescale, delta = fps
    duration = n * delta

    mvhd = _full(
        b"mvhd",
        struct.pack(">II", 0, 0)  # creation/modification time
        + struct.pack(">II", timescale, duration)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2),  # next_track_ID
    )
    tkhd = _full(
        b"tkhd",
        struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track_ID
        + b"\x00" * 4  # reserved
        + struct.pack(">I", duration)
        + b"\x00" * 8  # reserved
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer, group, volume, rsvd
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed dims
        flags=0x7,  # enabled | in_movie | in_preview
    )
    mdhd = _full(
        b"mdhd",
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', quality
    )
    hdlr = _full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    vmhd = _full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    dref = _full(b"dref", struct.pack(">I", 1) + _full(b"url ", b"", flags=1))
    dinf = _box(b"dinf", dref)

    # VisualSampleEntry 'jpeg' (ISO 14496-12 §12.1.3)
    entry = (
        b"\x00" * 6  # reserved
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4  # reserved
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    stsd = _full(b"stsd", struct.pack(">I", 1) + _box(b"jpeg", entry))
    stts = _full(b"stts", struct.pack(">III", 1, n, delta))
    stsc = _full(b"stsc", struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _full(
        b"stsz",
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(j)) for j in jpegs),
    )
    stco = _full(
        b"stco",
        struct.pack(">I", n) + b"".join(struct.pack(">I", o) for o in offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + _box(b"mdat", mdat_payload) + moov


def _walk_boxes(data: bytes, pos: int, end: int):
    """Yield (boxtype, body_start, body_size) for each box in
    [pos, end); handles largesize (size==1) and to-end (size==0)."""
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        boxtype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError(f"corrupt MP4: truncated largesize at {pos}")
            size = struct.unpack_from(">Q", data, body)[0]
            body += 8
            total = size
        elif size == 0:
            size = end - pos
            total = size
        else:
            total = size
        if size < 8 or pos + total > end:
            raise ValueError(f"corrupt MP4: box {boxtype!r} at {pos} overruns parent")
        yield boxtype, body, pos + total - body
        pos += total


def _find(data: bytes, pos: int, end: int, boxtype: bytes):
    for t, body, size in _walk_boxes(data, pos, end):
        if t == boxtype:
            return body, size
    return None


def _full_body(data: bytes, body: int) -> tuple[int, int]:
    """(version, payload_start) of a FullBox."""
    return data[body], body + 4


def _parse_video_stbl(data: bytes, body: int, size: int, info: dict) -> None:
    end = body + size
    stsz_sizes: list[int] = []
    chunk_offsets: list[int] = []
    stsc_runs: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    for t, b, s in _walk_boxes(data, body, end):
        if t == b"stsd":
            _, p = _full_body(data, b)
            n_entries = struct.unpack_from(">I", data, p)[0]
            if n_entries >= 1:
                entry_body = p + 4 + 8  # first entry's box header
                info["codec"] = data[p + 4 + 4 : p + 4 + 8]
                info["width"], info["height"] = struct.unpack_from(
                    ">HH", data, entry_body + 24
                )
        elif t == b"stts":
            _, p = _full_body(data, b)
            n_entries = struct.unpack_from(">I", data, p)[0]
            if n_entries >= 1:
                _count, delta = struct.unpack_from(">II", data, p + 4)
                info["sample_delta"] = delta
        elif t == b"stsz":
            _, p = _full_body(data, b)
            fixed, n = struct.unpack_from(">II", data, p)
            if fixed:
                stsz_sizes = [fixed] * n
            else:
                stsz_sizes = list(struct.unpack_from(f">{n}I", data, p + 8))
        elif t in (b"stco", b"co64"):
            _, p = _full_body(data, b)
            n = struct.unpack_from(">I", data, p)[0]
            fmt = ">%d%s" % (n, "I" if t == b"stco" else "Q")
            chunk_offsets = list(struct.unpack_from(fmt, data, p + 4))
        elif t == b"stsc":
            _, p = _full_body(data, b)
            n = struct.unpack_from(">I", data, p)[0]
            for e in range(n):
                first, per, _desc = struct.unpack_from(">III", data, p + 4 + 12 * e)
                stsc_runs.append((first, per))

    # Expand the chunk map into per-sample (offset, size): stsc runs
    # give samples-per-chunk from first_chunk (1-based) until the
    # next run; samples are contiguous within a chunk.
    frames: list[tuple[int, int]] = []
    if stsz_sizes and chunk_offsets:
        runs = stsc_runs or [(1, len(stsz_sizes))]
        si = 0
        for ci, chunk_off in enumerate(chunk_offsets, start=1):
            per = next(
                (p for f, p in reversed(runs) if f <= ci),
                runs[0][1],
            )
            off = chunk_off
            for _ in range(per):
                if si >= len(stsz_sizes):
                    break
                frames.append((off, stsz_sizes[si]))
                off += stsz_sizes[si]
                si += 1
    info["frames"] = frames


@malformed_input_guard("MP4")
def _parse_mp4(data: bytes) -> dict:
    """Single moov pass: dims, codec fourcc, timescale/delta, and the
    per-sample (offset, size) table of the first video track. No
    pixel decode. Malformed input raises ValueError (the fuzz
    contract in llm/bits.py)."""
    if len(data) < 12:
        raise ValueError("not an MP4: too short")
    first = data[4:8]
    if first not in (b"ftyp", b"moov", b"mdat", b"free", b"wide", b"skip"):
        raise ValueError(f"not an MP4: unexpected leading box {first!r}")

    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("corrupt MP4: no moov box")
    info: dict = {
        "width": None,
        "height": None,
        "codec": None,
        "timescale": None,
        "sample_delta": None,
        "frames": [],
    }
    mbody, msize = moov
    for t, body, size in _walk_boxes(data, mbody, mbody + msize):
        if t != b"trak":
            continue
        mdia = _find(data, body, body + size, b"mdia")
        if mdia is None:
            continue
        dbody, dsize = mdia
        hdlr = _find(data, dbody, dbody + dsize, b"hdlr")
        if hdlr is None or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue  # audio/hint tracks: not ours
        mdhd = _find(data, dbody, dbody + dsize, b"mdhd")
        if mdhd is not None:
            version, p = _full_body(data, mdhd[0])
            # v1 mdhd has 64-bit times before the timescale
            info["timescale"] = struct.unpack_from(">I", data, p + (16 if version else 8))[0]
        minf = _find(data, dbody, dbody + dsize, b"minf")
        if minf is None:
            continue
        stbl = _find(data, minf[0], minf[0] + minf[1], b"stbl")
        if stbl is None:
            continue
        _parse_video_stbl(data, stbl[0], stbl[1], info)
        break
    if not info["frames"]:
        raise ValueError("corrupt MP4: no video sample table")
    if info["codec"] is not None and info["codec"] not in _JPEG_FOURCC:
        raise NotImplementedError(
            f"MP4 video codec {info['codec']!r} needs a native decoder;"
            " this parser handles 'jpeg' (Photo JPEG) sample entries"
        )
    return info


def mp4_info(data: bytes) -> tuple[int, int, tuple[int, int], int]:
    """(width, height, fps, n_frames) from moov alone — the
    metadata-probe path: no entropy decode, O(moov) work. fps is
    (media timescale, uniform stts delta), the exact rational the
    writer stored."""
    data = bytes(data)
    info = _parse_mp4(data)
    fps = (info["timescale"] or 0, info["sample_delta"] or 1)
    return info["width"], info["height"], fps, len(info["frames"])


def frame_count(data: bytes) -> int:
    return mp4_info(data)[3]


def decode_mp4_mjpeg(
    data: bytes, frame_indices: list[int] | None = None
) -> tuple[np.ndarray, tuple[int, int]]:
    """Decode a Photo-JPEG MP4 to luma frames (n, h, w) uint8 and the
    frame rate. ``frame_indices`` entropy-decodes ONLY those samples
    — the stbl tables make sample k one seek + one JPEG decode. RGB
    scans reduce to luma with the BT.601 weights (same as
    llm/avi.decode_avi_mjpeg)."""
    data = bytes(data)
    info = _parse_mp4(data)
    frames = info["frames"]
    if frame_indices is None:
        frame_indices = list(range(len(frames)))
    out = None
    for out_i, idx in enumerate(frame_indices):
        if not 0 <= idx < len(frames):
            raise IndexError(f"frame {idx} out of range 0..{len(frames) - 1}")
        start, size = frames[idx]
        pix = decode_jpeg(data[start : start + size])
        if pix.ndim == 3:
            rgb = pix.astype(np.float64)
            pix = np.clip(
                np.round(0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]),
                0,
                255,
            ).astype(np.uint8)
        if out is None:
            out = np.zeros((len(frame_indices),) + pix.shape, dtype=np.uint8)
        out[out_i] = pix
    if out is None:
        h, w = info["height"] or 0, info["width"] or 0
        out = np.zeros((0, h, w), dtype=np.uint8)
    fps = (info["timescale"] or 0, info["sample_delta"] or 1)
    return out, fps
