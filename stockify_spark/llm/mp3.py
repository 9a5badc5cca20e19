"""Pure-Python MP3 (MPEG-1 Audio Layer III) frame-level parser —
stdlib only.

The audio twin of the container probes in llm/avi.py / llm/mp4.py:
an MP3 file is a bare sequence of frames, each starting with a
4-byte header (11-bit sync + version/layer/bitrate/samplerate/
padding fields, ISO/IEC 11172-3) whose byte length is computable
from the header alone::

    frame_bytes = 144 * bitrate / sample_rate + padding   (Layer III)

so a single header walk yields the frame index, duration, and
CBR/VBR classification without touching any audio payload — the
filter-before-decode contract for compressed audio, where a corpus
router reads O(headers) of a multi-hour file.

Scope (r9: the boundary moved one notch inward, r8 verdict #6):
frame structure PLUS bit-exact side-info parsing PLUS sample decode
for the zero-spectrum subset. A Layer III granule whose
``part2_3_length`` is 0 carries no scalefactor or huffman bits at
all, so its spectrum is identically zero and the IMDCT + synthesis
filterbank output is exactly silence — no psychoacoustic machinery
required, by the spec's own arithmetic, PROVIDED the 256-bit stereo
side info was walked bit-exactly to prove every granule really
declares zero bits (a one-bit mis-parse lands in the wrong field and
fails loudly). :func:`decode_mp3` implements exactly that subset and
raises NotImplementedError the moment any granule carries main data
(huffman + scalefactors + IMDCT for NON-silent audio remains the
honest boundary, llm/multimodal.py policy). :func:`encode_mp3_silence`
writes real such streams — populated global_gain / count1table_select
fields, zero part2_3_length — so the differential oracle can
recompute a side-info digest in closed form: any decoder bit-offset
error scrambles the digest and fails the value hash (the
media_flac_decode tolerance-of-truth family).
"""

from __future__ import annotations

from stockify_spark.llm.bits import MsbReader, MsbWriter, malformed_input_guard

# MPEG-1 Layer III tables (ISO 11172-3): bitrate index → kbit/s,
# sample-rate index → Hz.
BITRATES_KBPS = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
SAMPLE_RATES = (44100, 48000, 32000)

SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def frame_length(bitrate_kbps: int, sample_rate: int, padding: int) -> int:
    return (144 * bitrate_kbps * 1000) // sample_rate + padding


def _header(bitrate_idx: int, sr_idx: int, padding: int) -> bytes:
    """MPEG-1 Layer III header: sync=0x7FF, version=11 (MPEG-1),
    layer=01 (III), no CRC, stereo."""
    b0 = 0xFF
    b1 = 0xFB  # sync tail + MPEG-1 + Layer III + no-CRC
    b2 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    b3 = 0x00  # stereo, no mode extension/copyright/original
    return bytes([b0, b1, b2, b3])


def encode_mp3_frames(
    bitrate_indices: list[int], sr_idx: int = 0
) -> bytes:
    """Emit one structurally valid frame per bitrate index (zeroed
    main data). Mixed indices produce a VBR stream; identical ones a
    CBR stream. No audio claim — see module docstring."""
    sr = SAMPLE_RATES[sr_idx]
    out = bytearray()
    for i, bi in enumerate(bitrate_indices):
        if not 1 <= bi <= 14:
            raise ValueError(f"bitrate index {bi} out of range 1..14")
        padding = i % 2  # exercise the padding-bit length variation
        n = frame_length(BITRATES_KBPS[bi], sr, padding)
        out += _header(bi, sr_idx, padding)
        out += b"\x00" * (n - 4)
    return bytes(out)


@malformed_input_guard("MP3")
def parse_frames(data: bytes) -> list[tuple[int, int, int]]:
    """Walk the frame sequence: [(offset, frame_bytes, bitrate_kbps)].
    Tolerates an ID3v2 prefix (tag length from its syncsafe header)
    and stops at trailing garbage that is not a valid header."""
    data = bytes(data)
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        syncsafe = data[6:10]
        tag_len = (
            (syncsafe[0] << 21) | (syncsafe[1] << 14) | (syncsafe[2] << 7) | syncsafe[3]
        )
        pos = 10 + tag_len
    frames = []
    while pos + 4 <= len(data):
        b0, b1, b2, _b3 = data[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break  # lost sync: end of frame sequence
        version = (b1 >> 3) & 0x3
        layer = (b1 >> 1) & 0x3
        if version != 0b11 or layer != 0b01:
            raise NotImplementedError(
                "only MPEG-1 Layer III frame headers are parsed"
            )
        bitrate_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if bitrate_idx in (0, 15) or sr_idx == 3:
            raise ValueError(f"corrupt MP3: reserved header field at {pos}")
        n = frame_length(BITRATES_KBPS[bitrate_idx], SAMPLE_RATES[sr_idx], padding)
        if pos + n > len(data):
            break  # truncated final frame
        frames.append((pos, n, BITRATES_KBPS[bitrate_idx]))
        pos += n
    if not frames:
        raise ValueError("not an MP3: no valid MPEG-1 Layer III frame")
    return frames


def mp3_info(data: bytes) -> tuple[int, int, int, int, bool]:
    """(n_frames, sample_rate, duration_ms, mean_bitrate_kbps, is_vbr)
    from one header walk — no payload access. duration is
    n_frames·1152/rate, the exact figure players derive the same
    way."""
    data = bytes(data)
    frames = parse_frames(data)
    first = frames[0][0]
    b2 = data[first + 2]
    sr = SAMPLE_RATES[(b2 >> 2) & 0x3]
    rates = [kbps for _, _, kbps in frames]
    duration_ms = len(frames) * SAMPLES_PER_FRAME * 1000 // sr
    mean = sum(rates) // len(rates)
    return len(frames), sr, duration_ms, mean, len(set(rates)) > 1


# ---------------------------------------------------------------------------
# Side info (ISO 11172-3 §2.4.1.7) — bit-exact parse, and the
# zero-spectrum sample decode it enables
# ---------------------------------------------------------------------------

SIDE_INFO_BYTES_STEREO = 32  # MPEG-1, 2 channels, no CRC
_GRANULES = 2
_CHANNELS = 2


def _side_info_stereo(gains, count1sel) -> bytes:
    """Serialize MPEG-1 stereo side info for zero-main-data granules:
    main_data_begin=0 (no bit reservoir), every part2_3_length=0, the
    long-block field layout (window_switching_flag=0), table_select /
    region counts zeroed — only global_gain and count1table_select
    carry the per-granule values, which is what makes the stream a
    PARSER test rather than an all-zero one. ``gains[g][ch]`` and
    ``count1sel[g][ch]`` index granule then channel."""
    w = MsbWriter()
    w.write(0, 9)   # main_data_begin
    w.write(0, 3)   # private_bits (stereo)
    for _ch in range(_CHANNELS):
        w.write(0, 4)  # scfsi
    for g in range(_GRANULES):
        for ch in range(_CHANNELS):
            w.write(0, 12)                  # part2_3_length: NO main data
            w.write(0, 9)                   # big_values
            w.write(gains[g][ch], 8)        # global_gain
            w.write(0, 4)                   # scalefac_compress
            w.write(0, 1)                   # window_switching_flag=0 (long)
            w.write(0, 5)                   # table_select[0]
            w.write(0, 5)                   # table_select[1]
            w.write(0, 5)                   # table_select[2]
            w.write(0, 4)                   # region0_count
            w.write(0, 3)                   # region1_count
            w.write(0, 1)                   # preflag
            w.write(0, 1)                   # scalefac_scale
            w.write(count1sel[g][ch], 1)    # count1table_select
    out = w.flush()
    assert len(out) == SIDE_INFO_BYTES_STEREO
    return out


def encode_mp3_silence(
    bitrate_indices: list[int],
    sr_idx: int = 0,
    gain_fn=None,
    count1_fn=None,
) -> bytes:
    """Emit a REAL decodable MPEG-1 Layer III stereo stream whose
    every granule declares part2_3_length=0 — exactly-silent audio by
    the spec's arithmetic, with populated side-info fields.
    ``gain_fn(frame, granule, channel) -> 0..255`` and
    ``count1_fn(frame, granule, channel) -> 0..1`` default to zero."""
    sr = SAMPLE_RATES[sr_idx]
    gain_fn = gain_fn or (lambda j, g, c: 0)
    count1_fn = count1_fn or (lambda j, g, c: 0)
    out = bytearray()
    for j, bi in enumerate(bitrate_indices):
        if not 1 <= bi <= 14:
            raise ValueError(f"bitrate index {bi} out of range 1..14")
        padding = j % 2
        n = frame_length(BITRATES_KBPS[bi], sr, padding)
        gains = [[gain_fn(j, g, c) for c in range(_CHANNELS)] for g in range(_GRANULES)]
        sel = [[count1_fn(j, g, c) for c in range(_CHANNELS)] for g in range(_GRANULES)]
        side = _side_info_stereo(gains, sel)
        out += _header(bi, sr_idx, padding)
        out += side
        out += b"\x00" * (n - 4 - len(side))  # stuffing: no granule owns it
    return bytes(out)


def parse_side_info_stereo(frame: bytes) -> dict:
    """Bit-exact MPEG-1 stereo side-info parse of one frame (bytes
    4..36 — header already validated, no CRC). Returns
    ``{"main_data_begin": int, "granules": [[{...}, {...}], ...]}``
    with every spec field, including the window-switching variant."""
    r = MsbReader(frame[4 : 4 + SIDE_INFO_BYTES_STEREO])
    info: dict = {"main_data_begin": r.read(9), "private_bits": r.read(3)}
    info["scfsi"] = [r.read(4) for _ in range(_CHANNELS)]
    grs = []
    for _g in range(_GRANULES):
        row = []
        for _ch in range(_CHANNELS):
            d = {
                "part2_3_length": r.read(12),
                "big_values": r.read(9),
                "global_gain": r.read(8),
                "scalefac_compress": r.read(4),
                "window_switching_flag": r.read(1),
            }
            if d["window_switching_flag"]:
                d["block_type"] = r.read(2)
                d["mixed_block_flag"] = r.read(1)
                d["table_select"] = [r.read(5) for _ in range(2)]
                d["subblock_gain"] = [r.read(3) for _ in range(3)]
            else:
                d["table_select"] = [r.read(5) for _ in range(3)]
                d["region0_count"] = r.read(4)
                d["region1_count"] = r.read(3)
            d["preflag"] = r.read(1)
            d["scalefac_scale"] = r.read(1)
            d["count1table_select"] = r.read(1)
            row.append(d)
        grs.append(row)
    info["granules"] = grs
    assert r.byte_pos() == SIDE_INFO_BYTES_STEREO
    return info


@malformed_input_guard("MP3")
def decode_mp3(data: bytes) -> dict:
    """Sample decode for the zero-spectrum subset; NotImplementedError
    beyond it (see module docstring).

    Walks every frame, requires stereo MPEG-1 Layer III, parses the
    full side info bit-exactly and verifies each granule declares
    part2_3_length == 0 with no bit reservoir (main_data_begin == 0).
    The spectrum of such a granule is identically zero, so the
    reconstructed audio is 1152 exact-zero samples per frame per
    channel. Returns::

        {"n_frames", "sample_rate", "channels",
         "samples": list[int]   # per-channel PCM (all zero),
         "side_digest": int}    # Σ global_gain·(1+2g+ch) + count1sel

    over frames in order — the digest is the tolerance-of-truth hook:
    any bit-offset error in the side-info walk lands other fields in
    global_gain/count1table_select and scrambles it."""
    data = bytes(data)
    frames = parse_frames(data)
    first = frames[0][0]
    sr = SAMPLE_RATES[(data[first + 2] >> 2) & 0x3]
    digest = 0
    for off, n, _kbps in frames:
        # per-FRAME header checks (mode and protection can vary
        # mid-stream): non-stereo frames have 17-byte side info and
        # CRC-protected frames (protection_bit == 0) carry a 16-bit
        # CRC before the side info — parsing either at the stereo
        # no-CRC offset would shift every field (r9 review finding),
        # so refuse rather than mis-parse
        if data[off + 3] >> 6 != 0b00:
            raise NotImplementedError("only stereo streams are sample-decoded")
        if not data[off + 1] & 0x01:
            raise NotImplementedError(
                "CRC-protected frames are not sample-decoded (side info "
                "offset differs); strip or re-encode without CRC"
            )
        if n < 4 + SIDE_INFO_BYTES_STEREO:
            raise ValueError(f"corrupt MP3: frame at {off} shorter than side info")
        info = parse_side_info_stereo(data[off : off + n])
        if info["main_data_begin"] != 0:
            raise NotImplementedError(
                "bit-reservoir streams (main_data_begin > 0) are not decoded"
            )
        for g in range(_GRANULES):
            for ch in range(_CHANNELS):
                d = info["granules"][g][ch]
                if d["part2_3_length"] != 0:
                    raise NotImplementedError(
                        "granule carries main data: non-silent Layer III decode"
                        " (huffman + scalefactors + IMDCT) is out of scope"
                    )
                digest += d["global_gain"] * (1 + 2 * g + ch)
                digest += d["count1table_select"]
    n_samples = len(frames) * SAMPLES_PER_FRAME
    return {
        "n_frames": len(frames),
        "sample_rate": sr,
        "channels": _CHANNELS,
        "samples": [0] * n_samples,  # per-channel PCM, exact
        "side_digest": digest,
    }
