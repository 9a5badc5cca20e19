"""Pure-Python H.264/AVC Annex-B bitstream probe — stdlib only.

The video twin of llm/mp3.py's compressed-audio header walk, one
level deeper into the codec: an Annex-B stream is a sequence of NAL
(network abstraction layer) units delimited by 00 00 01 / 00 00 00 01
start codes (ITU-T H.264 / ISO/IEC 14496-10 Annex B). This module

* walks start codes and classifies every NAL unit (SPS, PPS, IDR
  slice, non-IDR slice, ...),
* REALLY parses the SPS (sequence parameter set): Exp-Golomb ue(v)
  bit-level decode of the profile/level fields, macroblock
  dimensions, and frame-cropping rectangle, recovering the exact
  pixel width/height — including non-multiple-of-16 sizes, where the
  codec stores ceil(dim/16) macroblocks plus a crop offset in 2-pixel
  chroma units (4:2:0), and
* applies/strips emulation prevention for real: an RBSP byte pair
  00 00 followed by 00/01/02/03 must be written as 00 00 03 xx on the
  wire so payload bytes can never fake a start code; the parser
  removes exactly those 03 bytes before bit-reading.

Scope: structure and parameter sets only. SLICE decode (CAVLC/CABAC
entropy coding, intra prediction, deblocking) genuinely needs a full
video decoder and raises NotImplementedError — the honest-boundary
policy of llm/multimodal.py unchanged. The writer emits structurally
valid streams (correct start codes, real emulation-prevented SPS/PPS,
stub slice payloads) so container-level probes and oracles exercise
real structure; it makes no claim the slices are decodable video.

At 100 TB this probe is the filter-before-decode router for video
corpora: resolution/profile/keyframe-density classification reads
O(parameter sets + start codes) of each file, never slice payload.
"""

from __future__ import annotations

from stockify_spark.llm.bits import MsbReader, MsbWriter, malformed_input_guard

NAL_NON_IDR = 1
NAL_IDR = 5
NAL_SPS = 7
NAL_PPS = 8

# ---------------------------------------------------------------------------
# Exp-Golomb codes and RBSP trailing bits over the MSB-first bit I/O
# of llm/bits.py
# ---------------------------------------------------------------------------


def _write_ue(w: MsbWriter, value: int) -> None:
    """Unsigned Exp-Golomb: leadingZeroBits zeros, 1, then the
    (value+1) payload without its MSB."""
    code = value + 1
    n = code.bit_length()
    w.write(0, n - 1)
    w.write(code, n)


def _rbsp_trailing_bits(w: MsbWriter) -> bytes:
    """Stop bit + zero padding to a byte boundary; returns the
    finished RBSP."""
    w.write(1, 1)
    return w.flush()


def _read_ue(r: MsbReader) -> int:
    zeros = 0
    while r.read(1) == 0:
        zeros += 1
        if zeros > 31:
            raise ValueError("malformed Exp-Golomb code")
    return (1 << zeros) - 1 + r.read(zeros)


def _read_se(r: MsbReader) -> int:
    k = _read_ue(r)
    return (k + 1) // 2 if k % 2 else -(k // 2)


def rbsp_to_ebsp(rbsp: bytes) -> bytes:
    """Insert emulation-prevention 03 bytes: any 00 00 followed by a
    byte <= 03 becomes 00 00 03 xx on the wire."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 0x03:
            out.append(0x03)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def ebsp_to_rbsp(ebsp: bytes) -> bytes:
    """Strip emulation-prevention bytes (exactly 00 00 03 -> 00 00)."""
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(ebsp):
        b = ebsp[i]
        if zeros >= 2 and b == 0x03 and i + 1 < len(ebsp) and ebsp[i + 1] <= 0x03:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _sps_rbsp(width: int, height: int, profile_idc: int, level_idc: int) -> bytes:
    """Minimal valid SPS for a baseline/main-profile, frame-only,
    4:2:0 stream of the given pixel dimensions (even dims required —
    the crop rectangle is stored in 2-pixel units)."""
    if width % 2 or height % 2:
        raise ValueError("H.264 4:2:0 frame cropping works in 2-pixel units")
    if profile_idc >= 100:
        raise ValueError(
            "high profiles add chroma/bit-depth SPS fields this minimal "
            "writer does not emit; use profile_idc 66 (baseline) or 77 (main)"
        )
    mbs_w = (width + 15) // 16
    mbs_h = (height + 15) // 16
    crop_r = (mbs_w * 16 - width) // 2  # CropUnitX = 2 (4:2:0)
    crop_b = (mbs_h * 16 - height) // 2  # CropUnitY = 2 (frame_mbs_only)
    w = MsbWriter()
    w.write(profile_idc, 8)
    w.write(0, 8)  # constraint flags + reserved
    w.write(level_idc, 8)
    _write_ue(w, 0)  # seq_parameter_set_id
    _write_ue(w, 0)  # log2_max_frame_num_minus4
    _write_ue(w, 0)  # pic_order_cnt_type
    _write_ue(w, 0)  # log2_max_pic_order_cnt_lsb_minus4
    _write_ue(w, 1)  # max_num_ref_frames
    w.write(0, 1)  # gaps_in_frame_num_value_allowed_flag
    _write_ue(w, mbs_w - 1)  # pic_width_in_mbs_minus1
    _write_ue(w, mbs_h - 1)  # pic_height_in_map_units_minus1
    w.write(1, 1)  # frame_mbs_only_flag
    w.write(0, 1)  # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.write(1, 1)  # frame_cropping_flag
        _write_ue(w, 0)  # left
        _write_ue(w, crop_r)  # right
        _write_ue(w, 0)  # top
        _write_ue(w, crop_b)  # bottom
    else:
        w.write(0, 1)
    w.write(0, 1)  # vui_parameters_present_flag
    return _rbsp_trailing_bits(w)


def _pps_rbsp() -> bytes:
    w = MsbWriter()
    _write_ue(w, 0)  # pic_parameter_set_id
    _write_ue(w, 0)  # seq_parameter_set_id
    w.write(0, 1)  # entropy_coding_mode_flag (CAVLC)
    w.write(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    _write_ue(w, 0)  # num_slice_groups_minus1
    _write_ue(w, 0)  # num_ref_idx_l0_default_active_minus1
    _write_ue(w, 0)  # num_ref_idx_l1_default_active_minus1
    w.write(0, 1)  # weighted_pred_flag
    w.write(0, 2)  # weighted_bipred_idc
    _write_ue(w, 0)  # pic_init_qp_minus26 (ue of se(0))
    _write_ue(w, 0)  # pic_init_qs_minus26
    _write_ue(w, 0)  # chroma_qp_index_offset
    w.write(0, 3)  # deblocking/constrained-intra/redundant-pic flags
    return _rbsp_trailing_bits(w)


def _nal(nal_type: int, rbsp: bytes, long_start: bool) -> bytes:
    ref_idc = 3 if nal_type in (NAL_SPS, NAL_PPS, NAL_IDR) else 2
    header = bytes([(ref_idc << 5) | nal_type])  # forbidden_zero_bit = 0
    start = b"\x00\x00\x00\x01" if long_start else b"\x00\x00\x01"
    return start + header + rbsp_to_ebsp(rbsp)


def encode_h264_annexb(
    width: int,
    height: int,
    n_idr: int,
    n_non_idr: int,
    profile_idc: int = 66,
    level_idc: int = 30,
) -> bytes:
    """Structurally valid Annex-B stream: SPS + PPS (long start
    codes), then ``n_idr`` IDR and ``n_non_idr`` non-IDR slice stubs
    interleaved GOP-style (short start codes). Slice payloads are
    2-byte stubs — no claim of decodable video (module docstring)."""
    out = bytearray()
    out += _nal(NAL_SPS, _sps_rbsp(width, height, profile_idc, level_idc), True)
    out += _nal(NAL_PPS, _pps_rbsp(), True)
    per_gop = max(1, n_non_idr // max(n_idr, 1))
    left = n_non_idr
    # slice stubs deliberately contain 00 00 01 / 00 00 00 byte runs:
    # the writer MUST emulation-prevent them (else the parser would
    # split mid-NAL on a fake start code), so every stream exercises
    # the EP path on the wire, not just in unit tests
    idr_stub = b"\x11\x00\x00\x01\x00\x00\x00\x80"
    non_idr_stub = b"\x22\x00\x00\x02\x80"
    for i in range(n_idr):
        out += _nal(NAL_IDR, idr_stub, False)
        take = min(per_gop, left) if i < n_idr - 1 else left
        for _ in range(take):
            out += _nal(NAL_NON_IDR, non_idr_stub, False)
        left -= take
    return bytes(out)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def _split_nals(data: bytes) -> list[bytes]:
    """NAL payloads (header byte + EBSP) between Annex-B start codes."""
    nals = []
    i = 0
    n = len(data)
    starts = []
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0:
            if data[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and data[i + 2] == 0 and data[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    for idx, (_, body_start) in enumerate(starts):
        body_end = starts[idx + 1][0] if idx + 1 < len(starts) else n
        nals.append(data[body_start:body_end])
    return nals


def parse_sps(rbsp: bytes) -> dict:
    """Recover profile/level and the exact cropped pixel dimensions
    from an SPS RBSP (emulation prevention already stripped)."""
    r = MsbReader(rbsp)
    profile_idc = r.read(8)
    r.read(8)  # constraint flags
    level_idc = r.read(8)
    _read_ue(r)  # seq_parameter_set_id
    if profile_idc >= 100:
        raise NotImplementedError(
            "high-profile SPS (chroma_format_idc et al.) not supported"
        )
    _read_ue(r)  # log2_max_frame_num_minus4
    poc_type = _read_ue(r)
    if poc_type == 0:
        _read_ue(r)  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        raise NotImplementedError("pic_order_cnt_type=1 SPS not supported")
    _read_ue(r)  # max_num_ref_frames
    r.read(1)  # gaps_in_frame_num_value_allowed_flag
    mbs_w = _read_ue(r) + 1
    map_units_h = _read_ue(r) + 1
    frame_mbs_only = r.read(1)
    if not frame_mbs_only:
        r.read(1)  # mb_adaptive_frame_field_flag
    r.read(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.read(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = _read_ue(r), _read_ue(r), _read_ue(r), _read_ue(r)
    frame_h_mbs = (2 - frame_mbs_only) * map_units_h
    # 4:2:0 crop units: X=2, Y=2*(2-frame_mbs_only)
    unit_y = 2 * (2 - frame_mbs_only)
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": mbs_w * 16 - (crop_l + crop_r) * 2,
        "height": frame_h_mbs * 16 - (crop_t + crop_b) * unit_y,
    }


@malformed_input_guard("H.264")
def h264_probe(data: bytes) -> dict:
    """One O(start codes + SPS bits) pass: NAL census + stream
    geometry. Raises ValueError on a stream with no valid SPS."""
    counts: dict[int, int] = {}
    sps: dict | None = None
    for nal in _split_nals(data):
        if not nal:
            continue
        header = nal[0]
        if header & 0x80:
            raise ValueError("forbidden_zero_bit set — not an H.264 NAL")
        nal_type = header & 0x1F
        counts[nal_type] = counts.get(nal_type, 0) + 1
        if nal_type == NAL_SPS and sps is None:
            sps = parse_sps(ebsp_to_rbsp(nal[1:]))
    if sps is None:
        raise ValueError("no SPS in stream")
    return {
        "width": sps["width"],
        "height": sps["height"],
        "profile_idc": sps["profile_idc"],
        "level_idc": sps["level_idc"],
        "n_nal": sum(counts.values()),
        "n_idr": counts.get(NAL_IDR, 0),
        "n_non_idr": counts.get(NAL_NON_IDR, 0),
    }




# ---------------------------------------------------------------------------
# I_PCM slice codec — the decodable H.264 subset
# ---------------------------------------------------------------------------
#
# I_PCM macroblocks carry RAW 8-bit samples (no prediction, no
# transform, no entropy coding beyond the Exp-Golomb mb_type and byte
# alignment) — a legitimate part of every H.264 profile, used by
# lossless encoders when a block is cheaper raw than coded. A stream
# of all-I_PCM macroblocks is therefore fully decodable with the
# bitstream machinery above: real slice-header parse, real macroblock
# loop, real emulation-prevention on the wire. Everything beyond PCM
# (CAVLC residuals, intra prediction) stays behind decode_h264's
# honest NotImplementedError.

_MB_TYPE_I_PCM = 25


def _idr_ipcm_slice_rbsp(
    mbs_w: int, mbs_h: int, luma_base: int, cb: int, cr: int
) -> bytes:
    """IDR I-slice whose every macroblock is I_PCM. Deterministic
    sample pattern: luma(x, y) = luma_base + x + 2*y (caller keeps it
    under 256), constant chroma planes."""
    w = MsbWriter()
    _write_ue(w, 0)  # first_mb_in_slice
    _write_ue(w, 7)  # slice_type: I (all slices in picture)
    _write_ue(w, 0)  # pic_parameter_set_id
    w.write(0, 4)  # frame_num (log2_max_frame_num = 4)
    _write_ue(w, 0)  # idr_pic_id
    w.write(0, 4)  # pic_order_cnt_lsb (log2 = 4)
    w.write(0, 1)  # no_output_of_prior_pics_flag
    w.write(0, 1)  # long_term_reference_flag
    # se(slice_qp_delta) = 0 encodes as ue(0)
    _write_ue(w, 0)
    width = mbs_w * 16
    for mb in range(mbs_w * mbs_h):
        mb_x, mb_y = (mb % mbs_w) * 16, (mb // mbs_w) * 16
        _write_ue(w, _MB_TYPE_I_PCM)
        w.align()  # pcm_alignment_zero_bit
        for y in range(16):
            for x in range(16):
                w.write((luma_base + (mb_x + x) + 2 * (mb_y + y)) & 0xFF, 8)
        for _ in range(64):
            w.write(cb & 0xFF, 8)
        for _ in range(64):
            w.write(cr & 0xFF, 8)
    return _rbsp_trailing_bits(w)


def encode_h264_ipcm(
    width: int, height: int, luma_base: int, cb: int, cr: int
) -> bytes:
    """Annex-B stream (SPS + PPS + one IDR slice) whose macroblocks
    are all I_PCM — REAL decodable H.264, not a structural stub.
    Dimensions must be multiples of 16 (no cropping of PCM planes
    here)."""
    if width % 16 or height % 16:
        raise ValueError("I_PCM fixture uses full macroblocks (16-pel multiples)")
    mbs_w, mbs_h = width // 16, height // 16
    out = bytearray()
    out += _nal(NAL_SPS, _sps_rbsp(width, height, 66, 30), True)
    out += _nal(NAL_PPS, _pps_rbsp(), True)
    out += _nal(NAL_IDR, _idr_ipcm_slice_rbsp(mbs_w, mbs_h, luma_base, cb, cr), False)
    return bytes(out)


@malformed_input_guard("H.264")
def decode_h264_ipcm(data: bytes) -> dict:
    """Decode an all-I_PCM Annex-B stream: SPS geometry, PPS sanity,
    slice-header Exp-Golomb parse, then the macroblock loop reading
    byte-aligned PCM planes. Returns the reconstructed luma plane
    (bytes, row-major) plus chroma DC and geometry. Any non-I_PCM
    macroblock raises the honest boundary."""
    sps = None
    pps_seen = False
    frame = None
    for nal in _split_nals(data):
        if not nal:
            continue
        nal_type = nal[0] & 0x1F
        rbsp = ebsp_to_rbsp(nal[1:])
        if nal_type == NAL_SPS and sps is None:
            sps = parse_sps(rbsp)
        elif nal_type == NAL_PPS:
            pps_seen = True
        elif nal_type == NAL_IDR:
            if sps is None or not pps_seen:
                raise ValueError("IDR before SPS/PPS")
            mbs_w = (sps["width"] + 15) // 16
            mbs_h = (sps["height"] + 15) // 16
            # each I_PCM macroblock carries 384 sample bytes: a slice
            # too short for the SPS geometry is corrupt, and checking
            # first keeps a damaged SPS from sizing the luma buffer
            if len(rbsp) < 384 * mbs_w * mbs_h:
                raise ValueError("IDR slice shorter than its I_PCM macroblocks")
            r = MsbReader(rbsp)
            if _read_ue(r) != 0:
                raise NotImplementedError("multi-slice pictures not supported")
            slice_type = _read_ue(r)
            if slice_type % 5 != 2:
                raise NotImplementedError("only I slices are decodable")
            _read_ue(r)  # pic_parameter_set_id
            r.read(4)  # frame_num
            _read_ue(r)  # idr_pic_id
            r.read(4)  # pic_order_cnt_lsb
            r.read(1)  # no_output_of_prior_pics_flag
            r.read(1)  # long_term_reference_flag
            _read_se(r)  # slice_qp_delta
            luma = bytearray(mbs_w * 16 * mbs_h * 16)
            cbs: list[int] = []
            crs: list[int] = []
            for mb in range(mbs_w * mbs_h):
                mb_type = _read_ue(r)
                if mb_type != _MB_TYPE_I_PCM:
                    raise NotImplementedError(
                        "coded (non-I_PCM) macroblocks need CAVLC + intra "
                        "prediction — the honest decode_h264 boundary"
                    )
                r.align()  # pcm_alignment_zero_bit
                mb_x, mb_y = (mb % mbs_w) * 16, (mb // mbs_w) * 16
                for y in range(16):
                    row = (mb_y + y) * mbs_w * 16 + mb_x
                    for x in range(16):
                        luma[row + x] = r.read(8)
                cbs.append(r.read(8))
                for _ in range(63):
                    r.read(8)
                crs.append(r.read(8))
                for _ in range(63):
                    r.read(8)
            frame = {
                "width": sps["width"],
                "height": sps["height"],
                "n_mb": mbs_w * mbs_h,
                "luma": bytes(luma),
                "cb0": cbs[0],
                "cr0": crs[0],
            }
    if frame is None:
        raise ValueError("no decodable IDR slice in stream")
    return frame



def decode_h264(data: bytes):
    """Slice-level decode is the honest codec boundary: CAVLC/CABAC
    entropy decoding + intra/inter prediction need a full video
    decoder (no codec libraries in this container)."""
    raise NotImplementedError(
        "H.264 slice decode requires a full AVC decoder; this module "
        "provides the Annex-B/SPS structural probe only (llm/multimodal.py "
        "honest-boundary policy)"
    )
