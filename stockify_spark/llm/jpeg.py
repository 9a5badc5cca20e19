"""Pure-Python baseline JPEG codec — stdlib + numpy only.

Covers the compressed-container gap left by the uncompressed codecs
(llm/png.py, llm/wav.py, llm/y4m.py): baseline sequential DCT JPEG
(SOF0), 8-bit, grayscale or YCbCr with 4:4:4 / 4:2:2 / 4:2:0
subsampling — the overwhelmingly common profiles. Decode implements the full
pipeline: segment parse → Huffman entropy decode (with 0xFF00 byte
unstuffing and restart markers) → dequantize → un-zigzag → 8×8
inverse DCT → chroma upsample → YCbCr→RGB. The encoder emits the
same profile with the standard Annex-K quantization and Huffman
tables, giving the tests a self-contained lossy round-trip (PSNR
bound) without any external imaging library.

Progressive (SOF2) decodes for real too: spectral-selection bands,
successive-approximation first and refinement passes for DC and AC
(EOBRUN, ZRL-with-correction-bits, the G.1.2 state machines), plus a
progressive encoder emitting a libjpeg-like scan script so the
round-trip is self-contained — a progressive stream carries the SAME
quantized coefficients as the baseline stream, so full-pass decode
must be bit-identical to the baseline decode of the same image (the
test oracle). Arithmetic coding, hierarchical (SOF3/5-7/9-11/13-15),
and 12-bit precision raise NotImplementedError explicitly — the
honest boundary, same policy as webm in llm/multimodal.py.

Performance note: this codec exists for correctness and for the
Spark-side plumbing (it runs inside mapInPandas batches); a
production deployment would swap in a native decoder behind the same
(bytes) -> ndarray signature.
"""

from __future__ import annotations

import numpy as np

from stockify_spark.llm.bits import MsbReader, MsbWriter, malformed_input_guard

# --- Annex K tables (ITU T.81) -------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# luminance / chrominance quantization tables, quality-50 baseline
QTABLE_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

QTABLE_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# standard Huffman tables (T.81 Annex K.3): (bits[1..16], values)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


# --- DCT ------------------------------------------------------------------

def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: block_dct = M @ block @ M.T."""
    n = 8
    k = np.arange(n)
    m = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    m[0, :] = 1.0
    scale = np.sqrt(np.where(k == 0, 1.0 / n, 2.0 / n))
    return m * scale[:, None]


_DCT_M = _dct_matrix()


def _fdct(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial → frequency."""
    return _DCT_M @ blocks @ _DCT_M.T


def _idct(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) frequency → spatial."""
    return _DCT_M.T @ blocks @ _DCT_M


# --- Huffman --------------------------------------------------------------

def _build_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) per T.81 C.2 canonical assignment."""
    codes = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return codes


def _build_decoder(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value — simple dict lookup decoder."""
    table = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[idx]
            code += 1
            idx += 1
        code <<= 1
    return table


# --- entropy-coded segments: MSB-first bits (llm/bits.py) with 0xFF
# byte stuffing and 1-padding

def _scan_bytes(writer: MsbWriter) -> bytes:
    """Finish one entropy-coded segment: pad with 1 bits to a byte
    boundary, then stuff a 0x00 after every 0xFF byte."""
    pad = -writer.tell() % 8
    writer.write((1 << pad) - 1, pad)
    return writer.flush().replace(b"\xff", b"\xff\x00")


def _scan_reader(segment: bytes) -> MsbReader:
    """Bit reader over one entropy-coded segment, 0xFF00 un-stuffed."""
    return MsbReader(segment.replace(b"\xff\x00", b"\xff"))


def _read_code(reader: MsbReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read(1)
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("corrupt JPEG: invalid Huffman code")


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + offset bits for a coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


def _extend(bits: int, size: int) -> int:
    """Inverse of _magnitude: sign-extend a size-bit value."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# --- Encoder --------------------------------------------------------------

def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad to multiples of 8 (edge replicate) and cut into (n, 8, 8)."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    padded = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bh, bw = padded.shape[0] // 8, padded.shape[1] // 8
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bh, bw


def _quantize_plane(plane: np.ndarray, qtable: np.ndarray) -> tuple[np.ndarray, int, int]:
    blocks, bh, bw = _to_blocks(plane.astype(np.float64) - 128.0)
    coeffs = _fdct(blocks)
    q = np.round(coeffs / qtable[None, :, :]).astype(np.int64)
    return q, bh, bw


def _encode_scan(
    writer: MsbWriter,
    q: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """Entropy-encode quantized blocks sequentially; returns new DC pred."""
    flat = q.reshape(len(q), 64)[:, ZIGZAG]
    for row in flat:
        dc = int(row[0])
        diff = dc - pred
        pred = dc
        size, bits = _magnitude(diff)
        code, length = dc_codes[size]
        writer.write(code, length)
        if size:
            writer.write(bits, size)
        run = 0
        nz = np.nonzero(row[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(row[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                writer.write(code, length)
                run -= 16
            size, bits = _magnitude(v)
            code, length = ac_codes[(run << 4) | size]
            writer.write(code, length)
            writer.write(bits, size)
            run = 0
        if last < 63:
            code, length = ac_codes[0x00]  # EOB
            writer.write(code, length)
    return pred


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _dqt_payload(tid: int, table: np.ndarray) -> bytes:
    return bytes([tid]) + bytes(int(x) for x in table.reshape(64)[ZIGZAG])


def _dht_payload(cls: int, tid: int, bits: list[int], values: list[int]) -> bytes:
    return bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values)


def encode_jpeg(
    img: np.ndarray, subsample: str = "420", restart_interval: int = 0
) -> bytes:
    """Encode uint8 grayscale (h, w) or RGB (h, w, 3) as baseline
    JPEG with the Annex-K quality-50 tables. ``subsample``: "420",
    "422", or "444" (ignored for grayscale). ``restart_interval`` > 0 emits a
    DRI segment and RSTn markers every that many MCUs (the
    error-resilience feature real encoders use; also exercises the
    decoder's restart path)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected (h,w) or (h,w,3) uint8, got {img.shape}")
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        sampling = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            # average 2x2 (pad odd dims by edge-replication first)
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
            sampling = [(2, 2), (1, 1), (1, 1)]
        elif subsample == "422":
            # average 1x2 (horizontal only — full vertical chroma),
            # the broadcast/video-capture profile
            cbp = np.pad(cb, ((0, 0), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, 0), (0, w % 2)), mode="edge")
            cb = cbp.reshape(h, cbp.shape[1] // 2, 2).mean(axis=2)
            cr = crp.reshape(h, crp.shape[1] // 2, 2).mean(axis=2)
            sampling = [(2, 1), (1, 1), (1, 1)]
        elif subsample == "444":
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsample!r}")
        planes = [y, cb, cr]

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += _seg(0xDB, _dqt_payload(0, QTABLE_LUMA))
    if not gray:
        out += _seg(0xDB, _dqt_payload(1, QTABLE_CHROMA))
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        sh, sv = sampling[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += _seg(0xC0, sof)  # SOF0 baseline
    out += _seg(0xC4, _dht_payload(0, 0, *_DC_LUMA))
    out += _seg(0xC4, _dht_payload(1, 0, *_AC_LUMA))
    if not gray:
        out += _seg(0xC4, _dht_payload(0, 1, *_DC_CHROMA))
        out += _seg(0xC4, _dht_payload(1, 1, *_AC_CHROMA))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    qtabs = [QTABLE_LUMA] + [QTABLE_CHROMA] * (ncomp - 1)
    dc_tabs = [_build_codes(*_DC_LUMA)] + [_build_codes(*_DC_CHROMA)] * (ncomp - 1)
    ac_tabs = [_build_codes(*_AC_LUMA)] + [_build_codes(*_AC_CHROMA)] * (ncomp - 1)

    # per-component quantized blocks laid out in MCU order
    comp_blocks = []
    mcu_w = 8 * hmax
    mcu_h = 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    for ci in range(ncomp):
        sh, sv = sampling[ci]
        # pad the plane to full MCUs at ITS resolution
        cw = mcus_x * 8 * sh
        ch = mcus_y * 8 * sv
        plane = planes[ci]
        plane = np.pad(
            plane,
            ((0, ch - plane.shape[0]), (0, cw - plane.shape[1])),
            mode="edge",
        )
        q, bh, bw = _quantize_plane(plane, qtabs[ci])
        comp_blocks.append((q.reshape(bh, bw, 8, 8), sh, sv))

    writer = MsbWriter()
    preds = [0] * ncomp
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                out += _scan_bytes(writer)
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                writer = MsbWriter()
                preds = [0] * ncomp
            for ci in range(ncomp):
                q, sh, sv = comp_blocks[ci]
                for by in range(sv):
                    for bx in range(sh):
                        block = q[my * sv + by, mx * sh + bx][None, :, :]
                        preds[ci] = _encode_scan(
                            writer, block, dc_tabs[ci], ac_tabs[ci], preds[ci]
                        )
            mcu_count += 1
    out += _scan_bytes(writer)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- Decoder --------------------------------------------------------------

@malformed_input_guard("JPEG")
def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0/1) or progressive (SOF2) JPEG to
    uint8: (h, w) for grayscale, (h, w, 3) RGB otherwise.
    Hierarchical/arithmetic/12-bit inputs raise NotImplementedError;
    malformed input raises ValueError (the fuzz contract in
    llm/bits.py)."""
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_dec: dict[int, dict] = {}
    ac_dec: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    prog_state = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at {pos}")
        # ITU T.81 B.1.1.2: markers may be preceded by any number of
        # 0xFF fill bytes — real-world encoders emit them for padding
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        payload = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                if prec_id >> 4:
                    raise NotImplementedError("16-bit quantization tables")
                tid = prec_id & 0x0F
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                qtables[tid] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                cls_id = payload[p]
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                values = list(payload[p + 17 : p + 17 + n])
                dec = _build_decoder(bits, values)
                if cls_id >> 4:
                    ac_dec[cls_id & 0x0F] = dec
                else:
                    dc_dec[cls_id & 0x0F] = dec
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if payload[0] != 8:
                raise NotImplementedError("only 8-bit precision")
            fh = int.from_bytes(payload[1:3], "big")
            fw = int.from_bytes(payload[3:5], "big")
            ncomp = payload[5]
            comps = []
            for i in range(ncomp):
                cid, samp, qid = payload[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "q": qid})
            frame = {"h": fh, "w": fw, "comps": comps, "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG frame type 0xFF{marker:02X} (hierarchical/arithmetic) not supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(payload[:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = payload[0]
            scan_comps = []
            for i in range(ns):
                cid, tabs = payload[1 + 2 * i : 3 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cid)
                scan_comps.append({**comp, "dc": tabs >> 4, "ac": tabs & 0x0F})
            ss, se, ahal = payload[1 + 2 * ns : 4 + 2 * ns]
            # entropy-coded data runs until the next non-RST marker
            scan_start = pos + seglen
            p = scan_start
            while p < len(data) - 1:
                if data[p] == 0xFF and data[p + 1] not in (0x00,) and not (
                    0xD0 <= data[p + 1] <= 0xD7
                ):
                    break
                p += 1
            if not frame["progressive"]:
                return _decode_scan(
                    data[scan_start:p], frame, scan_comps, qtables, dc_dec, ac_dec,
                    restart_interval,
                )
            if prog_state is None:
                prog_state = _init_prog_state(frame)
            _progressive_scan(
                data[scan_start:p], frame, scan_comps, prog_state,
                dc_dec, ac_dec, ss, se, ahal >> 4, ahal & 0x0F,
                restart_interval,
            )
            pos = p
            continue
        pos += seglen
    if prog_state is not None:
        return _reconstruct_progressive(frame, prog_state, qtables)
    raise ValueError("corrupt JPEG: no scan data")


def _decode_scan(
    scan: bytes,
    frame: dict,
    comps: list[dict],
    qtables: dict,
    dc_dec: dict,
    ac_dec: dict,
    restart_interval: int,
) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcus_y * 8 * c["v"], mcus_x * 8 * c["h"]), dtype=np.float64)
        )

    segments = _split_restarts(scan, restart_interval)
    seg_idx = 0
    reader = _scan_reader(segments[0])
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                seg_idx += 1
                reader = _scan_reader(segments[seg_idx])
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                qt = qtables[c["q"]]
                dct = dc_dec[c["dc"]]
                act = ac_dec[c["ac"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        size = _read_code(reader, dct)
                        diff = _extend(reader.read(size), size)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _read_code(reader, act)
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("corrupt JPEG: AC overflow")
                            zz[k] = _extend(reader.read(size), size)
                            k += 1
                        block = np.zeros(64, dtype=np.int64)
                        block[ZIGZAG] = zz
                        spatial = _idct((block.reshape(8, 8) * qt)[None, :, :])[0]
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial + 128.0
            mcu_count += 1

    return _finish_planes(planes, comps, h, w, hmax, vmax)


def _finish_planes(
    planes: list[np.ndarray], comps: list[dict], h: int, w: int, hmax: int, vmax: int
) -> np.ndarray:
    """Upsample each component plane to full resolution, crop, and
    color-convert — the shared tail of the sequential and progressive
    paths."""
    full = []
    for ci, c in enumerate(comps):
        plane = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:h, :w])

    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- Progressive (SOF2) ---------------------------------------------------
#
# A progressive stream transmits the SAME quantized coefficients as a
# baseline stream, reordered: low frequencies (and high-order bits)
# first. Decode therefore accumulates per-block coefficient vectors
# across scans and runs dequantize+IDCT once at EOI. The four scan
# kinds (DC/AC × first/refinement, T.81 G.1.2) each have their own
# entropy state machine below.


def _frame_geometry(frame: dict) -> dict:
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    geo = {"hmax": hmax, "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y, "comp": {}}
    for ci, c in enumerate(comps):
        # MCU-padded grid (interleaved scans cover dummy blocks too)
        full_bx, full_by = mcus_x * c["h"], mcus_y * c["v"]
        # true grid (non-interleaved scans cover only real blocks)
        cw = -(-frame["w"] * c["h"] // hmax)
        ch = -(-frame["h"] * c["v"] // vmax)
        geo["comp"][ci] = {
            "full_bx": full_bx,
            "full_by": full_by,
            "true_bx": -(-cw // 8),
            "true_by": -(-ch // 8),
        }
    return geo


def _init_prog_state(frame: dict) -> dict:
    geo = _frame_geometry(frame)
    coef = {}
    for ci in geo["comp"]:
        g = geo["comp"][ci]
        coef[ci] = np.zeros((g["full_by"], g["full_bx"], 64), dtype=np.int64)
    return {"geo": geo, "coef": coef}


def _split_restarts(scan: bytes, restart_interval: int) -> list[bytes]:
    if not restart_interval:
        return [scan]
    segments = []
    cur = bytearray()
    i = 0
    while i < len(scan):
        if scan[i] == 0xFF and i + 1 < len(scan) and 0xD0 <= scan[i + 1] <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            i += 2
            continue
        cur.append(scan[i])
        i += 1
    segments.append(bytes(cur))
    return segments


def _progressive_scan(
    scan: bytes,
    frame: dict,
    scan_comps: list[dict],
    state: dict,
    dc_dec: dict,
    ac_dec: dict,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
) -> None:
    """Apply one SOS to the coefficient state. DC scans (ss==0) may
    interleave several components in MCU order; AC scans are always
    single-component over the true block grid (T.81 G.1)."""
    geo = state["geo"]
    comp_idx = [
        next(i for i, c in enumerate(frame["comps"]) if c["id"] == sc["id"])
        for sc in scan_comps
    ]
    segments = _split_restarts(scan, restart_interval)

    if ss == 0:
        if se != 0:
            raise ValueError("corrupt JPEG: DC scan with Se != 0")
        _dc_scan(segments, frame, scan_comps, comp_idx, state, dc_dec, ah, al,
                 restart_interval)
        return
    if len(scan_comps) != 1:
        raise ValueError("corrupt JPEG: interleaved AC progressive scan")
    ci = comp_idx[0]
    act = ac_dec[scan_comps[0]["ac"]]
    g = geo["comp"][ci]
    coef = state["coef"][ci]
    blocks = [
        coef[by, bx]
        for by in range(g["true_by"])
        for bx in range(g["true_bx"])
    ]
    n_per_seg = restart_interval or len(blocks)
    done = 0
    for seg in segments:
        chunk = blocks[done : done + n_per_seg]
        if not chunk:
            break
        reader = _scan_reader(seg)
        if ah == 0:
            _ac_first(reader, chunk, act, ss, se, al)
        else:
            _ac_refine(reader, chunk, act, ss, se, al)
        done += len(chunk)


def _dc_scan(
    segments: list[bytes],
    frame: dict,
    scan_comps: list[dict],
    comp_idx: list[int],
    state: dict,
    dc_dec: dict,
    ah: int,
    al: int,
    restart_interval: int,
) -> None:
    geo = state["geo"]
    interleaved = len(scan_comps) > 1
    # block sequence in scan order: interleaved MCU walk, or the true
    # grid for a single-component scan
    seq: list[np.ndarray] = []
    if interleaved:
        for my in range(geo["mcus_y"]):
            for mx in range(geo["mcus_x"]):
                for sc, ci in zip(scan_comps, comp_idx):
                    coef = state["coef"][ci]
                    for by in range(sc["v"]):
                        for bx in range(sc["h"]):
                            seq.append((ci, coef[my * sc["v"] + by, mx * sc["h"] + bx]))
        per_unit = sum(sc["h"] * sc["v"] for sc in scan_comps)
    else:
        ci = comp_idx[0]
        g = geo["comp"][ci]
        coef = state["coef"][ci]
        for by in range(g["true_by"]):
            for bx in range(g["true_bx"]):
                seq.append((ci, coef[by, bx]))
        per_unit = 1

    n_per_seg = (restart_interval * per_unit) if restart_interval else len(seq)
    done = 0
    for seg in segments:
        chunk = seq[done : done + n_per_seg]
        if not chunk:
            break
        reader = _scan_reader(seg)
        if ah == 0:
            preds: dict[int, int] = {}
            for ci, block in chunk:
                dct = dc_dec[next(sc["dc"] for sc, i in zip(scan_comps, comp_idx) if i == ci)]
                size = _read_code(reader, dct)
                diff = _extend(reader.read(size), size)
                preds[ci] = preds.get(ci, 0) + diff
                block[0] = preds[ci] << al
        else:
            for _ci, block in chunk:
                if reader.read(1):
                    block[0] |= 1 << al
        done += len(chunk)


def _ac_first(reader: MsbReader, blocks: list[np.ndarray], act: dict,
              ss: int, se: int, al: int) -> None:
    """AC first pass (Ah==0): band coefficients arrive run-length
    coded with EOBn end-of-band runs (T.81 G.1.2.2)."""
    eobrun = 0
    for zz in blocks:
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = _read_code(reader, act)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.read(r)
                    break
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("corrupt JPEG: AC band overflow")
            zz[k] = _extend(reader.read(s), s) << al
            k += 1


def _ac_refine(reader: MsbReader, blocks: list[np.ndarray], act: dict,
               ss: int, se: int, al: int) -> None:
    """AC refinement pass (Ah>0): one new bit for every coefficient
    already nonzero, plus newly-significant ±1·2^Al coefficients
    threaded through the zero runs (T.81 G.1.2.3; the libjpeg
    decode_mcu_AC_refine structure)."""
    p1 = 1 << al
    m1 = -1 << al
    eobrun = 0
    for zz in blocks:
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _read_code(reader, act)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r < 15:
                        # EOBn: the run INCLUDES this block — its
                        # remaining correction bits are still read in
                        # the tail below (libjpeg decode_mcu_AC_refine)
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.read(r)
                        break
                    # r == 15: skip over 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("corrupt JPEG: refinement size != 1")
                    newval = p1 if reader.read(1) else m1
                # advance past r zero-history coefficients, applying
                # correction bits to nonzero ones encountered
                while k <= se:
                    if zz[k] != 0:
                        if reader.read(1) and not (zz[k] & p1):
                            zz[k] += p1 if zz[k] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    zz[k] = newval
                k += 1
        if eobrun:
            # remainder of this band: correction bits only
            while k <= se:
                if zz[k] != 0:
                    if reader.read(1) and not (zz[k] & p1):
                        zz[k] += p1 if zz[k] >= 0 else m1
                k += 1
            eobrun -= 1


def _reconstruct_progressive(frame: dict, state: dict, qtables: dict) -> np.ndarray:
    geo = state["geo"]
    comps = frame["comps"]
    planes = []
    for ci, c in enumerate(comps):
        g = geo["comp"][ci]
        qt = qtables[c["q"]]
        coef = state["coef"][ci]  # (by, bx, 64) zigzag order
        blocks = np.zeros((g["full_by"] * g["full_bx"], 64), dtype=np.int64)
        blocks[:, ZIGZAG] = coef.reshape(-1, 64)
        spatial = _idct(blocks.reshape(-1, 8, 8) * qt[None, :, :]) + 128.0
        plane = (
            spatial.reshape(g["full_by"], g["full_bx"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(g["full_by"] * 8, g["full_bx"] * 8)
        )
        planes.append(plane)
    return _finish_planes(planes, comps, frame["h"], frame["w"], geo["hmax"], geo["vmax"])


# --- Progressive encoder --------------------------------------------------


def _pt_dc(v: int, al: int) -> int:
    """DC point transform: arithmetic shift (T.81 G.1.2.1 — rounds
    toward −∞ so the refinement bit is the true low bit in two's
    complement)."""
    return v >> al


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: magnitude shift toward zero (G.1.2.2)."""
    return -((-v) >> al) if v < 0 else v >> al


def _encode_ac_first(writer: MsbWriter, blocks: list[np.ndarray], ac_codes: dict,
                     ss: int, se: int, al: int) -> None:
    """AC first pass encoder. End-of-band is always coded as EOB1
    (symbol 0x00): the standard Annex-K AC tables define no EOBn
    symbols for n>1 (libjpeg emits those only with custom-optimized
    tables), and a run of k all-zero bands is exactly k EOB1s. The
    decoder still accepts general EOBn from other encoders."""
    for zz in blocks:
        band = [_pt_ac(int(zz[k]), al) for k in range(ss, se + 1)]
        nz = [i for i, v in enumerate(band) if v]
        if not nz:
            code, length = ac_codes[0x00]
            writer.write(code, length)
            continue
        run = 0
        for i in range(nz[-1] + 1):
            v = band[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                writer.write(code, length)
                run -= 16
            size, bits = _magnitude(v)
            code, length = ac_codes[(run << 4) | size]
            writer.write(code, length)
            writer.write(bits, size)
            run = 0
        if nz[-1] < se - ss:  # zeros remain past the last nonzero
            code, length = ac_codes[0x00]
            writer.write(code, length)


def _encode_ac_refine(writer: MsbWriter, blocks: list[np.ndarray], ac_codes: dict,
                      ss: int, se: int, al: int) -> None:
    """AC refinement encoder (the libjpeg encode_mcu_AC_refine
    structure, restricted to EOB1 like :func:`_encode_ac_first`):
    newly-significant coefficients are coded as run/size=1 symbols
    whose zero runs count only zero-HISTORY positions; correction
    bits for already-nonzero coefficients are appended after the
    symbol that carries the reader past them; any still-buffered
    correction bits ride behind the block's EOB1."""
    for zz in blocks:
        band = [int(zz[k]) for k in range(ss, se + 1)]
        t = [_pt_ac(v, al) for v in band]
        newly = [i for i, v in enumerate(t) if abs(v) == 1]
        eob = (newly[-1] + 1) if newly else 0
        run = 0
        br: list[int] = []  # correction bits since the last symbol
        for i, v in enumerate(t):
            if v == 0:
                run += 1
                continue
            # ZRL flush happens at ANY nonzero once the zero run
            # exceeds 15 — including history coefficients — so every
            # buffered correction bit stays inside the 16-zero span
            # the decoder walks after the ZRL. Flushing only at
            # newly-significant coefficients desyncs the stream when
            # a history coefficient sits past the 16th zero (found by
            # the hypothesis round-trip property on noise images).
            while run > 15 and i < eob:
                code, length = ac_codes[0xF0]
                writer.write(code, length)
                run -= 16
                for bit in br:
                    writer.write(bit, 1)
                br = []
            if abs(v) > 1:
                br.append(abs(v) & 1)
                continue
            # newly significant (|t| == 1)
            code, length = ac_codes[(run << 4) | 1]
            writer.write(code, length)
            writer.write(1 if v > 0 else 0, 1)
            for bit in br:
                writer.write(bit, 1)
            br = []
            run = 0
        if run or br:
            # zeros (and possibly nonzero-history tails) remain: EOB1
            # carrying the leftover correction bits
            code, length = ac_codes[0x00]
            writer.write(code, length)
            for bit in br:
                writer.write(bit, 1)


def encode_jpeg_progressive(img: np.ndarray, subsample: str = "420") -> bytes:
    """Encode uint8 grayscale (h, w) or RGB (h, w, 3) as progressive
    (SOF2) JPEG with the same Annex-K tables as :func:`encode_jpeg`
    and a libjpeg-like scan script: DC first (Al=1), AC bands 1-5 and
    6-63 first (Al=1) per component, DC refinement, AC refinements —
    exercising spectral selection AND successive approximation in
    both directions. The quantized coefficients are identical to the
    baseline encoding's, so a full-pass decode is bit-identical to
    decoding the baseline stream."""
    img = np.asarray(img)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected (h,w) or (h,w,3) uint8, got {img.shape}")
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        sampling = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            cbp = np.pad(cb, ((0, h % 2), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, h % 2), (0, w % 2)), mode="edge")
            cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
            sampling = [(2, 2), (1, 1), (1, 1)]
        elif subsample == "422":
            cbp = np.pad(cb, ((0, 0), (0, w % 2)), mode="edge")
            crp = np.pad(cr, ((0, 0), (0, w % 2)), mode="edge")
            cb = cbp.reshape(h, cbp.shape[1] // 2, 2).mean(axis=2)
            cr = crp.reshape(h, crp.shape[1] // 2, 2).mean(axis=2)
            sampling = [(2, 1), (1, 1), (1, 1)]
        elif subsample == "444":
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsample!r}")
        planes = [y, cb, cr]
    ncomp = len(planes)

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    qtabs = [QTABLE_LUMA] + [QTABLE_CHROMA] * (ncomp - 1)

    # quantize each plane at MCU-padded size; keep both the padded
    # grid (DC interleaved walk) and the true grid (AC scans)
    comp_q = []
    for ci in range(ncomp):
        sh, sv = sampling[ci]
        cw_pad, ch_pad = mcus_x * 8 * sh, mcus_y * 8 * sv
        plane = planes[ci]
        plane = np.pad(
            plane,
            ((0, ch_pad - plane.shape[0]), (0, cw_pad - plane.shape[1])),
            mode="edge",
        )
        q, bh, bw = _quantize_plane(plane, qtabs[ci])
        zz = q.reshape(-1, 64)[:, ZIGZAG].reshape(bh, bw, 64)
        true_bx = -(--(-w * sh // hmax) // 8)
        true_by = -(--(-h * sv // vmax) // 8)
        comp_q.append({"zz": zz, "sh": sh, "sv": sv, "true_bx": true_bx, "true_by": true_by})

    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, _dqt_payload(0, QTABLE_LUMA))
    if ncomp > 1:
        out += _seg(0xDB, _dqt_payload(1, QTABLE_CHROMA))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        sh, sv = sampling[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += _seg(0xC2, sof)  # SOF2 progressive
    out += _seg(0xC4, _dht_payload(0, 0, *_DC_LUMA))
    out += _seg(0xC4, _dht_payload(1, 0, *_AC_LUMA))
    if ncomp > 1:
        out += _seg(0xC4, _dht_payload(0, 1, *_DC_CHROMA))
        out += _seg(0xC4, _dht_payload(1, 1, *_AC_CHROMA))

    dc_tabs = [_build_codes(*_DC_LUMA)] + [_build_codes(*_DC_CHROMA)] * (ncomp - 1)
    ac_tabs = [_build_codes(*_AC_LUMA)] + [_build_codes(*_AC_CHROMA)] * (ncomp - 1)

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        payload = bytes([len(comp_ids)])
        for cid in comp_ids:
            tabs = (0 if cid == 1 else 1)
            payload += bytes([cid, (tabs << 4) | tabs])
        return _seg(0xDA, payload + bytes([ss, se, (ah << 4) | al]))

    def ac_blocks(ci: int) -> list[np.ndarray]:
        cq = comp_q[ci]
        return [
            cq["zz"][by, bx]
            for by in range(cq["true_by"])
            for bx in range(cq["true_bx"])
        ]

    # scan 1: DC first, all components interleaved, Al=1
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    writer = MsbWriter()
    preds = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(ncomp):
                cq = comp_q[ci]
                for by in range(cq["sv"]):
                    for bx in range(cq["sh"]):
                        dc = _pt_dc(int(cq["zz"][my * cq["sv"] + by, mx * cq["sh"] + bx, 0]), 1)
                        size, bits = _magnitude(dc - preds[ci])
                        preds[ci] = dc
                        code, length = dc_tabs[ci][size]
                        writer.write(code, length)
                        if size:
                            writer.write(bits, size)
    out += _scan_bytes(writer)

    # scans 2..: AC first passes, Al=1 (luma split into two bands —
    # the spectral-selection shape libjpeg's default script uses)
    ac_first_script = [(0, 1, 5), (0, 6, 63)] + [(ci, 1, 63) for ci in range(1, ncomp)]
    for ci, ss_, se_ in ac_first_script:
        out += sos_header([ci + 1], ss_, se_, 0, 1)
        writer = MsbWriter()
        _encode_ac_first(writer, ac_blocks(ci), ac_tabs[ci], ss_, se_, 1)
        out += _scan_bytes(writer)

    # DC refinement: interleaved, one raw bit per block
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    writer = MsbWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(ncomp):
                cq = comp_q[ci]
                for by in range(cq["sv"]):
                    for bx in range(cq["sh"]):
                        writer.write(int(cq["zz"][my * cq["sv"] + by, mx * cq["sh"] + bx, 0]) & 1, 1)
    out += _scan_bytes(writer)

    # AC refinement passes, Ah=1 → Al=0
    for ci in range(ncomp):
        out += sos_header([ci + 1], 1, 63, 1, 0)
        writer = MsbWriter()
        _encode_ac_refine(writer, ac_blocks(ci), ac_tabs[ci], 1, 63, 0)
        out += _scan_bytes(writer)

    out += b"\xff\xd9"
    return bytes(out)
