"""Pure-Python FLAC codec — stdlib only.

The first ENTROPY-CODED codec in the media family implemented end to
end: unlike the header/structure probes (llm/mp3.py, llm/h264.py),
this module encodes and decodes real sample data losslessly per the
public FLAC format (RFC 9639 / xiph.org spec):

* Rice/Golomb residual coding — zigzag signed mapping, unary
  quotient (q zero bits then a one), k-bit remainder, PARTITIONED
  (RFC 9639 §9.2.7: the encoder tries partition orders 0-4 and keeps
  the cheapest, so nonstationary blocks carry per-partition
  parameters; the decoder handles any order),
* fixed linear predictors of order 0-4 (the polynomial predictors
  whose coefficients are binomial — no LPC coefficient tables
  needed), chosen per frame by residual magnitude,
* frame structure bit-for-bit: 14-bit sync, UTF-8-coded frame
  number, blocksize/sample-rate codes, CRC-8 header check and
  CRC-16 frame check, STREAMINFO with the MD5 of the raw samples.

Scope and honesty: mono AND stereo, 16-bit; constant,
verbatim-class, fixed (orders 0-4) AND real LPC subframes —
Levinson-Durbin analysis over the block autocorrelation, coefficient
quantization to 12 bits with an adaptive shift, and exact integer
prediction on decode (any LPC order 1-32) — with the encoder
choosing whichever subframe class costs fewest estimated bits.
Stereo frames pick per-frame among independent / left-side /
right-side / mid-side channel decorrelation (the side channel
carries its extra 17th bit; mid/side parity reconstruction per the
spec), so correlated stereo compresses below two mono encodes.
Losslessness is provable, not asserted:
decode(encode(x)) == x bit-exactly — quantized-LPC prediction is
integer-identical on both sides, so predictor quality affects only
SIZE, never fidelity — and the decoder verifies CRC-8, CRC-16, and
the STREAMINFO MD5 on every stream (property-tested in
tests/test_flac.py).

Why it belongs in a 100 TB pipeline: audio corpora ship compressed;
a filter-before-decode router needs the STREAMINFO walk (duration,
rate, bit depth from 34 bytes), and feature extraction needs real
sample reconstruction — both run inside mapInPandas, where each
Arrow batch decodes independently and in parallel.
"""

from __future__ import annotations

import hashlib
import operator
import struct

from stockify_spark.llm.bits import MsbReader, MsbWriter, malformed_input_guard

BLOCKSIZE = 4096
MAX_FIXED_ORDER = 4

# ---------------------------------------------------------------------------
# CRCs (FLAC frame checks): CRC-8 poly 0x07, CRC-16 poly 0x8005
# ---------------------------------------------------------------------------


def _make_crc_table(poly: int, width: int) -> list[int]:
    table = []
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[((crc >> 8) ^ b) & 0xFF]
    return crc


# ---------------------------------------------------------------------------
# rice residual coding
# ---------------------------------------------------------------------------


def _write_unary(w: MsbWriter, q: int) -> None:
    """FLAC unary: q zero bits terminated by a one bit."""
    while q >= 32:
        w.write(0, 32)
        q -= 32
    w.write(1, q + 1)


def _read_unary(r: MsbReader) -> int:
    q = 0
    while r.read(1) == 0:
        q += 1
    return q


def _zigzag(n: int) -> int:
    return (n << 1) if n >= 0 else (-(n << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _best_rice_param(residuals: list[int]) -> tuple[int, int]:
    """(best 4-bit param, its coded bit cost) for one partition."""
    best_k, best_bits = 0, None
    total_u = [_zigzag(r) for r in residuals]
    for k in range(15):
        bits = sum((u >> k) + 1 + k for u in total_u)
        if best_bits is None or bits < best_bits:
            best_k, best_bits = k, bits
        elif bits > best_bits * 2:
            break
    return best_k, best_bits or 0


def _partition_slices(
    blocksize: int, order: int, porder: int
) -> list[tuple[int, int]] | None:
    """Residual (start, count) per partition at ``porder``, or None if
    the geometry is invalid (RFC 9639: blocksize divisible by 2^p;
    first partition loses the predictor's warmup samples)."""
    parts = 1 << porder
    if blocksize % parts:
        return None
    per = blocksize // parts
    if per <= order:
        return None
    out = []
    pos = 0
    for i in range(parts):
        cnt = per - order if i == 0 else per
        out.append((pos, cnt))
        pos += cnt
    return out


def _write_residuals(
    w: MsbWriter, residuals: list[int], blocksize: int, order: int
) -> None:
    """Partitioned Rice, coding method 00: the encoder tries partition
    orders 0-4 and keeps the cheapest — nonstationary blocks win with
    per-partition parameters, exactly why the format has them."""
    best = None
    for porder in range(5):
        slices = _partition_slices(blocksize, order, porder)
        if slices is None:
            continue
        plan = [
            _best_rice_param(residuals[s : s + c]) for s, c in slices
        ]
        cost = 4 * len(plan) + sum(b for _, b in plan)
        if best is None or cost < best[2]:
            best = (porder, [k for k, _ in plan], cost, slices)
    porder, params, _, slices = best
    w.write(0, 2)  # coding method: 4-bit rice
    w.write(porder, 4)
    for (s, c), k in zip(slices, params):
        w.write(k, 4)
        for rres in residuals[s : s + c]:
            u = _zigzag(rres)
            _write_unary(w, u >> k)
            w.write(u & ((1 << k) - 1), k)


def _read_residuals(r: MsbReader, blocksize: int, order: int) -> list[int]:
    method = r.read(2)
    if method != 0:
        raise NotImplementedError("5-bit rice escape not emitted by this encoder")
    porder = r.read(4)
    slices = _partition_slices(blocksize, order, porder)
    if slices is None:
        raise ValueError(f"invalid partition order {porder} for block {blocksize}")
    out: list[int] = []
    for _, cnt in slices:
        k = r.read(4)
        if k == 15:
            raise NotImplementedError("verbatim rice escape not emitted")
        for _ in range(cnt):
            u = (_read_unary(r) << k) | r.read(k)
            out.append(_unzigzag(u))
    return out


# ---------------------------------------------------------------------------
# fixed predictors (orders 0-4; residual = repeated differencing)
# ---------------------------------------------------------------------------


def _lpc_analyze(samples: list[int], order: int) -> list[float] | None:
    """Levinson-Durbin over the block's autocorrelation — the
    textbook LPC analysis every lossless audio coder uses (public
    algorithm; no tables). Returns predictor coefficients a[1..order]
    (s[i] ~ sum a[j]*s[i-j]) or None for degenerate blocks."""
    n = len(samples)
    if n <= order:
        return None
    r = []
    for lag in range(order + 1):
        acc = 0.0
        for i in range(lag, n):
            acc += samples[i] * samples[i - lag]
        r.append(acc)
    if r[0] == 0.0:
        return None  # silent block — constant subframe handles it
    err = r[0] * 1.000001 + 1e-9  # tiny ridge keeps recursion stable
    a = [0.0] * (order + 1)
    for m in range(1, order + 1):
        acc = r[m]
        for j in range(1, m):
            acc -= a[j] * r[m - j]
        k = acc / err
        if not -2.0 < k < 2.0:
            return None
        new_a = a[:]
        new_a[m] = k
        for j in range(1, m):
            new_a[j] = a[j] - k * a[m - j]
        a = new_a
        err *= 1.0 - k * k
        if err <= 0:
            return None
    return a[1:]


def _quantize_lpc(coefs: list[float], precision: int = 12):
    """(quantized ints, shift) with every |q| < 2^(precision-1);
    lowers the shift until everything fits."""
    lim = 1 << (precision - 1)
    for shift in range(14, -1, -1):
        q = [int(round(c * (1 << shift))) for c in coefs]
        if all(-lim <= x < lim for x in q):
            return q, shift
    return None


def _lpc_residuals(
    samples: list[int], q: list[int], shift: int
) -> list[int]:
    order = len(q)
    out = []
    for i in range(order, len(samples)):
        pred = sum(q[j] * samples[i - 1 - j] for j in range(order)) >> shift
        out.append(samples[i] - pred)
    return out


def _difference(samples: list[int], order: int) -> list[int]:
    res = list(samples)
    for _ in range(order):
        res = [res[i] - res[i - 1] for i in range(1, len(res))]
    return res


def _reintegrate(residuals: list[int], warmup: list[int], order: int) -> list[int]:
    """Invert order-k differencing given the k warmup samples."""
    out = list(residuals)
    for o in range(order, 0, -1):
        acc = _difference(warmup, o - 1)[-1]
        integ = []
        for v in out:
            acc += v
            integ.append(acc)
        out = integ
    return warmup + out


# ---------------------------------------------------------------------------
# UTF-8-style coded number (frame header)
# ---------------------------------------------------------------------------


def _utf8_encode(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    for nbytes, lead in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8), (6, 0xFC)):
        if n < 1 << (5 * nbytes + 1):
            out = [lead | (n >> (6 * (nbytes - 1)))]
            for i in range(nbytes - 2, -1, -1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


def _utf8_decode(r: MsbReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    for bit in range(7, 0, -1):
        if b0 & (1 << bit):
            nbytes += 1
        else:
            break
    v = b0 & ((1 << (7 - nbytes)) - 1)
    for _ in range(nbytes - 1):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation in frame number")
        v = (v << 6) | (b & 0x3F)
    return v


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _subframe_cost(samples: list[int], depth: int) -> int:
    """Estimated bit cost of the best subframe for this channel —
    used by the stereo-decorrelation chooser without double-encoding."""
    n = len(samples)
    if n and all(s == samples[0] for s in samples):
        return 8 + depth
    best = None
    for order in range(min(MAX_FIXED_ORDER, n - 1) + 1):
        res = _difference(samples, order)
        cost = (_best_rice_param(res)[1] if res else 0) + depth * order
        if best is None or cost < best:
            best = cost
    return 8 + (best or 0)


def _write_subframe(w: MsbWriter, samples: list[int], depth: int) -> None:
    """One channel's subframe: constant / fixed / LPC — cheapest
    estimated bit cost. ``depth`` is the channel bit depth (17 for a
    stereo side channel, else the frame depth)."""
    n = len(samples)
    if all(s == samples[0] for s in samples):
        w.write(0b000000, 6)  # SUBFRAME_CONSTANT
        w.write(0, 1)  # no wasted bits
        w.write_signed(samples[0], depth)
        return

    def rice_cost(res: list[int]) -> int:
        return _best_rice_param(res)[1] if res else 0

    # fixed predictors: header = warmup only
    best = None  # (cost, kind, order, residuals, q, shift)
    for order in range(min(MAX_FIXED_ORDER, n - 1) + 1):
        res = _difference(samples, order)
        cost = rice_cost(res) + depth * order
        if best is None or cost < best[0]:
            best = (cost, "fixed", order, res, None, 0)
    # LPC: header also carries precision/shift/coefficients, but
    # real audio pays it back through much smaller residuals
    precision = 12
    for order in (4, 8):
        if n <= order + 1:
            continue
        coefs = _lpc_analyze(samples, order)
        if coefs is None:
            continue
        qz = _quantize_lpc(coefs, precision)
        if qz is None:
            continue
        q, shift = qz
        res = _lpc_residuals(samples, q, shift)
        cost = rice_cost(res) + depth * order + 4 + 5 + precision * order
        if cost < best[0]:
            best = (cost, "lpc", order, res, q, shift)
    _, kind, order, res, q, shift = best
    if kind == "fixed":
        w.write(0b001000 | order, 6)  # SUBFRAME_FIXED
        w.write(0, 1)  # no wasted bits
        for s in samples[:order]:  # warmup, channel bit depth
            w.write_signed(s, depth)
    else:
        w.write(0b100000 | (order - 1), 6)  # SUBFRAME_LPC
        w.write(0, 1)  # no wasted bits
        for s in samples[:order]:
            w.write_signed(s, depth)
        w.write(precision - 1, 4)
        w.write(shift, 5)  # non-negative; field is wide enough
        for c in q:
            w.write_signed(c, precision)
    _write_residuals(w, res, n, order)


# stereo channel assignments (RFC 9639 frame header): code -> which
# derived channels are stored, and which of the two carries the extra
# side bit
_CH_INDEPENDENT = 0b0001
_CH_LEFT_SIDE = 0b1000
_CH_RIGHT_SIDE = 0b1001
_CH_MID_SIDE = 0b1010


def _encode_frame(
    channels: list[list[int]], frame_no: int, sample_rate: int
) -> bytes:
    n = len(channels[0])
    stereo = len(channels) == 2
    if stereo:
        left, right = channels
        side = [a - b for a, b in zip(left, right)]
        mid = [(a + b) >> 1 for a, b in zip(left, right)]
        # pick the decorrelation whose stored channels cost least —
        # correlated stereo makes the side channel nearly silent
        options = [
            (_CH_INDEPENDENT, [(left, 16), (right, 16)]),
            (_CH_LEFT_SIDE, [(left, 16), (side, 17)]),
            (_CH_RIGHT_SIDE, [(side, 17), (right, 16)]),
            (_CH_MID_SIDE, [(mid, 16), (side, 17)]),
        ]
        ch_code, stored = min(
            options,
            key=lambda o: sum(_subframe_cost(s, d) for s, d in o[1]),
        )
    else:
        ch_code = 0  # mono
        stored = [(channels[0], 16)]
    w = MsbWriter()
    w.write(0b11111111111110, 14)  # sync
    w.write(0, 1)  # reserved
    w.write(0, 1)  # fixed-blocksize strategy
    if n == 4096:
        bs_code, bs_tail = 0b1100, None
    else:
        bs_code, bs_tail = 0b0111, n - 1  # 16-bit blocksize-1 follows
    w.write(bs_code, 4)
    w.write(0, 4)  # sample rate: from STREAMINFO
    w.write(ch_code, 4)
    w.write(0b100, 3)  # 16-bit samples
    w.write(0, 1)  # reserved
    for b in _utf8_encode(frame_no):
        w.write(b, 8)
    if bs_tail is not None:
        w.write(bs_tail, 16)
    header = w.flush()
    w = MsbWriter()
    for b in header:
        w.write(b, 8)
    w.write(crc8(header), 8)
    for ch, depth in stored:
        w.write(0, 1)  # zero padding bit
        _write_subframe(w, ch, depth)
    body = w.flush()
    return body + struct.pack(">H", crc16(body))


def encode_flac(samples, sample_rate: int = 16000) -> bytes:
    """16-bit FLAC stream: fLaC magic + STREAMINFO + frames.
    ``samples`` is a flat mono list, or a (left, right) tuple/list of
    two equal-length channel lists for stereo (per-frame the encoder
    picks independent / left-side / right-side / mid-side, whichever
    decorrelation costs least)."""
    stereo = (
        isinstance(samples, (tuple, list))
        and len(samples) == 2
        and isinstance(samples[0], list)
    )
    # Python ints: numpy int16 elements would overflow in the LPC
    # autocorrelation (still lossless, but a worse predictor)
    chans = [[operator.index(s) for s in ch] for ch in (samples if stereo else [samples])]
    if stereo and len(chans[0]) != len(chans[1]):
        raise ValueError("stereo channels must be equal length")
    for ch in chans:
        if any(not -32768 <= s <= 32767 for s in ch):
            raise ValueError("16-bit sample range exceeded")
    n_samples = len(chans[0])
    frames = bytearray()
    for i in range(0, max(n_samples, 1), BLOCKSIZE):
        block = [ch[i : i + BLOCKSIZE] for ch in chans]
        if block[0]:
            frames += _encode_frame(block, i // BLOCKSIZE, sample_rate)
    interleaved = bytearray()
    for i in range(n_samples):
        for ch in chans:
            interleaved += struct.pack("<h", ch[i])
    md5 = hashlib.md5(bytes(interleaved)).digest()
    w = MsbWriter()
    w.write(BLOCKSIZE, 16)  # min blocksize
    w.write(BLOCKSIZE, 16)  # max blocksize
    w.write(0, 24)  # min frame size unknown
    w.write(0, 24)  # max frame size unknown
    w.write(sample_rate, 20)
    w.write(len(chans) - 1, 3)  # channels - 1
    w.write(15, 5)  # bits per sample - 1
    w.write(n_samples, 36)
    info = w.flush() + md5
    header = b"fLaC" + bytes([0x80, 0, 0, len(info)]) + info  # last-block flag
    return header + bytes(frames)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

_BLOCKSIZE_TABLE = {
    0b0001: 192,
    **{c: 576 << (c - 2) for c in range(0b0010, 0b0110)},
    **{c: 256 << (c - 8) for c in range(0b1000, 0b10000)},
}


@malformed_input_guard("FLAC")
def parse_streaminfo(data: bytes) -> dict:
    """STREAMINFO walk — the 34-byte filter-before-decode router."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        btype = data[pos]
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if btype & 0x7F == 0:
            r = MsbReader(data, pos + 4)
            r.read(16), r.read(24), r.read(24)  # min bs / frame sizes
            _maxbs = r.read(16)
            rate = r.read(20)
            channels = r.read(3) + 1
            bits = r.read(5) + 1
            total = r.read(36)
            info = {
                "sample_rate": rate,
                "channels": channels,
                "bits": bits,
                "total_samples": total,
                "md5": data[pos + 4 + 18 : pos + 4 + 34],
                "frames_at": pos + 4 + length,
            }
        if btype & 0x80:  # last metadata block
            break
        pos += 4 + length
    if info is None:
        raise ValueError("no STREAMINFO block")
    return info


def _read_subframe(r: MsbReader, n: int, depth: int) -> list[int]:
    """One channel's subframe at the given bit depth (17 for a
    stereo side channel)."""
    if r.read(1):
        raise ValueError("subframe padding bit set")
    stype = r.read(6)
    if r.read(1):
        raise NotImplementedError("wasted bits not emitted by this encoder")
    if stype == 0:  # constant
        return [r.read_signed(depth)] * n
    if stype == 1:  # verbatim
        return [r.read_signed(depth) for _ in range(n)]
    if 0b001000 <= stype <= 0b001100:  # fixed order 0-4
        order = stype & 0x07
        warmup = [r.read_signed(depth) for _ in range(order)]
        return _reintegrate(_read_residuals(r, n, order), warmup, order)
    if stype >= 0b100000:  # LPC order 1-32
        order = (stype & 0x1F) + 1
        warmup = [r.read_signed(depth) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise ValueError("invalid qlp precision escape")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative qlp shift")
        q = [r.read_signed(precision) for _ in range(order)]
        res = _read_residuals(r, n, order)
        block = list(warmup)
        for i in range(order, n):
            pred = sum(q[j] * block[i - 1 - j] for j in range(order)) >> shift
            block.append(pred + res[i - order])
        return block
    raise ValueError(f"reserved subframe type {stype:#08b}")


@malformed_input_guard("FLAC")
def decode_flac(data: bytes, verify: bool = True):
    """Full sample reconstruction; returns (samples, sample_rate) —
    ``samples`` is a flat list for mono, a (left, right) tuple of
    channel lists for stereo. With ``verify`` (default) checks every
    frame's CRC-8/CRC-16 and the stream MD5 — a corrupted byte
    raises, never mis-decodes."""
    info = parse_streaminfo(data)
    n_chan = info["channels"]
    if n_chan not in (1, 2) or info["bits"] != 16:
        raise NotImplementedError("decoder subset: mono/stereo 16-bit")
    chans: list[list[int]] = [[] for _ in range(n_chan)]
    pos = info["frames_at"]
    while len(chans[0]) < info["total_samples"]:
        r = MsbReader(data, pos)
        if r.read(14) != 0b11111111111110:
            raise ValueError("lost frame sync")
        r.read(1)
        r.read(1)  # reserved + blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        chan = r.read(4)
        ssize = r.read(3)
        r.read(1)
        if ssize != 0b100:
            raise NotImplementedError("decoder subset: 16-bit frames")
        _frame_no = _utf8_decode(r)
        if bs_code == 0b0110:
            n = r.read(8) + 1
        elif bs_code == 0b0111:
            n = r.read(16) + 1
        else:
            n = _BLOCKSIZE_TABLE[bs_code]
        if sr_code not in (0, *range(1, 12)):
            r.read(8 if sr_code == 12 else 16)  # explicit rate field, unused
        r.align()
        header_end = r.byte_pos()
        if verify and crc8(data[pos:header_end]) != data[header_end]:
            raise ValueError("frame header CRC-8 mismatch")
        r.read(8)  # the CRC-8 byte itself
        if chan == 0:  # mono
            if n_chan != 1:
                raise ValueError("mono frame in a stereo stream")
            chans[0].extend(_read_subframe(r, n, 16))
        else:
            if n_chan != 2:
                raise ValueError("stereo frame in a mono stream")
            if chan == _CH_INDEPENDENT:
                left = _read_subframe(r, n, 16)
                right = _read_subframe(r, n, 16)
            elif chan == _CH_LEFT_SIDE:
                left = _read_subframe(r, n, 16)
                side = _read_subframe(r, n, 17)
                right = [a - s for a, s in zip(left, side)]
            elif chan == _CH_RIGHT_SIDE:
                side = _read_subframe(r, n, 17)
                right = _read_subframe(r, n, 16)
                left = [b + s for b, s in zip(right, side)]
            elif chan == _CH_MID_SIDE:
                mid = _read_subframe(r, n, 16)
                side = _read_subframe(r, n, 17)
                # mid dropped the (L+R) LSB; side's parity restores it
                left, right = [], []
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
            else:
                raise ValueError(f"reserved channel assignment {chan:#06b}")
            chans[0].extend(left)
            chans[1].extend(right)
        r.align()
        body_end = r.byte_pos()
        if body_end + 2 > len(data):
            raise ValueError("truncated frame (no room for CRC-16)")
        if verify:
            (frame_crc,) = struct.unpack(">H", data[body_end : body_end + 2])
            if crc16(data[pos:body_end]) != frame_crc:
                raise ValueError("frame CRC-16 mismatch")
        pos = body_end + 2
    if verify:
        interleaved = bytearray()
        for i in range(len(chans[0])):
            for ch in chans:
                interleaved += struct.pack("<h", ch[i])
        if hashlib.md5(bytes(interleaved)).digest() != info["md5"]:
            raise ValueError("stream MD5 mismatch")
    if n_chan == 1:
        return chans[0], info["sample_rate"]
    return (chans[0], chans[1]), info["sample_rate"]
