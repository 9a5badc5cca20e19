"""Pure-stdlib GIF89a codec (encode + decode), LZW for real.

The round-8+ codec suite (png/jpeg/wav/y4m/avi/mp4/flac/deflate)
lacked the one image format whose compression layer is LZW — the
variable-width, table-growing dictionary coder. This module
implements it both directions with the giflib width convention
(code width bumps when the next-to-assign code reaches 2^width;
encoder emits a Clear and resets when the table would pass 4096),
LSB-first bit packing (llm/bits.py), 255-byte sub-block framing, multi-frame
streams with Graphic Control Extensions, and a 256-entry grayscale
global color table.

Like the rest of the suite this is a from-scratch implementation of
a public file format (GIF89a spec; LZW per Welch 1984), used inside
mapInPandas so the Spark-side plumbing — binary columns, Arrow
batches, per-frame explode — is the real 100 TB shape.
"""

from __future__ import annotations

import struct

from stockify_spark.llm.bits import LsbReader, LsbWriter, malformed_input_guard

_MAX_CODE = 4096  # GIF caps LZW codes at 12 bits


def lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable width starting min_code_size+1,
    Clear emitted first and whenever the table would exceed 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = LsbWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, width = reset()
    w.write(clear, width)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        w.write(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == _MAX_CODE:
            w.write(clear, width)
            table, next_code, width = reset()
        cur = nxt[-1:]
    if cur:
        w.write(table[cur], width)
        # the decoder performs ONE MORE table assignment on reading
        # this final code (the encoder assigns at emission, the
        # decoder one code later — so here their counters meet): when
        # that assignment lands on 2^width - 1 an early-change
        # decoder widens BEFORE reading EOI, so the encoder must
        # write EOI at the widened width too (r13 ADVICE item 4; the
        # in-repo decoder masked this by exiting on n_expected, but
        # external decoders hit it on boundary-sized streams)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    w.write(eoi, width)
    return w.flush()


def lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """Inverse of lzw_encode; stops at EOI or when n_expected pixels
    have been produced (some writers omit a final EOI)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    r = LsbReader(data)
    out = bytearray()

    def fresh() -> tuple[dict[int, bytes], int, int, bytes | None]:
        """(table, next_code, width, prev) as a Clear code leaves them."""
        return {i: bytes([i]) for i in range(clear)}, eoi + 1, min_code_size + 1, None

    # a stream starts in the state a Clear code sets, whether or not
    # the writer emitted one first
    table, next_code, width, prev = fresh()
    while len(out) < n_expected:
        code = r.read(width)
        if code == clear:
            table, next_code, width, prev = fresh()
            continue
        if code == eoi:
            break
        if prev is None:  # first code after a clear: literal by construction
            if code >= clear:
                raise ValueError(f"first LZW code {code} not a literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"LZW code {code} ahead of table ({next_code})")
        out += entry
        if prev is not None:
            table[next_code] = prev + entry[:1]
            next_code += 1
            # the decoder's table lags the encoder's by exactly one
            # entry (the encoder assigns at emission, the decoder one
            # code later), so it must widen one entry EARLY: at
            # 2^width - 1, not 2^width — the classic GIF pairing
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
            # encoder resets at 4096 via an explicit Clear; mirror by
            # simply not growing past 12 bits until that Clear arrives
        prev = entry
    return bytes(out)


def _sub_blocks(payload: bytes) -> bytes:
    """Frame a byte stream into GIF's <=255-byte sub-blocks."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _read_sub_blocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        n = buf[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += buf[pos : pos + n]
        pos += n


def encode_gif(
    frames: list[bytes], width: int, height: int, delay_cs: int = 4
) -> bytes:
    """Encode 8-bit grayscale frames (row-major, len == width*height
    each) as an animated GIF89a with a 256-entry grayscale palette."""
    if not frames:
        raise ValueError("need at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame size mismatch")
    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 8-bit color res, 256 entries
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    for i in range(256):  # grayscale global color table
        out += bytes((i, i, i))
    for f in frames:
        # graphic control extension (gives animation its delay)
        out += bytes((0x21, 0xF9, 0x04, 0x00)) + struct.pack("<H", delay_cs)
        out += bytes((0x00, 0x00))
        # image descriptor: full-frame, no local table, not interlaced
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(8)  # LZW minimum code size
        out += _sub_blocks(lzw_encode(f, 8))
    out += b"\x3b"
    return bytes(out)


@malformed_input_guard("GIF")
def decode_gif(data: bytes) -> dict:
    """Decode a GIF (87a or 89a). Returns {width, height, frames:
    [bytes], delays_cs: [int]} with frames as 8-bit grayscale (the
    palette's red channel — exact for the grayscale tables we write,
    the standard luma proxy otherwise)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width, height, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    frames: list[bytes] = []
    delays: list[int] = []
    pending_delay = 0
    while True:
        marker = data[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            label = data[pos]
            pos += 1
            body, pos = _read_sub_blocks(data, pos)
            if label == 0xF9 and len(body) >= 3:
                pending_delay = struct.unpack("<H", body[1:3])[0]
            continue
        if marker != 0x2C:
            raise ValueError(f"unexpected block 0x{marker:02x}")
        left, top, fw, fh = struct.unpack("<HHHH", data[pos : pos + 8])
        fpacked = data[pos + 8]
        pos += 9
        pal = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 0x07)
            pal = data[pos : pos + 3 * n]
            pos += 3 * n
        if fpacked & 0x40:
            raise NotImplementedError("interlaced GIF frames")
        if pal is None:
            raise ValueError("frame without any color table")
        min_code = data[pos]
        pos += 1
        payload, pos = _read_sub_blocks(data, pos)
        idx = lzw_decode(payload, min_code, fw * fh)
        if len(idx) != fw * fh:
            raise ValueError(f"decoded {len(idx)} pixels, wanted {fw * fh}")
        if (left, top, fw, fh) != (0, 0, width, height):
            raise NotImplementedError("partial-frame composition")
        frames.append(bytes(pal[3 * i] for i in idx))
        delays.append(pending_delay)
        pending_delay = 0
    return {"width": width, "height": height, "frames": frames, "delays_cs": delays}
