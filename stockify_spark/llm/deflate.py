"""Pure-Python DEFLATE / gzip decoder — stdlib-free inflate.

RFC 1951 (DEFLATE) and RFC 1952 (gzip) from scratch: LSB-first bit
stream (``llm/bits.py``), stored blocks, fixed AND dynamic Huffman
blocks (canonical code construction per RFC 1951 §3.2.2, the
code-length meta-alphabet with 16/17/18 run codes), full LZ77
length/distance back-references, plus a from-scratch CRC-32 check
for the gzip wrapper.

This is the one codec in the family with an INDEPENDENT reference
implementation in the container: stdlib ``gzip`` acts as the
encoder, this module decodes, and the tests round-trip every
compression level 0-9 (level 0 exercises stored blocks, low levels
fixed-Huffman, high levels dynamic-Huffman) — a cross-implementation
differential no other media module can run locally. The encoder side
is deliberately NOT reimplemented: compression strategy (lazy match
selection, block splitting) is heuristic, unbounded design space,
and stdlib zlib is universally available; decode is where corpus
ingestion needs code (WARC/.gz shards).

At 100 TB this is the ingest path for gzip'd text shards: gzip
members are NOT splittable, so the unit of parallelism is the FILE
(one shard per task via binary columns in mapInPandas), which is
exactly how the registry query stages it.
"""

from __future__ import annotations

import struct

from stockify_spark.llm.bits import LsbReader, malformed_input_guard

# ---------------------------------------------------------------------------
# integrity check (RFC 1952 CRC-32) — from scratch
# ---------------------------------------------------------------------------


def _make_crc32_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (0xEDB88320 ^ (c >> 1)) if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32_TABLE = _make_crc32_table()


def crc32(data: bytes) -> int:
    c = 0xFFFFFFFF
    for byte in data:
        c = _CRC32_TABLE[(c ^ byte) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# canonical Huffman decoding (RFC 1951 §3.2.2)
# ---------------------------------------------------------------------------


class _Huffman:
    """Decode table from the code-length sequence: canonical codes
    assigned in symbol order within each length, shorter lengths
    first — exactly the RFC 1951 construction."""

    def __init__(self, lengths: list[int]) -> None:
        self.max_len = max(lengths) if any(lengths) else 0
        if self.max_len == 0:
            raise ValueError("empty Huffman alphabet")
        bl_count = [0] * (self.max_len + 1)
        for ln in lengths:
            if ln:
                bl_count[ln] += 1
        code = 0
        next_code = [0] * (self.max_len + 1)
        for ln in range(1, self.max_len + 1):
            code = (code + bl_count[ln - 1]) << 1
            next_code[ln] = code
        # (code, length) -> symbol
        self._table: dict[tuple[int, int], int] = {}
        for sym, ln in enumerate(lengths):
            if ln:
                self._table[(next_code[ln], ln)] = sym
                next_code[ln] += 1

    def read(self, r: LsbReader) -> int:
        """Huffman codes are packed MSB-of-code-first in the LSB
        stream: accumulate bit by bit."""
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | r.read(1)
            sym = self._table.get((code, ln))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


_FIXED_LITLEN = _Huffman(
    [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
)
_FIXED_DIST = _Huffman([5] * 32)

# RFC 1951 §3.2.5 length/distance tables
_LEN_BASE = (
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
    51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258,
)
_LEN_EXTRA = (
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4,
    4, 4, 5, 5, 5, 5, 0,
)
_DIST_BASE = (
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
    385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
    16385, 24577,
)
_DIST_EXTRA = (
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9,
    10, 10, 11, 11, 12, 12, 13, 13,
)
_CLEN_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)


def _read_dynamic_tables(r: LsbReader) -> tuple[_Huffman, _Huffman]:
    hlit = r.read(5) + 257
    hdist = r.read(5) + 1
    hclen = r.read(4) + 4
    clen_lengths = [0] * 19
    for i in range(hclen):
        clen_lengths[_CLEN_ORDER[i]] = r.read(3)
    clen = _Huffman(clen_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = clen.read(r)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("repeat with no previous code length")
            lengths.extend([lengths[-1]] * (3 + r.read(2)))
        elif sym == 17:
            lengths.extend([0] * (3 + r.read(3)))
        else:  # 18
            lengths.extend([0] * (11 + r.read(7)))
    if len(lengths) != hlit + hdist:
        raise ValueError("code-length run overflows the alphabets")
    return _Huffman(lengths[:hlit]), _Huffman(lengths[hlit:])


def inflate(data: bytes, pos: int = 0) -> tuple[bytes, int]:
    """Raw DEFLATE (RFC 1951). Returns (decompressed, end byte pos)."""
    r = LsbReader(data, pos)
    out = bytearray()
    while True:
        bfinal = r.read(1)
        btype = r.read(2)
        if btype == 0:  # stored
            r.align()
            p = r.byte_pos()
            if p + 4 > len(data):
                raise ValueError("truncated stored block header")
            (length, nlength) = struct.unpack_from("<HH", data, p)
            if length ^ nlength != 0xFFFF:
                raise ValueError("stored block LEN/NLEN mismatch")
            if p + 4 + length > len(data):
                raise ValueError("truncated stored block")
            out += data[p + 4 : p + 4 + length]
            r = LsbReader(data, p + 4 + length)
        elif btype in (1, 2):
            if btype == 1:
                litlen, dist = _FIXED_LITLEN, _FIXED_DIST
            else:
                litlen, dist = _read_dynamic_tables(r)
            while True:
                sym = litlen.read(r)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym > 285:
                        raise ValueError(f"invalid length symbol {sym}")
                    li = sym - 257
                    length = _LEN_BASE[li] + r.read(_LEN_EXTRA[li])
                    dsym = dist.read(r)
                    if dsym > 29:
                        raise ValueError(f"invalid distance symbol {dsym}")
                    d = _DIST_BASE[dsym] + r.read(_DIST_EXTRA[dsym])
                    if d > len(out):
                        raise ValueError("back-reference before stream start")
                    # overlapping copies are the RLE idiom (d < length)
                    start = len(out) - d
                    for i in range(length):
                        out.append(out[start + i])
        else:
            raise ValueError("reserved BTYPE 3")
        if bfinal:
            break
    r.align()
    return bytes(out), r.byte_pos()


@malformed_input_guard("gzip")
def gunzip(data: bytes) -> bytes:
    """RFC 1952: multi-member gzip. Parses FEXTRA/FNAME/FCOMMENT/
    FHCRC, verifies CRC-32 and ISIZE per member."""
    out = bytearray()
    pos = 0
    if not data:
        raise ValueError("empty gzip stream")
    while pos < len(data):
        if data[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("bad gzip magic")
        if data[pos + 2] != 8:
            raise ValueError("gzip CM != deflate")
        flg = data[pos + 3]
        p = pos + 10  # skip mtime/XFL/OS
        if flg & 0x04:  # FEXTRA
            (xlen,) = struct.unpack_from("<H", data, p)
            p += 2 + xlen
        if flg & 0x08:  # FNAME
            p = data.index(b"\x00", p) + 1
        if flg & 0x10:  # FCOMMENT
            p = data.index(b"\x00", p) + 1
        if flg & 0x02:  # FHCRC
            (hcrc,) = struct.unpack_from("<H", data, p)
            if crc32(data[pos:p]) & 0xFFFF != hcrc:
                raise ValueError("gzip header CRC mismatch")
            p += 2
        member, end = inflate(data, p)
        expect_crc, isize = struct.unpack_from("<II", data, end)
        if crc32(member) != expect_crc:
            raise ValueError("gzip CRC-32 mismatch")
        if len(member) & 0xFFFFFFFF != isize:
            raise ValueError("gzip ISIZE mismatch")
        out += member
        pos = end + 8
    return bytes(out)
