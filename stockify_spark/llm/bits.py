"""Bit-level I/O and the malformed-input guard shared by the media codecs.

Two bit orders cover every codec in ``llm/``:

* MSB-first (:class:`MsbReader` / :class:`MsbWriter`): a field's high
  bit goes into the high bit of the next free byte position. JPEG
  entropy data, FLAC, the MP3 side info and H.264 RBSPs use it.
* LSB-first (:class:`LsbReader` / :class:`LsbWriter`): a field's low
  bit goes into the low bit of the next free byte position. DEFLATE
  and GIF's LZW use it.

Coding that belongs to one format stays in that codec as functions
over these classes: JPEG byte stuffing and Huffman code reads, FLAC
unary/Rice, H.264 Exp-Golomb and RBSP trailing bits.

The fuzz contract: every public decoder and probe in ``llm/`` raises
``ValueError`` on malformed input (``NotImplementedError`` on a valid
stream outside the supported subset), never a raw ``IndexError``,
``struct.error`` or the like, so a per-row task in ``mapInPandas`` can
catch one typed error instead of failing its stage. The readers raise
``ValueError`` on a read past the end, and :func:`malformed_input_guard`
turns what slicing, ``struct`` and ``zlib`` raise on a bad stream into
``ValueError("corrupt <FMT>: ...")``.
"""

from __future__ import annotations

import functools
import struct
import zlib

# what a parser over untrusted bytes raises when a length, offset or
# table index read from the stream is wrong
_MALFORMED = (
    struct.error,
    IndexError,
    KeyError,
    OverflowError,
    ZeroDivisionError,
    StopIteration,
    zlib.error,
)


def malformed_input_guard(fmt: str):
    """Decorator for a decoder or probe of format ``fmt``: the errors
    in ``_MALFORMED`` leave it as ``ValueError("corrupt <fmt>: ...")``,
    chained to the original."""

    def wrap(fn):
        @functools.wraps(fn)
        def guarded(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except _MALFORMED as exc:
                raise ValueError(f"corrupt {fmt}: {exc!r}") from exc

        return guarded

    return wrap


class _Reader:
    """Byte source of both readers. At most 7 bits of the current byte
    are ever buffered, so the byte position is exact on a boundary."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._data = data
        self._pos = pos  # next byte to load
        self._acc = 0
        self._nbits = 0

    def _next_byte(self) -> int:
        if self._pos >= len(self._data):
            raise ValueError("truncated bitstream: read past the end")
        byte = self._data[self._pos]
        self._pos += 1
        return byte

    def align(self) -> None:
        """Skip the rest of the current byte."""
        self._acc = 0
        self._nbits = 0

    def byte_pos(self) -> int:
        """Index of the next byte; the reader must be on a boundary."""
        if self._nbits:
            raise ValueError("bit reader is not on a byte boundary")
        return self._pos


class MsbReader(_Reader):
    def read(self, n: int) -> int:
        """Unsigned ``n``-bit field."""
        while self._nbits < n:
            self._acc = (self._acc << 8) | self._next_byte()
            self._nbits += 8
        self._nbits -= n
        v = self._acc >> self._nbits
        self._acc &= (1 << self._nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        """Two's-complement ``n``-bit field."""
        v = self.read(n)
        return v - (1 << n) if n and v >> (n - 1) else v


class LsbReader(_Reader):
    def read(self, n: int) -> int:
        """Unsigned ``n``-bit field."""
        while self._nbits < n:
            self._acc |= self._next_byte() << self._nbits
            self._nbits += 8
        v = self._acc & ((1 << n) - 1)
        self._acc >>= n
        self._nbits -= n
        return v


class _Writer:
    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def tell(self) -> int:
        """Number of bits written so far."""
        return 8 * len(self._out) + self._nbits

    def align(self) -> None:
        """Zero-pad to the next byte boundary."""
        if self._nbits:
            self.write(0, 8 - self._nbits)

    def flush(self) -> bytes:
        """Align and return everything written."""
        self.align()
        return bytes(self._out)


def _misfit(value: int, n: int) -> ValueError:
    return ValueError(f"value {value} does not fit in {n} bits")


class MsbWriter(_Writer):
    def write(self, value: int, n: int) -> None:
        """Unsigned ``n``-bit field; a value that does not fit raises."""
        if value < 0 or value >> n:
            raise _misfit(value, n)
        self._acc = (self._acc << n) | value
        self._nbits += n
        while self._nbits >= 8:
            self._nbits -= 8
            self._out.append(self._acc >> self._nbits)
            self._acc &= (1 << self._nbits) - 1

    def write_signed(self, value: int, n: int) -> None:
        """Two's-complement ``n``-bit field; a value out of range raises."""
        if not -(1 << n) <= 2 * value < 1 << n:
            raise _misfit(value, n)
        self.write(value & ((1 << n) - 1), n)


class LsbWriter(_Writer):
    def write(self, value: int, n: int) -> None:
        """Unsigned ``n``-bit field; a value that does not fit raises."""
        if value < 0 or value >> n:
            raise _misfit(value, n)
        self._acc |= value << self._nbits
        self._nbits += n
        while self._nbits >= 8:
            self._out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._nbits -= 8
