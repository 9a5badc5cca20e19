"""From-scratch DEFLATE/gzip decoder (llm/deflate.py) against
the INDEPENDENT stdlib implementation — the only codec in the family
where a cross-implementation differential runs locally: stdlib
compresses, our decoder inflates, results must match bit-exactly at
every compression level (0 = stored blocks, low = fixed Huffman,
high = dynamic Huffman)."""

from __future__ import annotations

import gzip
import io
import os
import random
import zlib

import pytest

from stockify_spark.llm.deflate import crc32, gunzip, inflate


def test_checksums_match_stdlib():
    for blob in [b"", b"a", b"stockify" * 100, os.urandom(1000)]:
        assert crc32(blob) == zlib.crc32(blob)


def test_all_levels_all_block_types_round_trip():
    rnd = random.Random(11)
    payloads = [
        b"",
        b"a",
        b"abc" * 5000,  # overlapping back-references (RLE idiom)
        bytes(rnd.randrange(256) for _ in range(50000)),  # incompressible
        b"the quick brown fox " * 3000,
        bytes(rnd.choice(b"ab") for _ in range(30000)),  # skewed alphabet
    ]
    for p in payloads:
        for level in range(10):
            assert gunzip(gzip.compress(p, level)) == p
            c = zlib.compressobj(level, zlib.DEFLATED, -15)  # raw deflate
            raw = c.compress(p) + c.flush()
            got, end = inflate(raw)
            assert got == p and end == len(raw)


def test_gzip_members_and_header_flags():
    assert gunzip(gzip.compress(b"hello ") + gzip.compress(b"world")) == b"hello world"
    buf = io.BytesIO()
    with gzip.GzipFile(filename="doc.txt", mode="wb", fileobj=buf) as f:
        f.write(b"named payload")  # sets FNAME
    assert gunzip(buf.getvalue()) == b"named payload"


def test_corruption_detected():
    base = gzip.compress(b"the quick brown fox " * 500, 9)
    rnd = random.Random(5)
    for _ in range(30):
        flipped = bytearray(base)
        flipped[rnd.randrange(10, len(flipped))] ^= 1 << rnd.randrange(8)
        try:
            out = gunzip(bytes(flipped))
            # a flip in a gzip header byte we don't interpret (mtime,
            # XFL, OS) legitimately leaves the payload intact
            assert out == b"the quick brown fox " * 500
        except (ValueError, NotImplementedError):
            pass


def test_malformed_streams_raise():
    with pytest.raises(ValueError):
        inflate(b"")  # truncated
    with pytest.raises(ValueError):
        gunzip(b"\x1f\x8b\x07" + b"\x00" * 17)  # CM is not deflate
    with pytest.raises(ValueError):
        gunzip(b"\x00\x00rest")  # bad magic


def test_registry_query_content_exact(spark):
    """The corpus round trip (stdlib gzip → our inflate) must
    reproduce every document's md5 — checked here against the plain
    text, same contract the DuckDB oracle enforces."""
    import hashlib

    from stockify_spark.registry import QUERIES
    from stockify_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_chars, r.content_md5)
        for r in QUERIES["pipeline_gzip_ingest"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs) > 0
    for r in docs:
        md5 = hashlib.md5(r.text.encode("utf-8")).hexdigest()
        assert got[r.doc_id] == (len(r.text), md5)


# ---------------------------------------------------------------------------
# hypothesis: arbitrary payloads, arbitrary levels, always bit-exact
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    payload=st.binary(max_size=5000),
    level=st.integers(min_value=0, max_value=9),
)
@settings(max_examples=60, deadline=None)
def test_inflate_matches_stdlib_on_arbitrary_input(payload, level):
    assert gunzip(gzip.compress(payload, level)) == payload
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    raw = c.compress(payload) + c.flush()
    got, end = inflate(raw)
    assert got == payload and end == len(raw)


@given(
    runs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(1, 400)), max_size=30
    ),
    level=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=40, deadline=None)
def test_inflate_handles_long_matches(runs, level):
    """Run-heavy payloads drive the encoder into long, overlapping
    back-references — the copy loop's hard case."""
    payload = b"".join(bytes([b]) * n for b, n in runs)
    assert gunzip(gzip.compress(payload, level)) == payload
