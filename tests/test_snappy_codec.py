"""snappy through kafka_wire's codec dispatch: snappy-java's xerial
stream framing around google snappy blocks, and hand-built blocks
from snappy's format_description.txt.  These guard the byte-level
layer under the Kafka RecordBatch tests in tests/test_kafka_wire.py."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow as pa

from goka_spark.kafka_wire import CODEC_SNAPPY, _compress, _decompress
from tests.test_wire_codecs import xerial_blocks


def compress(data: bytes) -> bytes:
    return _compress(CODEC_SNAPPY, data)


def decompress(data: bytes) -> bytes:
    return _decompress(CODEC_SNAPPY, data)


def test_xerial_header_layout():
    z = compress(b"hello")
    assert z[:8] == b"\x82SNAPPY\x00"
    assert z[8:12] == (1).to_bytes(4, "big")    # version
    assert z[12:16] == (1).to_bytes(4, "big")   # compat
    # one length-prefixed block follows
    blk_len = int.from_bytes(z[16:20], "big")
    assert 20 + blk_len == len(z)


def test_empty_and_tiny_inputs():
    assert decompress(compress(b"")) == b""
    for payload in (b"a", b"ab", b"abc", b"abcd"):
        assert decompress(compress(payload)) == payload


def test_repetitive_input_compresses_and_roundtrips():
    data = b"the quick brown fox jumps over the lazy dog " * 1000
    z = compress(data)
    assert len(z) < len(data) // 5
    assert decompress(z) == data


def test_multi_block_stream():
    # > one 32 KiB block: framing must split and reassemble
    data = bytes(range(256)) * 600  # 150 KiB
    z = compress(data)
    assert len(xerial_blocks(z)) == 5
    assert decompress(z) == data


def test_raw_unframed_block_fallback():
    """Pre-xerial producers emitted bare snappy blocks; decompress
    accepts them when the magic is absent."""
    data = b"raw snappy block " * 20
    raw = pa.Codec("snappy").compress(data, asbytes=True)
    assert raw[:8] != b"\x82SNAPPY\x00"
    assert decompress(raw) == data


def test_overlapping_copy_run_length():
    """offset < length copies repeat the trailing pattern — the RLE
    trick real encoders use for byte runs."""
    # literal "ab" then a copy of length 10 at offset 2 → "ab"*6
    blob = bytearray([12])                 # varint total = 12
    blob += bytes([(2 - 1) << 2]) + b"ab"  # literal len 2
    blob += bytes([((10 - 1) << 2) | 2]) + (2).to_bytes(2, "little")
    assert decompress(bytes(blob)) == b"ab" * 6


def test_one_byte_and_four_byte_copy_tags():
    payload = b"ABCDEFGH"
    blob = bytearray([len(payload) + 4 + 4])
    blob += bytes([(len(payload) - 1) << 2]) + payload
    # copy-1B: len 4 (stored len-4=0), offset 8 (3 high bits 0 + byte)
    blob += bytes([0 << 2 | 1, 8])
    # copy-4B: len 4, offset 12 (back to the start)
    blob += bytes([(4 - 1) << 2 | 3]) + (12).to_bytes(4, "little")
    assert decompress(bytes(blob)) == payload + b"ABCD" + b"ABCD"


def test_extended_literal_lengths():
    """Incompressible spans become literals longer than 60 bytes,
    which carry 1/2-byte explicit lengths."""
    data = os.urandom(100)       # 1-byte length form
    assert decompress(compress(data)) == data
    data = os.urandom(40_000)    # 2-byte length form, > one block
    assert decompress(compress(data)) == data


def test_corrupt_inputs_raise():
    # copy at offset 5 with nothing decoded yet
    with pytest.raises(ValueError, match="snappy"):
        decompress(bytes([4, ((4 - 1) << 2) | 2, 5, 0]))
    # declares 9 bytes, provides a 2-byte literal
    with pytest.raises(ValueError, match="snappy"):
        decompress(bytes([9, (2 - 1) << 2]) + b"ab")
    # literal length 50 with 2 bytes present
    with pytest.raises(ValueError, match="snappy"):
        decompress(bytes([50, (50 - 1) << 2]) + b"ab")


@given(st.binary(max_size=5000))
@settings(max_examples=200, deadline=None)
def test_roundtrip_property(data):
    assert decompress(compress(data)) == data


@given(st.text(alphabet="abcde \n", max_size=5000))
@settings(max_examples=100, deadline=None)
def test_roundtrip_property_compressible(text):
    data = text.encode()
    assert decompress(compress(data)) == data


@given(st.data())
@settings(max_examples=300, deadline=None)
def test_corrupted_streams_raise_valueerror(data):
    """Truncation/bit-flips must surface as ValueError — never an
    internal IndexError or OSError — so the wire layer's typed-error
    contract holds for damaged segments too."""
    base = bytearray(compress(b"hello world compressed data " * 20))
    op = data.draw(st.integers(0, 2))
    if op == 0:
        del base[data.draw(st.integers(0, len(base) - 1))]
    elif op == 1:
        base = base[:data.draw(st.integers(0, len(base) - 1))]
    else:
        base[data.draw(st.integers(0, len(base) - 1))] ^= \
            1 << data.draw(st.integers(0, 7))
    try:
        decompress(bytes(base))  # may still decode (benign flip)
    except ValueError:
        pass
