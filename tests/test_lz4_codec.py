"""lz4 through kafka_wire's codec dispatch: the frame format
(lz4_Frame_format.md) Kafka puts around lz4 blocks, written by our
frame writer over pyarrow's raw lz4 blocks and read by liblz4's frame
decoder, plus hand-built blocks from lz4_Block_format.md.  These
guard the byte-level layer under the Kafka RecordBatch tests in
tests/test_kafka_wire.py."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from goka_spark.kafka_wire import CODEC_LZ4, _compress, _decompress
from tests.test_wire_codecs import lz4_blocks, lz4_frame


def compress(data: bytes) -> bytes:
    return _compress(CODEC_LZ4, data)


def decompress(data: bytes) -> bytes:
    return _decompress(CODEC_LZ4, data)


def test_frame_layout():
    z = compress(b"hello")
    assert z[:4] == b"\x04\x22\x4d\x18"
    flg, bd = z[4], z[5]
    assert flg >> 6 == 0b01          # frame version
    assert flg & 0x20                # independent blocks
    assert not flg & 0x14            # no block / content checksum
    assert (bd >> 4) & 0x7 == 4      # 64 KiB block max
    # the header checksum byte is verified on decode; corrupt it
    bad = bytearray(z)
    bad[6] ^= 0xFF
    with pytest.raises(ValueError, match="lz4.*headerChecksum"):
        decompress(bytes(bad))


def test_roundtrip_and_compression():
    data = b"the quick brown fox jumps over the lazy dog " * 1000
    z = compress(data)
    assert len(z) < len(data) // 5
    assert decompress(z) == data


def test_incompressible_blocks_stored_raw():
    data = os.urandom(100_000)       # two blocks, both must store raw
    z = compress(data)
    assert [stored for _, stored in lz4_blocks(z)] == [True, True]
    assert decompress(z) == data
    assert len(z) < len(data) + 64   # stored, not expanded


def test_multi_block_stream():
    data = bytes(range(256)) * 600   # 150 KiB -> 3 blocks
    z = compress(data)
    assert len(lz4_blocks(z)) == 3
    assert decompress(z) == data


def test_content_checksum_detects_corruption():
    """Frames from other writers may carry a content checksum
    (FLG 0x64, HC 0xa7; trailing word XXH32(data)): it is verified."""
    data = b"abcd" * 100
    (blk, _), = lz4_blocks(compress(data))
    frame = lz4_frame(blk, header=b"\x04\x22\x4d\x18\x64\x40\xa7") \
        + (0x6BA4C97F).to_bytes(4, "little")
    assert decompress(frame) == data
    for i in (12, len(frame) - 1):   # block payload, checksum word
        bad = bytearray(frame)
        bad[i] ^= 0x01
        with pytest.raises(ValueError, match="lz4"):
            decompress(bytes(bad))


def test_hand_built_block_with_match_and_overlap():
    """Every block ends with at least 5 literals (block format's
    end-of-block rule, enforced by the reference decoder)."""
    # literal "abcdefgh", match len 8 at offset 8, final "XYZWV"
    blob = bytearray([(8 << 4) | (8 - 4)])
    blob += b"abcdefgh" + (8).to_bytes(2, "little")
    blob += bytes([5 << 4]) + b"XYZWV"
    assert decompress(lz4_frame(bytes(blob))) == b"abcdefgh" * 2 + b"XYZWV"
    # overlap RLE: literal "ab", match offset 2 length 10, final "cdefg"
    blob = bytearray([(2 << 4) | (10 - 4)])
    blob += b"ab" + (2).to_bytes(2, "little") + bytes([5 << 4]) + b"cdefg"
    assert decompress(lz4_frame(bytes(blob))) == b"ab" * 6 + b"cdefg"
    # 255-saturated length extension: 20-byte literal via 15+5
    blob = bytearray([15 << 4, 5]) + b"L" * 20
    assert decompress(lz4_frame(bytes(blob))) == b"L" * 20


def test_corrupt_blocks_raise():
    # match at offset 5 with nothing decoded yet
    with pytest.raises(ValueError, match="lz4"):
        decompress(lz4_frame(bytes([(0 << 4) | 0, 5, 0])))
    # 9 literals declared, 2 present
    with pytest.raises(ValueError, match="lz4"):
        decompress(lz4_frame(bytes([(9 << 4)]) + b"ab"))
    with pytest.raises(ValueError, match="lz4.*frameType"):
        decompress(b"\x00\x00\x00\x00rest")
    with pytest.raises(ValueError, match="lz4"):
        decompress(b"")


def test_end_of_block_rules():
    """Every compressed block the writer emits keeps the last 5 bytes
    literal and starts no match in the final 12 bytes: strict
    reference decoders reject a stream violating that.  Checked on
    inputs built to tempt a trailing match."""
    for data in (b"abcdefgh" * 3, b"Q" * 17, b"pattern!" * 2 + b"pat"):
        (blk, stored), = lz4_blocks(compress(data))
        if stored:
            continue
        # last sequence is literal-only: walk sequences to the end
        pos, last_had_match = 0, False
        while pos < len(blk):
            token = blk[pos]
            pos += 1
            lit = token >> 4
            if lit == 15:
                while True:
                    b = blk[pos]
                    pos += 1
                    lit += b
                    if b != 255:
                        break
            pos += lit
            if pos >= len(blk):
                last_had_match = False
                break
            pos += 2
            m = token & 0xF
            if m == 15:
                while True:
                    b = blk[pos]
                    pos += 1
                    m += b
                    if b != 255:
                        break
            last_had_match = True
        assert not last_had_match
        assert decompress(compress(data)) == data


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
def test_corrupted_frames_raise_valueerror(data):
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
