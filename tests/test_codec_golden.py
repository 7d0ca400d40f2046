"""Golden cross-checks of kafka_wire's snappy/lz4 framing against an
independent implementation (the codecs bundled inside pyarrow's Arrow
C++ build: google snappy, lz4, lz4frame) plus hand-assembled
spec-derived byte vectors.

The blocks inside our frames come from pyarrow too, so what these
tests pin is the framing: pyarrow's codecs decode the blocks and
frames OUR dispatch writes, and the dispatch decodes blocks and
frames that pyarrow or the public format descriptions produce.
"""

import pytest

import pyarrow as pa

from goka_spark.kafka_wire import (CODEC_LZ4, CODEC_SNAPPY, _compress,
                                   _decompress)
from tests.test_wire_codecs import (CORPUS, ids, lz4_blocks, lz4_frame,
                                    xerial, xerial_blocks)

# ---------------------------------------------------------------- snappy


@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_snappy_block_decodes_reference_output(data):
    """A raw (unframed) reference block takes the pre-xerial path."""
    ref = pa.Codec("snappy").compress(data, asbytes=True)
    assert _decompress(CODEC_SNAPPY, ref) == data


@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_reference_decodes_our_snappy_block(data):
    blocks = xerial_blocks(_compress(CODEC_SNAPPY, data))
    got = b"".join(pa.Codec("snappy").decompress(
        blk, decompressed_size=min(32768, len(data) - 32768 * i),
        asbytes=True) for i, blk in enumerate(blocks))
    assert got == data


def test_snappy_golden_bytes():
    """Hand-assembled from format_description.txt: varint length 11,
    6 literals 'hello ' then copy(off=6, len=5).  Tag byte for a
    2-byte-offset copy of length 5: ((5-1)<<2)|2 = 0x12."""
    golden = bytes([11]) + bytes([(6 - 1) << 2]) + b"hello " \
        + bytes([((5 - 1) << 2) | 2]) + (6).to_bytes(2, "little")
    assert _decompress(CODEC_SNAPPY, golden) == b"hello hello"
    # 1-byte-offset copy form: tag ((len-4)<<2)|1 with off split
    # 3 high bits into tag bits 5-7: off=6 -> high=0, low=6
    golden1 = bytes([11]) + bytes([(6 - 1) << 2]) + b"hello " \
        + bytes([((5 - 4) << 2) | 1, 6])
    assert _decompress(CODEC_SNAPPY, golden1) == b"hello hello"
    assert _decompress(CODEC_SNAPPY, xerial(golden, golden1)) \
        == b"hello hello" * 2


def test_snappy_xerial_frame_of_reference_blocks():
    """An xerial stream whose blocks were compressed by google snappy
    in odd sizes (not our 32 KiB chunking) decodes: the framing layer
    assumes nothing about the encoder's choices."""
    data = b"xerial framing with reference blocks " * 2000
    blocks = [data[i:i + 20000] for i in range(0, len(data), 20000)]
    stream = xerial(*(pa.Codec("snappy").compress(b, asbytes=True)
                      for b in blocks))
    assert _decompress(CODEC_SNAPPY, stream) == data


# ------------------------------------------------------------------ lz4

@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_lz4_block_decodes_reference_output(data):
    """Reference raw blocks in an independent-block frame."""
    if not data:
        return  # lz4 raw blocks can't represent empty input
    blocks = [pa.Codec("lz4_raw").compress(data[i:i + 65536], asbytes=True)
              for i in range(0, len(data), 65536)]
    assert _decompress(CODEC_LZ4, lz4_frame(*blocks)) == data


@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_reference_decodes_our_lz4_block(data):
    got = b""
    for blk, stored in lz4_blocks(_compress(CODEC_LZ4, data)):
        got += blk if stored else pa.Codec("lz4_raw").decompress(
            blk, decompressed_size=min(65536, len(data) - len(got)),
            asbytes=True)
    assert got == data


@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_lz4_frame_decodes_reference_output(data):
    """pyarrow's frames link their blocks above 64 KiB."""
    ref = pa.Codec("lz4").compress(data, asbytes=True)
    assert _decompress(CODEC_LZ4, ref) == data


@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_reference_decodes_our_lz4_frame(data):
    ours = _compress(CODEC_LZ4, data)
    got = pa.Codec("lz4").decompress(
        ours, decompressed_size=len(data), asbytes=True)
    assert got == data


def test_lz4_golden_block_bytes():
    """Spec-assembled block: token 0x64 = 6 literals + match len 4+4=8,
    offset 6 -> 'hello hello he' (6 lit + 8 match), then the final
    literals-only sequence '!!!!!' (token 0x50) — the block format
    ends every block with at least 5 literals."""
    golden = bytes([0x64]) + b"hello " + (6).to_bytes(2, "little") \
        + bytes([0x50]) + b"!!!!!"
    assert _decompress(CODEC_LZ4, lz4_frame(golden)) \
        == b"hello hello he!!!!!"


def test_lz4_linked_frame():
    """Block-LINKED frame (FLG B.Indep=0, the lz4frame default for
    multi-block input): block 2's match offsets reach back into block
    1's output.  Hand-assembled: block 1 = 16 literals, block 2 = one
    copy of those 16 bytes from history, then 5 final literals.
    FLG 0x44 (v01, linked, content checksum), BD 0x40, HC 0x5e; the
    trailing word is XXH32 of the content."""
    part1 = b"0123456789abcdef"
    blk1 = bytes([0xF0, 1]) + part1          # 16 literals (15+1)
    # 0 literals, matchlen 16 -> token 0x0C (16-4=12), offset 16
    blk2 = bytes([0x0C]) + (16).to_bytes(2, "little") \
        + bytes([0x50]) + b"!!!!!"
    frame = lz4_frame(blk1, blk2, header=b"\x04\x22\x4d\x18\x44\x40\x5e")
    frame += (0xE68591A6).to_bytes(4, "little")
    assert _decompress(CODEC_LZ4, frame) == part1 + part1 + b"!!!!!"


def test_lz4_linked_frame_window_slides():
    """Linked history spans blocks; a 3-block linked frame where block
    3 references bytes produced by blocks 1 and 2.  FLG 0x40 (v01,
    linked, no checksums), BD 0x40, HC 0xc0."""
    b1 = b"A" * 10
    b2 = b"B" * 10
    blk1 = bytes([0xA0]) + b1
    blk2 = bytes([0xA0]) + b2
    # block 3: one copy, offset 20 (back to start of b1), match len
    # 4+15+1=20 -> produces b1+b2 again.  Sequence layout per spec:
    # token, [lit ext], literals, offset, [match ext].
    blk3 = bytes([0x0F]) + (20).to_bytes(2, "little") + bytes([1]) \
        + bytes([0x50]) + b"!!!!!"
    frame = lz4_frame(blk1, blk2, blk3,
                      header=b"\x04\x22\x4d\x18\x40\x40\xc0")
    assert _decompress(CODEC_LZ4, frame) == b1 + b2 + b1 + b2 + b"!!!!!"


# ------------------------------------------------- truncation (snappy)

def test_snappy_truncated_fields_raise():
    data = b"hello hello hello hello world " * 50
    framed = _compress(CODEC_SNAPPY, data)
    raw = pa.Codec("snappy").compress(data, asbytes=True)
    for cut in (framed[:9], framed[:14], framed[:20], raw[:1], raw[:3]):
        with pytest.raises(ValueError, match="snappy"):
            _decompress(CODEC_SNAPPY, cut)
