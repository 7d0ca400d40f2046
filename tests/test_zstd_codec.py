"""zstd through kafka_wire's codec dispatch (libzstd, bundled in
pyarrow's Arrow C++ build): real frames at every compression level,
multi-frame and skippable input, hand-assembled RFC 8878 frames, the
store-mode frames goka_spark's earlier producer wrote, corruption
fuzzing, and the Kafka RecordBatch integration (sarama
CompressionZSTD, config.Producer.Compression)."""

import random
import struct

import pytest

import pyarrow as pa

from goka_spark.kafka_wire import (CODEC_ZSTD, Record, _compress,
                                   _decompress, crc32c,
                                   decode_record_batches,
                                   encode_record_batch)
from tests.test_wire_codecs import CORPUS, fuzz, ids

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
LEVELS = list(range(1, 23))


def decompress(data: bytes) -> bytes:
    return _decompress(CODEC_ZSTD, data)


def store_frame(data: bytes) -> bytes:
    """An RFC 8878 frame of raw (stored) blocks of at most 128 KiB:
    single segment, 8-byte content size, no checksum."""
    out = bytearray(ZSTD_MAGIC + bytes([0xE0])
                    + len(data).to_bytes(8, "little"))
    chunks = [data[i:i + (1 << 17)]
              for i in range(0, len(data), 1 << 17)] or [b""]
    for i, chunk in enumerate(chunks):
        last = i == len(chunks) - 1
        out += (last | (len(chunk) << 3)).to_bytes(3, "little") + chunk
    return bytes(out)


@pytest.mark.parametrize("level", LEVELS)
def test_decodes_real_zstd_all_levels(level):
    """Every corpus shape at every compression level: levels change
    the block mix (raw/RLE literals, 1- vs 4-stream Huffman, FSE vs
    predefined vs repeat sequence modes)."""
    codec = pa.Codec("zstd", compression_level=level)
    for data in CORPUS:
        comp = codec.compress(data, asbytes=True)
        assert decompress(comp) == data


def test_multi_frame_and_skippable():
    c = pa.Codec("zstd")
    f1 = c.compress(b"first frame ", asbytes=True)
    f2 = c.compress(b"second frame", asbytes=True)
    skip = (0x184D2A50).to_bytes(4, "little") \
        + (7).to_bytes(4, "little") + b"ignored"
    assert decompress(f1 + skip + f2) == b"first frame second frame"


def test_truncated_skippable_raises():
    """A skippable frame cut short — fewer than 4 size bytes after
    the magic, or a declared payload longer than the remaining input
    — raises like every other truncation, never silently accepts."""
    magic = (0x184D2A50).to_bytes(4, "little")
    # size field itself truncated
    with pytest.raises(ValueError, match="zstd.*[Tt]runcated"):
        decompress(magic + b"\x07\x00")
    # size field complete but payload missing bytes
    with pytest.raises(ValueError, match="zstd.*[Tt]runcated"):
        decompress(magic + (7).to_bytes(4, "little") + b"shrt")
    # and the well-formed empty skippable frame still decodes to b""
    assert decompress(magic + (0).to_bytes(4, "little")) == b""


def test_content_checksum_verified():
    """pyarrow's zstd emits no checksum; set the FHD checksum bit and
    append the XXH64 low word (0xa7816d94 for this payload) — the
    decoder verifies it and rejects a corrupted one."""
    data = b"checksummed payload " * 100
    frame = bytearray(pa.Codec("zstd").compress(data, asbytes=True))
    assert not frame[4] & 0x04
    frame[4] |= 0x04
    good = bytes(frame) + struct.pack("<I", 0xA7816D94)
    assert decompress(good) == data
    bad = good[:-1] + bytes([good[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="zstd.*checksum"):
        decompress(bad)


# ------------------------------------------------ hand-built vectors

def _frame(blocks: bytes, fcs: int) -> bytes:
    """Single-segment frame header (1-byte FCS) + block payload."""
    return ZSTD_MAGIC + bytes([0x20, fcs]) + blocks


def test_raw_block_frame():
    payload = b"raw block only!"
    bh = (1 | (len(payload) << 3)).to_bytes(3, "little")
    assert decompress(_frame(bh + payload, len(payload))) == payload


def test_rle_block_frame():
    bh = (1 | (1 << 1) | (100 << 3)).to_bytes(3, "little")
    assert decompress(_frame(bh + b"z", 100)) == b"z" * 100


def test_reserved_block_rejected():
    bh = (1 | (3 << 1) | (4 << 3)).to_bytes(3, "little")
    with pytest.raises(ValueError, match="zstd.*corruption"):
        decompress(_frame(bh + b"xxxx", 4))


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="zstd.*frame descriptor"):
        decompress(b"\x00\x01\x02\x03rest")


def test_dictionary_rejected():
    """Frames declaring a dictionary ID are refused, not mis-decoded
    (we carry no dictionaries)."""
    hdr = ZSTD_MAGIC + bytes([0x21, 9, 5])
    bh = (1 | (1 << 3)).to_bytes(3, "little")
    with pytest.raises(ValueError, match="zstd.*Dictionary"):
        decompress(hdr + bh + b"x")


def test_frame_content_size_mismatch_rejected():
    payload = b"abc"
    bh = (1 | (len(payload) << 3)).to_bytes(3, "little")
    with pytest.raises(ValueError, match="zstd"):
        decompress(_frame(bh + payload, 99))


# ------------------------------------------------ store-mode frames

@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_store_mode_roundtrip_and_real_decoder(data):
    """Store-mode frames (raw blocks, what goka_spark's earlier
    producer wrote, so topics may still hold them) decode through the
    dispatch and through libzstd's one-shot API alike."""
    frame = store_frame(data)
    assert decompress(frame) == data
    got = pa.Codec("zstd").decompress(
        frame, decompressed_size=len(data), asbytes=True)
    assert got == data


def test_store_mode_multiblock():
    data = bytes(random.Random(7).randrange(256) for _ in range(300_000))
    frame = store_frame(data)  # 3 blocks at the 128 KiB ceiling
    assert decompress(frame) == data
    assert pa.Codec("zstd").decompress(
        frame, decompressed_size=len(data), asbytes=True) == data


# ------------------------------------------------------------ fuzzing

def test_corruption_fuzz_never_internal_error():
    """Randomly corrupted / truncated real frames raise ValueError (or
    decode to a DIFFERENT payload if the flip lands in literal bytes)
    — never an internal error, never a hang."""
    data = ("structured text with repeats " * 400).encode()
    # corrupt literal bytes legitimately decode to different output
    # (no checksum in pyarrow frames); anything else must have raised
    assert fuzz(CODEC_ZSTD, data, trials=300, seed=42) < 300


# --------------------------------------------- kafka wire integration

def _records():
    return [Record(0, 1_700_000_000_000 + i, f"k{i}".encode(),
                   (f"v{i}" * 50).encode(), [("h", b"x")])
            for i in range(5)]


def _with_zstd_section(frame: bytes) -> bytes:
    """An uncompressed batch of _records() with its records section
    replaced by ``frame`` and the codec bits, length and CRC fixed."""
    plain = encode_record_batch(100, _records())
    batch = bytearray(plain[:61])
    batch += frame
    batch[21:23] = struct.pack(">h",
                               (struct.unpack(">h", bytes(batch[21:23]))[0]
                                & ~0x07) | CODEC_ZSTD)
    batch[8:12] = struct.pack(">i", len(batch) - 12)  # batchLength
    batch[17:21] = struct.pack(">I", crc32c(bytes(batch[21:])))
    return bytes(batch)


def _decoded(batch: bytes):
    return [(r.offset, r.key, r.value, r.headers)
            for r in decode_record_batches(batch)]


_EXPECTED = [(100 + i, f"k{i}".encode(), (f"v{i}" * 50).encode(),
              [("h", b"x")]) for i in range(5)]


def test_record_batch_zstd_real_producer_decodes():
    """A batch whose records section was compressed by libzstd at
    another level (what a sarama/librdkafka zstd producer puts on
    the wire) decodes through decode_record_batches."""
    section = encode_record_batch(100, _records())[61:]
    comp = pa.Codec("zstd", compression_level=3).compress(
        section, asbytes=True)
    assert _decoded(_with_zstd_section(comp)) == _EXPECTED


def test_record_batch_zstd_store_roundtrip():
    """Our own produce path round-trips through the batch codec bits,
    same layout rules as gzip/snappy/lz4, and a batch holding a
    store-mode frame (the earlier producer's output) still decodes."""
    batch = encode_record_batch(100, _records(), codec=CODEC_ZSTD)
    assert struct.unpack(">h", batch[21:23])[0] & 0x07 == CODEC_ZSTD
    assert batch[61:65] == ZSTD_MAGIC
    assert _decoded(bytes(batch)) == _EXPECTED
    section = encode_record_batch(100, _records())[61:]
    assert len(_compress(CODEC_ZSTD, section)) < len(section)
    assert _decoded(_with_zstd_section(store_frame(section))) == _EXPECTED
