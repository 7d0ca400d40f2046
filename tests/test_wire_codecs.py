"""RecordBatch compression through kafka_wire's codec dispatch
(``_compress`` / ``_decompress``): zstd, lz4 and snappy run on the C++
codecs pyarrow ships, wrapped in the framing Kafka puts on the wire.

This file holds the shared corpus, frame helpers and corruption
fuzz, the interop checks against pyarrow's own frame encoders, the
bounds on untrusted input, and the gzip fuzz.  Golden byte vectors
and the per-codec cases live in test_codec_golden.py and
test_{zstd,lz4,snappy}_codec.py, which import from here.
"""

import random
import struct

import pytest

import pyarrow as pa

from goka_spark.kafka_wire import (_LZ4_HEADER, _XERIAL_HEADER,
                                   CODEC_GZIP, CODEC_LZ4, CODEC_SNAPPY,
                                   CODEC_ZSTD, _compress, _decompress)

CORPUS = [
    b"",
    b"a",
    b"hello world",
    b"hello hello hello hello world world world " * 40,
    bytes(range(256)) * 300,          # poorly compressible
    b"\x00" * 100_000,                # long runs / overlapping matches
    b"abcdefgh" * 20_000,             # period-8 matches crossing blocks
    ("the quick brown fox jumps over the lazy dog. " * 3000).encode(),
]
_rng = random.Random(7)
CORPUS.append(bytes(_rng.randrange(256) for _ in range(50_000)))
CORPUS.append(bytes(_rng.choice(b"abcd") for _ in range(200_000)))
# kafka-records-shaped payload: keys/values with shared prefixes
CORPUS.append(b"".join(b"\x00\x10key-%05d\x20value-%07d-payload"
                       % (i, i * 37) for i in range(5000)))


def ids(xs):
    return [f"len{len(x)}" for x in xs]


def lz4_frame(*blocks: bytes, header: bytes = _LZ4_HEADER) -> bytes:
    """An lz4 frame of the given compressed blocks (EndMark, no
    content checksum)."""
    out = bytearray(header)
    for blk in blocks:
        out += struct.pack("<I", len(blk)) + blk
    return bytes(out + b"\0\0\0\0")


def lz4_blocks(frame: bytes) -> list[tuple[bytes, bool]]:
    """(payload, stored-raw) per block of a checksum-free frame."""
    pos, out = len(_LZ4_HEADER), []
    while True:
        (size,) = struct.unpack_from("<I", frame, pos)
        pos += 4
        if not size:
            return out
        n = size & 0x7FFFFFFF
        out.append((frame[pos:pos + n], bool(size & 0x80000000)))
        pos += n


def xerial(*blocks: bytes) -> bytes:
    return _XERIAL_HEADER + b"".join(
        struct.pack(">I", len(b)) + b for b in blocks)


def xerial_blocks(stream: bytes) -> list[bytes]:
    pos, out = len(_XERIAL_HEADER), []
    while pos < len(stream):
        (n,) = struct.unpack_from(">I", stream, pos)
        out.append(stream[pos + 4:pos + 4 + n])
        pos += 4 + n
    return out


def fuzz(codec: int, data: bytes, trials: int, seed: int) -> int:
    """Truncate or bit-flip ``_compress(codec, data)`` ``trials``
    times.  Each damaged section decodes (to anything) or raises
    ValueError; any other exception fails the caller.  Returns how
    many decoded back to ``data``."""
    rng = random.Random(seed)
    base = _compress(codec, data)
    same = 0
    for trial in range(trials):
        mutated = bytearray(base)
        if trial % 3 == 0:
            mutated = mutated[:rng.randrange(len(base))]
        else:
            for _ in range(rng.randrange(1, 4)):
                i = rng.randrange(len(mutated))
                mutated[i] ^= 1 << rng.randrange(8)
        try:
            same += _decompress(codec, bytes(mutated)) == data
        except ValueError:
            pass
    return same


# ---------------------------------------------------------- interop

@pytest.mark.parametrize("data", CORPUS, ids=ids(CORPUS))
def test_pyarrow_decodes_our_zstd_frames(data):
    frame = _compress(CODEC_ZSTD, data)
    assert _decompress(CODEC_ZSTD, frame) == data
    assert pa.decompress(frame, decompressed_size=len(data),
                         codec="zstd", asbytes=True) == data


def test_zstd_produce_output_is_smaller_on_compressible_data():
    for data in CORPUS[3:8] + CORPUS[9:]:
        assert len(_compress(CODEC_ZSTD, data)) < len(data) // 2


def test_lz4_produce_frame_has_independent_blocks():
    """Kafka's KafkaLZ4BlockInputStream refuses frames with linked
    blocks.  pyarrow's own frame encoder links the blocks of inputs
    over 64 KiB (FLG 0x40), so the produce path writes its own
    header: FLG 0x60 (version 01, independent blocks), BD 64 KiB.
    pyarrow decoding the frame proves the header-checksum byte."""
    data = CORPUS[-1]                       # > 2 blocks of 64 KiB
    assert pa.compress(data, codec="lz4", asbytes=True)[4] & 0x20 == 0
    frame = _compress(CODEC_LZ4, data)
    assert frame[:7] == b"\x04\x22\x4d\x18\x60\x40\x82"
    assert frame[4] & 0x20
    assert len(lz4_blocks(frame)) == 3
    assert pa.decompress(frame, decompressed_size=len(data),
                         codec="lz4", asbytes=True) == data


# ----------------------------------------------- untrusted input bounds

def test_forged_snappy_preamble_rejected_before_allocation(monkeypatch):
    """A raw block whose varint preamble declares 2 GiB: the decoder
    refuses it before asking snappy for an output buffer, because no
    valid block decodes to more than 22x its length."""
    calls = []
    real = pa.decompress

    def spy(buf, decompressed_size=None, **kw):
        calls.append(decompressed_size)
        return real(buf, decompressed_size=decompressed_size, **kw)

    monkeypatch.setattr(pa, "decompress", spy)
    forged = b"\x80\x80\x80\x80\x08" + b"\x00\x61" * 8     # n = 2^31
    for section in (forged, xerial(forged)):
        with pytest.raises(ValueError, match="snappy"):
            _decompress(CODEC_SNAPPY, section)
    assert calls == []
    # a block at the densest ratio snappy reaches still decodes
    data = b"\x00" * 32768
    assert _decompress(CODEC_SNAPPY, _compress(CODEC_SNAPPY, data)) == data
    assert calls == [32768]


def test_zstd_produce_window_is_bounded():
    """A 16 MiB records section becomes a frame whose window is at
    most 2^27 bytes, the largest window libzstd decodes by default
    (ZSTD_WINDOWLOG_LIMIT_DEFAULT), so any consumer can read it."""
    data = bytes(random.Random(3).randrange(256)
                 for _ in range(1 << 16)) * 256
    frame = _compress(CODEC_ZSTD, data)
    fhd = frame[4]
    if fhd & 0x20:                          # single segment: window = size
        fcs_len = (1, 2, 4, 8)[fhd >> 6]
        window = int.from_bytes(frame[5:5 + fcs_len], "little")
    else:
        exponent, mantissa = frame[5] >> 3, frame[5] & 7
        base = 1 << (10 + exponent)
        window = base + base // 8 * mantissa
    assert window <= 1 << 27
    assert _decompress(CODEC_ZSTD, frame) == data


# ------------------------------------------------------------- fuzz

def test_gzip_corruption_fuzz_raises_only_valueerror():
    """The stdlib raises BadGzipFile (an OSError), EOFError or
    zlib.error; the wire layer turns each into ValueError.  The other
    codecs' fuzzes sit in their own files."""
    data = ("structured text with repeats " * 400).encode()
    fuzz(CODEC_GZIP, data, trials=300, seed=42)
