"""Socket-level Kafka wire protocol — TopicManager/Producer/Consumer
over raw TCP, plus an in-process loopback broker for contract tests.

goka's transport is Kafka via sarama (topic_manager.go:39
NewTopicManager, producer.go:25 NewProducer / producer.go:64 Emit /
producer.go:78 EmitWithHeaders).  This container has neither a broker
nor a Kafka client library, so the wire path is proven as far as a
container can: both halves of the PUBLIC Kafka binary protocol
(the Apache Kafka protocol guide — kafka.apache.org/protocol) are
implemented here from scratch and exercised against each other over a
loopback socket.  On a real cluster the client classes speak to a real
broker unchanged for the implemented API subset.

Implemented APIs — each in TWO wire versions, negotiated per broker
via the ApiVersions handshake (modern-first with KIP-511 downgrade):
- ApiVersions v0 / v3 (key 18)
- Metadata v0 / v12 (key 3)
- CreateTopics v0 / v7 (key 19)
- Produce v3 / v9 (key 0) carrying RecordBatch v2 (magic=2, CRC32C,
  zigzag-varint records, per-record headers — the current on-disk /
  on-wire record format, KIP-98)
- Fetch v4 / v12 (key 1) returning RecordBatch v2
- ListOffsets v1 (key 2): OFFSET_OLDEST (retained log start) /
  OFFSET_NEWEST (high watermark) / timestamp lookup — sarama
  client.GetOffset, what goka's topic_manager.go:131 GetOffset and
  partition_table.go:243 findOffsetToLoad resume clamp call
- RecordBatch compression, all five codecs both ways via the
  attributes codec bits: gzip on the stdlib; zstd, lz4 and snappy on
  the C++ codecs pyarrow ships (libzstd, liblz4, google snappy).  Two
  pieces of Kafka's own framing stay here: snappy-java's xerial
  stream around snappy blocks, and the lz4 frame with independent
  64 KiB blocks that Kafka's Java reader requires
- Consumer-group membership at fixed sarama-era versions:
  FindCoordinator v0 / JoinGroup v0 / SyncGroup v0 / Heartbeat v0 /
  LeaveGroup v0 / OffsetCommit v2 (generation-fenced) /
  OffsetFetch v1, with goka's CopartitioningStrategy plan
  (copartition_strategy.go:51) and sarama's public member
  metadata/assignment blob layouts
The modern versions use the KIP-482 FLEXIBLE encoding: compact
(varint length+1) strings/bytes/arrays, tagged-field blocks, request
header v2 / response header v1 (ApiVersions responses stay header v0
so negotiation never depends on its own outcome).  Error paths:
typed KafkaWireError codes, OFFSET_OUT_OF_RANGE, UNKNOWN_TOPIC,
retriable NOT_LEADER/timeout with the reference's incremental
backoff (simple_backoff.go:10), max_bytes-truncated partial fetch
responses.

Partitioning follows sarama's default hash partitioner used by goka
(FNV-1a 32-bit over the key, non-negative modulo partition count) so
key → partition matches what a goka producer on the same topic does.

Scale note: this is the control/transport plane, not a data plane —
bulk data movement stays in Spark's kafka connector (sources.py
kafka_source/kafka_sink builders); these classes exist for topic
management, emitter parity, and wire-contract proof.
"""

from __future__ import annotations

import gzip as _gzip
import io
import socket
import struct
import threading
import time
import zlib
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli, reflected poly 0x82F63B78) — required by
# RecordBatch v2.  Table-driven, pure stdlib.
# ---------------------------------------------------------------------------

def _crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def fnv1a_32(data: bytes) -> int:
    """FNV-1a 32-bit — sarama's default hash partitioner (what goka's
    producer uses to map key → partition)."""
    h = 0x811C9DC5
    for b in data:
        h = ((h ^ b) * 0x01000193) & 0xFFFFFFFF
    return h


def partition_for_key(key: bytes, num_partitions: int) -> int:
    """sarama hashPartitioner.Partition: ``int32(hash) % n`` with Go's
    *truncated* modulo, negated if negative (reference view.go:307-310
    does the same for key → partition lookup).  Go's ``%`` truncates
    toward zero, so for a negative int32 hash the Go result is
    ``-(|h| % n)`` which the negation turns into ``|h| % n`` — i.e.
    abs-before-mod.  Python's floor ``%`` would disagree for roughly
    half of all keys, silently breaking cross-client co-partitioning
    against a real sarama/goka producer."""
    h = fnv1a_32(key)
    if h >= 1 << 31:
        h -= 1 << 32
    return (-h if h < 0 else h) % num_partitions


# ---------------------------------------------------------------------------
# Primitive wire encoding (big-endian; Kafka protocol guide "types")
# ---------------------------------------------------------------------------

class _Writer:
    def __init__(self) -> None:
        self._b = io.BytesIO()

    def raw(self, data: bytes) -> "_Writer":
        self._b.write(data)
        return self

    def int8(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">b", v))

    def int16(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">h", v))

    def int32(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">i", v))

    def uint32(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">I", v))

    def int64(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">q", v))

    def string(self, s: Optional[str]) -> "_Writer":
        if s is None:
            return self.int16(-1)
        data = s.encode()
        return self.int16(len(data)).raw(data)

    def bytes_(self, b: Optional[bytes]) -> "_Writer":
        if b is None:
            return self.int32(-1)
        return self.int32(len(b)).raw(b)

    def varint(self, v: int) -> "_Writer":
        """Zigzag varint (record batch v2 record fields)."""
        z = (v << 1) ^ (v >> 63)
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                self.raw(bytes([b | 0x80]))
            else:
                return self.raw(bytes([b]))

    def array(self, items, enc) -> "_Writer":
        self.int32(len(items))
        for it in items:
            enc(self, it)
        return self

    # -- flexible-version (KIP-482) encodings: unsigned varints,
    # length+1 "compact" strings/bytes/arrays, tagged-field blocks --

    def uvarint(self, v: int) -> "_Writer":
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.raw(bytes([b | 0x80]))
            else:
                return self.raw(bytes([b]))

    def compact_string(self, s: Optional[str]) -> "_Writer":
        if s is None:
            return self.uvarint(0)
        data = s.encode()
        return self.uvarint(len(data) + 1).raw(data)

    def compact_bytes(self, b: Optional[bytes]) -> "_Writer":
        if b is None:
            return self.uvarint(0)
        return self.uvarint(len(b) + 1).raw(b)

    def compact_array(self, items, enc) -> "_Writer":
        if items is None:
            return self.uvarint(0)
        self.uvarint(len(items) + 1)
        for it in items:
            enc(self, it)
        return self

    def tags(self) -> "_Writer":
        """Empty tagged-field block (we define no tagged fields)."""
        return self.uvarint(0)

    def uuid(self, b: bytes = b"\x00" * 16) -> "_Writer":
        return self.raw(b)

    def getvalue(self) -> bytes:
        return self._b.getvalue()


class _Reader:
    def __init__(self, data: bytes) -> None:
        self._b = io.BytesIO(data)

    def raw(self, n: int) -> bytes:
        out = self._b.read(n)
        if len(out) != n:
            raise EOFError("short read in kafka frame")
        return out

    def int8(self) -> int:
        return struct.unpack(">b", self.raw(1))[0]

    def int16(self) -> int:
        return struct.unpack(">h", self.raw(2))[0]

    def int32(self) -> int:
        return struct.unpack(">i", self.raw(4))[0]

    def uint32(self) -> int:
        return struct.unpack(">I", self.raw(4))[0]

    def int64(self) -> int:
        return struct.unpack(">q", self.raw(8))[0]

    def string(self) -> Optional[str]:
        n = self.int16()
        return None if n < 0 else self.raw(n).decode()

    def bytes_(self) -> Optional[bytes]:
        n = self.int32()
        return None if n < 0 else self.raw(n)

    def varint(self) -> int:
        z, shift = 0, 0
        while True:
            b = self.raw(1)[0]
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (z >> 1) ^ -(z & 1)

    def array(self, dec) -> list:
        return [dec(self) for _ in range(self.int32())]

    # -- flexible-version (KIP-482) decodings --

    def uvarint(self) -> int:
        v, shift = 0, 0
        while True:
            b = self.raw(1)[0]
            v |= (b & 0x7F) << shift
            if not b & 0x80:
                return v
            shift += 7

    def compact_string(self) -> Optional[str]:
        n = self.uvarint()
        return None if n == 0 else self.raw(n - 1).decode()

    def compact_bytes(self) -> Optional[bytes]:
        n = self.uvarint()
        return None if n == 0 else self.raw(n - 1)

    def compact_array(self, dec) -> Optional[list]:
        n = self.uvarint()
        return None if n == 0 else [dec(self) for _ in range(n - 1)]

    def tags(self) -> None:
        """Skip a tagged-field block (tag, size, opaque payload)."""
        for _ in range(self.uvarint()):
            self.uvarint()              # tag
            self.raw(self.uvarint())    # size + payload

    def uuid(self) -> bytes:
        return self.raw(16)

    def bool_(self) -> bool:
        return self.raw(1)[0] != 0

    def remaining(self) -> int:
        pos = self._b.tell()
        self._b.seek(0, io.SEEK_END)
        end = self._b.tell()
        self._b.seek(pos)
        return end - pos


# ---------------------------------------------------------------------------
# RecordBatch v2 (KIP-98 message format)
# ---------------------------------------------------------------------------

@dataclass
class Record:
    offset: int
    timestamp: int
    key: Optional[bytes]
    value: Optional[bytes]
    headers: list[tuple[str, bytes]] = field(default_factory=list)


# RecordBatch v2 compression codecs (attributes bits 0-2).  gzip
# comes from the stdlib (Kafka's gzip codec IS a standard gzip
# stream — java.util.zip.GZIPOutputStream); zstd, lz4 and snappy come
# from pyarrow's C++ codecs.  zstd is a plain RFC 8878 frame; lz4 and
# snappy keep Kafka's framing, written below (_compress/_decompress).
CODEC_NONE, CODEC_GZIP, CODEC_SNAPPY, CODEC_LZ4, CODEC_ZSTD = 0, 1, 2, 3, 4
_CODEC_NAMES = {CODEC_NONE: "none", CODEC_GZIP: "gzip",
                CODEC_SNAPPY: "snappy", CODEC_LZ4: "lz4",
                CODEC_ZSTD: "zstd"}
_CODEC_IDS = {v: k for k, v in _CODEC_NAMES.items()}


class UnsupportedCodecError(ValueError):
    """A RecordBatch carries attribute bits outside the five codecs
    the protocol defines (or a future codec id this client predates).
    Typed so callers can tell 'need a newer client' apart from wire
    corruption."""

    def __init__(self, codec: int) -> None:
        self.codec = codec
        super().__init__(
            f"record batch compressed with unsupported codec id "
            f"{_CODEC_NAMES.get(codec, codec)!r} — this client knows "
            f"none/gzip/snappy/lz4/zstd")


# lz4: the frame header Kafka's own writer emits — magic, FLG 0x60
# (version 01, independent blocks, no checksums), BD 0x40 (64 KiB
# blocks), HC = (xxh32(FLG BD) >> 8) & 0xFF.  pyarrow's frame encoder
# links the blocks of inputs over 64 KiB, which Kafka's
# KafkaLZ4BlockInputStream refuses, so frames are built here from raw
# lz4 blocks.
_LZ4_HEADER = b"\x04\x22\x4d\x18\x60\x40\x82"
_LZ4_BLOCK = 1 << 16
# snappy: snappy-java's xerial stream — magic, version 1, compat 1,
# then 32 KiB blocks each prefixed with its big-endian length.
_XERIAL_MAGIC = b"\x82SNAPPY\x00"
_XERIAL_HEADER = _XERIAL_MAGIC + struct.pack(">ii", 1, 1)
_SNAPPY_BLOCK = 32 * 1024
# snappy's densest element is a 3-byte copy of 64 bytes, so no valid
# block decodes to more than 22x its own length.
_SNAPPY_MAX_RATIO = 22


def _compress(codec: int, raw: bytes) -> bytes:
    """The records section as codec ``codec`` puts it on the wire."""
    if codec == CODEC_GZIP:
        return _gzip.compress(raw)
    if codec == CODEC_ZSTD:
        return pa.compress(raw, codec="zstd", asbytes=True)
    if codec == CODEC_LZ4:
        out = bytearray(_LZ4_HEADER)
        for i in range(0, len(raw), _LZ4_BLOCK):
            chunk = raw[i:i + _LZ4_BLOCK]
            blk = pa.compress(chunk, codec="lz4_raw", asbytes=True)
            if len(blk) < len(chunk):
                out += struct.pack("<I", len(blk)) + blk
            else:                   # would grow: store, size high bit set
                out += struct.pack("<I", len(chunk) | 1 << 31) + chunk
        return bytes(out + b"\0\0\0\0")         # EndMark
    if codec == CODEC_SNAPPY:
        out = bytearray(_XERIAL_HEADER)
        for i in range(0, len(raw), _SNAPPY_BLOCK):
            blk = pa.compress(raw[i:i + _SNAPPY_BLOCK], codec="snappy",
                              asbytes=True)
            out += struct.pack(">I", len(blk)) + blk
        return bytes(out)
    return raw


def _unsnappy_block(block: bytes) -> bytes:
    n = _Reader(block).uvarint()            # the block's length preamble
    if n > _SNAPPY_MAX_RATIO * len(block):
        raise ValueError(f"block of {len(block)} bytes declares {n}")
    return pa.decompress(block, decompressed_size=n, codec="snappy",
                         asbytes=True)


def _unsnappy(section: bytes) -> bytes:
    """An xerial stream, or one raw snappy block when the magic is
    absent (producers from before the framing)."""
    if section[:8] != _XERIAL_MAGIC:
        return _unsnappy_block(section)
    rd = _Reader(section)
    rd.raw(len(_XERIAL_HEADER))
    out = []
    while rd.remaining():
        out.append(_unsnappy_block(rd.raw(rd.uint32())))
    return b"".join(out)


def _decompress(codec: int, section: bytes) -> bytes:
    """Inverse of _compress.  Corrupt or truncated input raises
    ValueError naming the codec, never an IndexError or OSError."""
    name = _CODEC_NAMES[codec]
    try:
        if codec == CODEC_GZIP:
            return _gzip.decompress(section)
        if codec in (CODEC_ZSTD, CODEC_LZ4):
            if not section:
                raise ValueError("no frame")
            return pa.CompressedInputStream(pa.BufferReader(section),
                                            name).read()
        if codec == CODEC_SNAPPY:
            return _unsnappy(section)
    except (OSError, EOFError, ValueError, zlib.error) as e:
        raise ValueError(f"{name} records section: {e}") from None
    return section


def encode_record_batch(base_offset: int, records: list[Record],
                        codec: int = CODEC_NONE) -> bytes:
    """One RecordBatch v2: offsets/timestamps become deltas against
    the first record; CRC32C covers attributes..records.  With
    ``codec=CODEC_GZIP`` the records section is compressed per the
    batch format (the header fields through recordCount stay
    uncompressed; CRC covers the final, compressed bytes).  The other
    codecs follow the same layout (see _compress)."""
    if codec not in _CODEC_NAMES:
        raise UnsupportedCodecError(codec)
    base_ts = records[0].timestamp
    max_ts = max(r.timestamp for r in records)
    body = _Writer()
    body.int16(codec)                               # attributes
    body.int32(len(records) - 1)                    # lastOffsetDelta
    body.int64(base_ts)
    body.int64(max_ts)
    body.int64(-1)                                  # producerId
    body.int16(-1)                                  # producerEpoch
    body.int32(-1)                                  # baseSequence
    body.int32(len(records))
    recs = _Writer()
    for i, r in enumerate(records):
        rec = _Writer()
        rec.int8(0)                                 # record attributes
        rec.varint(r.timestamp - base_ts)
        rec.varint(i)                               # offsetDelta
        for blob in (r.key, r.value):
            if blob is None:
                rec.varint(-1)
            else:
                rec.varint(len(blob))
                rec.raw(blob)
        rec.varint(len(r.headers))
        for hk, hv in r.headers:
            hkb = hk.encode()
            rec.varint(len(hkb))
            rec.raw(hkb)
            if hv is None:
                rec.varint(-1)
            else:
                rec.varint(len(hv))
                rec.raw(hv)
        payload = rec.getvalue()
        recs.varint(len(payload))
        recs.raw(payload)
    body.raw(_compress(codec, recs.getvalue()))
    body_b = body.getvalue()
    out = _Writer()
    out.int64(base_offset)
    out.int32(4 + 1 + 4 + len(body_b))              # batchLength
    out.int32(-1)                                   # partitionLeaderEpoch
    out.int8(2)                                     # magic
    out.uint32(crc32c(body_b))
    out.raw(body_b)
    return out.getvalue()


def decode_record_batches(data: bytes) -> list[Record]:
    """Decode a concatenation of RecordBatch v2 frames, validating
    each batch's CRC32C (corruption raises)."""
    rd = _Reader(data)
    out: list[Record] = []
    while rd.remaining() >= 17:
        base_offset = rd.int64()
        batch_len = rd.int32()
        if rd.remaining() < batch_len:
            break  # partial trailing batch (fetch truncation) — legal
        rd.int32()                                   # leader epoch
        magic = rd.int8()
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        crc = rd.uint32()
        body = rd.raw(batch_len - 4 - 1 - 4)
        if crc32c(body) != crc:
            raise ValueError("record batch CRC32C mismatch")
        br = _Reader(body)
        attributes = br.int16()
        br.int32()                                   # lastOffsetDelta
        base_ts = br.int64()
        br.int64()                                   # maxTimestamp
        br.int64()                                   # producerId
        br.int16()                                   # producerEpoch
        br.int32()                                   # baseSequence
        n = br.int32()
        codec = attributes & 0x07
        if codec not in _CODEC_NAMES:
            raise UnsupportedCodecError(codec)
        if codec:
            br = _Reader(_decompress(codec, br.raw(br.remaining())))
        for _ in range(n):
            ln = br.varint()
            rr = _Reader(br.raw(ln))
            rr.int8()
            ts_delta = rr.varint()
            off_delta = rr.varint()
            klen = rr.varint()
            key = rr.raw(klen) if klen >= 0 else None
            vlen = rr.varint()
            value = rr.raw(vlen) if vlen >= 0 else None
            headers = []
            for _ in range(rr.varint()):
                hk = rr.raw(rr.varint()).decode()
                hvlen = rr.varint()
                headers.append((hk, rr.raw(hvlen) if hvlen >= 0 else None))
            out.append(Record(base_offset + off_delta, base_ts + ts_delta,
                              key, value, headers))
    return out


# ---------------------------------------------------------------------------
# Client connection + request framing
# ---------------------------------------------------------------------------

API_PRODUCE, API_FETCH, API_LIST_OFFSETS, API_METADATA = 0, 1, 2, 3
API_API_VERSIONS, API_CREATE_TOPICS = 18, 19
API_OFFSET_COMMIT, API_OFFSET_FETCH, API_FIND_COORDINATOR = 8, 9, 10
API_JOIN_GROUP, API_HEARTBEAT, API_LEAVE_GROUP, API_SYNC_GROUP = \
    11, 12, 13, 14

#: First FLEXIBLE version per API (KIP-482: compact encodings +
#: tagged fields + request header v2 / response header v1).
FLEXIBLE_SINCE = {
    API_PRODUCE: 9,
    API_FETCH: 12,
    API_METADATA: 9,
    API_API_VERSIONS: 3,
    API_CREATE_TOPICS: 5,
}

#: The two versions each client speaks per API: the legacy fixed
#: version (pre-KIP-482 encoding) and the modern flexible one.
#: ApiVersions negotiation picks per-API: modern if the broker's
#: advertised range covers it, else legacy.
LEGACY_VERSION = {
    API_PRODUCE: 3,
    API_FETCH: 4,
    API_METADATA: 0,
    API_API_VERSIONS: 0,
    API_CREATE_TOPICS: 0,
}
MODERN_VERSION = {
    API_PRODUCE: 9,
    API_FETCH: 12,
    API_METADATA: 12,
    API_API_VERSIONS: 3,
    API_CREATE_TOPICS: 7,
}

ERR_UNSUPPORTED_VERSION = 35

ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNKNOWN_TOPIC = 3
ERR_LEADER_NOT_AVAILABLE = 5
ERR_NOT_LEADER = 6
ERR_REQUEST_TIMED_OUT = 7
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27
ERR_TOPIC_EXISTS = 36

#: Error codes a sarama-style client retries after backoff (leadership
#: moves / timeouts resolve themselves); everything else surfaces.
RETRIABLE_ERRORS = frozenset({
    ERR_LEADER_NOT_AVAILABLE, ERR_NOT_LEADER, ERR_REQUEST_TIMED_OUT,
})

_ERR_NAMES = {
    ERR_OFFSET_OUT_OF_RANGE: "OFFSET_OUT_OF_RANGE",
    ERR_UNKNOWN_TOPIC: "UNKNOWN_TOPIC_OR_PARTITION",
    ERR_LEADER_NOT_AVAILABLE: "LEADER_NOT_AVAILABLE",
    ERR_NOT_LEADER: "NOT_LEADER_FOR_PARTITION",
    ERR_REQUEST_TIMED_OUT: "REQUEST_TIMED_OUT",
    ERR_ILLEGAL_GENERATION: "ILLEGAL_GENERATION",
    ERR_UNKNOWN_MEMBER_ID: "UNKNOWN_MEMBER_ID",
    ERR_REBALANCE_IN_PROGRESS: "REBALANCE_IN_PROGRESS",
    ERR_TOPIC_EXISTS: "TOPIC_ALREADY_EXISTS",
}


class KafkaWireError(RuntimeError):
    """A broker error response, carrying the wire error code."""

    def __init__(self, api: str, code: int) -> None:
        name = _ERR_NAMES.get(code, str(code))
        super().__init__(f"{api} error {code} ({name})")
        self.code = code

    @property
    def retriable(self) -> bool:
        return self.code in RETRIABLE_ERRORS


class SimpleBackoff:
    """Reference simple_backoff.go:10 semantics: each ``duration()``
    call returns the current wait then grows it by ``step`` until
    ``max``; ``reset()`` returns to zero.  (First call returns 0 —
    the first retry is immediate, exactly like the Go original.)"""

    def __init__(self, step: float = 0.05, max_: float = 1.0) -> None:
        self._step, self._max = step, max_
        self._current = 0.0
        self._lock = threading.Lock()

    def reset(self) -> None:
        with self._lock:
            self._current = 0.0

    def duration(self) -> float:
        with self._lock:
            value = self._current
            if self._current + self._step <= self._max:
                self._current += self._step
            return value


class KafkaConnection:
    """One broker TCP connection; frames requests with the standard
    header (api_key, api_version, correlation_id, client_id)."""

    def __init__(self, host: str, port: int,
                 client_id: str = "goka-spark") -> None:
        self._host, self._port = host, port
        self._sock = socket.create_connection((host, port), timeout=30)
        self._client_id = client_id
        self._corr = 0
        self._lock = threading.Lock()

    def reconnect(self) -> None:
        """Tear down and re-dial the same broker address — the
        recovery step after a mid-request disconnect (systemtest
        emitter/processor disconnect behavior: clients survive a
        broker restart)."""
        self.close()
        with self._lock:
            self._sock = socket.create_connection(
                (self._host, self._port), timeout=30)

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def _read_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self._sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("broker closed connection")
            buf += chunk
        return buf

    def request(self, api_key: int, api_version: int,
                payload: bytes) -> _Reader:
        """Frame and send one request; return a reader positioned at
        the response body.  Flexible versions (KIP-482) use request
        header v2 (tagged fields after client_id) and response header
        v1 — EXCEPT ApiVersions, whose response header is pinned to
        v0 regardless of version so that version negotiation itself
        never depends on the negotiation's outcome."""
        flexible = api_version >= FLEXIBLE_SINCE.get(api_key, 1 << 30)
        with self._lock:
            self._corr += 1
            corr = self._corr
            hw = (_Writer().int16(api_key).int16(api_version)
                  .int32(corr).string(self._client_id))
            if flexible:
                hw.tags()                # request header v2
            frame = hw.getvalue() + payload
            self._sock.sendall(struct.pack(">i", len(frame)) + frame)
            size = struct.unpack(">i", self._read_exact(4))[0]
            resp = self._read_exact(size)
        rd = _Reader(resp)
        got_corr = rd.int32()
        if got_corr != corr:
            raise ValueError(f"correlation id mismatch: {got_corr} != {corr}")
        if flexible and api_key != API_API_VERSIONS:
            rd.tags()                    # response header v1
        return rd


def _parse_addr(broker: str) -> tuple[str, int]:
    host, _, port = broker.rpartition(":")
    return host or "127.0.0.1", int(port)


def api_version_ranges(conn: KafkaConnection) -> dict[int, tuple[int, int]]:
    """ApiVersions handshake, modern-first: try v3 (flexible); an
    old broker answers UNSUPPORTED_VERSION with a v0-encoded body, in
    which case retry with v0 — exactly the downgrade dance real
    clients implement (KIP-511)."""
    req = (_Writer().compact_string("goka-spark")
           .compact_string("1.0").tags().getvalue())
    rd = conn.request(API_API_VERSIONS, 3, req)
    err = rd.int16()
    if err == ERR_UNSUPPORTED_VERSION:
        rd0 = conn.request(API_API_VERSIONS, 0, b"")
        err0 = rd0.int16()
        if err0:
            raise KafkaWireError("ApiVersions", err0)
        return {k: (lo, hi) for k, lo, hi in
                rd0.array(lambda r: (r.int16(), r.int16(), r.int16()))}
    if err:
        raise KafkaWireError("ApiVersions", err)
    out = {}
    n = rd.uvarint()
    for _ in range(max(n - 1, 0)):
        k, lo, hi = rd.int16(), rd.int16(), rd.int16()
        rd.tags()
        out[k] = (lo, hi)
    rd.int32()                           # throttle (after array in v3)
    rd.tags()
    return out


def negotiate_versions(conn: KafkaConnection) -> dict[int, int]:
    """Pick the wire version this client uses per API: the MODERN
    flexible version when the broker's advertised range covers it,
    else the legacy fixed version — so the same client classes speak
    old brokers (pre-KIP-482) and modern ones."""
    ranges = api_version_ranges(conn)
    out = {}
    for api, legacy in LEGACY_VERSION.items():
        modern = MODERN_VERSION[api]
        lo, hi = ranges.get(api, (legacy, legacy))
        out[api] = modern if lo <= modern <= hi else legacy
    return out


# sarama's public sentinel timestamps for ListOffsets (OffsetNewest /
# OffsetOldest) — the values goka passes to GetOffset
# (topic_manager.go:131, partition_table.go:244/248).
OFFSET_NEWEST, OFFSET_OLDEST = -1, -2
#: partition_table.go:21 offsetNotStored = -3: "no offset in local
#: storage".  Deliberately disjoint from the ListOffsets sentinels so
#: a caller that confuses the two gets an out-of-range resume, not
#: silent 'no stored offset' semantics.
OFFSET_NOT_STORED = -3


def _list_offset(conn: KafkaConnection, topic: str, partition: int,
                 at: int) -> int:
    """ListOffsets v1 (key 2): resolve OFFSET_OLDEST (log start,
    moves forward under retention/compaction) or OFFSET_NEWEST (high
    watermark) — or the first offset at/after a real timestamp."""
    w = _Writer()
    w.int32(-1)                                  # replica_id
    w.array([topic], lambda wr, t: wr.string(t)
            .array([partition], lambda w2, p: w2.int32(p).int64(at)))
    rd = conn.request(API_LIST_OFFSETS, 1, w.getvalue())
    offset = -1
    for _ in range(rd.int32()):
        rd.string()                              # topic
        for _ in range(rd.int32()):
            rd.int32()                           # partition
            err = rd.int16()
            if err:
                raise KafkaWireError("ListOffsets", err)
            rd.int64()                           # timestamp
            offset = rd.int64()
    return offset


class TableGoneError(RuntimeError):
    """Local storage holds an offset for a partition the broker says
    is empty (hwm == 0) — the backing table topic has likely been
    deleted and recreated.  The reference aborts recovery with
    'The table might be gone. Try to delete your local cache!'
    (partition_table.go:295-297); recovering from offset 0 against a
    different topic incarnation would silently corrupt state."""

    def __init__(self, topic: str, partition: int, stored: int) -> None:
        self.topic, self.partition, self.stored = topic, partition, stored
        super().__init__(
            f"broker reports no messages in {topic}/{partition} but "
            f"local cache stored offset {stored} — the table might be "
            f"gone; delete the local cache and restart")


def find_offset_to_load(client, topic: str, partition: int,
                        stored_offset: int) -> tuple[int, int]:
    """partition_table.go:243 findOffsetToLoad: given the offset of
    the last record processed locally (``OFFSET_NOT_STORED`` when
    none), return ``(start, hwm)`` — resume from ``stored+1``, but
    never below the broker's oldest retained offset (log compaction /
    retention may have removed offsets we stored: partition_table.go:265),
    and never past the high watermark (partition_table.go:299 pretends
    recovered when local state is at/after hwm).  ``client`` is
    anything with ``get_offset`` (WireTopicManager / WireConsumer)."""
    oldest = client.get_offset(topic, partition, OFFSET_OLDEST)
    hwm = client.get_offset(topic, partition, OFFSET_NEWEST)
    if stored_offset > 0 and hwm == 0:
        # partition_table.go:295: local state exists but the broker
        # says the topic is empty — the table is probably gone;
        # surfacing this beats silently pretending we're caught up.
        raise TableGoneError(topic, partition, stored_offset)
    if stored_offset == OFFSET_NOT_STORED:
        start = oldest
    else:
        start = stored_offset + 1
    if start < oldest:
        start = oldest
    if start > hwm:
        start = hwm
    return start, hwm


class WireTopicManager:
    """topic_manager.go parity over the wire protocol: Partitions via
    Metadata, ensure* via CreateTopics with the reference's
    check-then-create + partition-mismatch policy
    (topic_manager.go:171 ensureExists, :298 EnsureStreamExists,
    :317 EnsureTableExists).  mismatch: 'fail' | 'warn' | 'ignore'
    (TMConfigMismatchBehavior)."""

    def __init__(self, brokers: list[str], mismatch: str = "fail") -> None:
        host, port = _parse_addr(brokers[0])
        self._conn = KafkaConnection(host, port)
        self._mismatch = mismatch
        #: negotiated per-API wire versions (modern ⇄ legacy)
        self.versions = negotiate_versions(self._conn)

    def close(self) -> None:
        self._conn.close()

    def _request(self, api: int, ver: int, payload: bytes) -> _Reader:
        """One request with disconnect recovery: a broker restart
        mid-request re-dials, re-negotiates, and retries ONCE (the
        systemtest disconnect contract — metadata/create/offset
        calls are idempotent, so the single resend is safe)."""
        try:
            return self._conn.request(api, ver, payload)
        except (ConnectionError, OSError):
            self._conn.reconnect()
            self.versions = negotiate_versions(self._conn)
            return self._conn.request(api, ver, payload)

    def api_versions(self) -> dict[int, tuple[int, int]]:
        rd = self._request(API_API_VERSIONS, 0, b"")
        err = rd.int16()
        if err:
            raise RuntimeError(f"ApiVersions error {err}")
        out = {}
        for _ in range(rd.int32()):
            k, lo, hi = rd.int16(), rd.int16(), rd.int16()
            out[k] = (lo, hi)
        return out

    def get_offset(self, topic: str, partition: int, at: int) -> int:
        """topic_manager.go:131 GetOffset — OFFSET_OLDEST /
        OFFSET_NEWEST / timestamp via ListOffsets."""
        try:
            return _list_offset(self._conn, topic, partition, at)
        except (ConnectionError, OSError):
            self._conn.reconnect()
            self.versions = negotiate_versions(self._conn)
            return _list_offset(self._conn, topic, partition, at)

    def _metadata(self, topics: list[str]) -> dict:
        ver = self.versions[API_METADATA]
        if ver >= FLEXIBLE_SINCE[API_METADATA]:
            return self._metadata_flexible(topics, ver)
        w = _Writer().array(topics, lambda wr, t: wr.string(t))
        rd = self._request(API_METADATA, 0, w.getvalue())
        brokers = rd.array(lambda r: (r.int32(), r.string(), r.int32()))
        meta = {}
        for _ in range(rd.int32()):
            terr = rd.int16()
            name = rd.string()
            parts = []
            for _ in range(rd.int32()):
                rd.int16()                       # partition error
                pid = rd.int32()
                rd.int32()                       # leader
                rd.array(lambda r: r.int32())    # replicas
                rd.array(lambda r: r.int32())    # isr
                parts.append(pid)
            meta[name] = (terr, sorted(parts))
        return {"brokers": brokers, "topics": meta}

    def _metadata_flexible(self, topics: list[str], ver: int) -> dict:
        """Metadata v12 (flexible): compact encodings, topic ids,
        tagged fields."""
        w = _Writer().compact_array(
            topics, lambda wr, t: wr.uuid().compact_string(t).tags())
        w.int8(0)                        # allow_auto_topic_creation
        w.int8(0)                        # include_topic_authorized_ops
        w.tags()
        rd = self._request(API_METADATA, ver, w.getvalue())
        rd.int32()                       # throttle
        brokers = []
        for _ in range(max(rd.uvarint() - 1, 0)):
            node, host = rd.int32(), rd.compact_string()
            port = rd.int32()
            rd.compact_string()          # rack
            rd.tags()
            brokers.append((node, host, port))
        rd.compact_string()              # cluster_id
        rd.int32()                       # controller_id
        meta = {}
        for _ in range(max(rd.uvarint() - 1, 0)):
            terr = rd.int16()
            name = rd.compact_string()
            rd.uuid()                    # topic_id
            rd.bool_()                   # is_internal
            parts = []
            for _ in range(max(rd.uvarint() - 1, 0)):
                rd.int16()               # partition error
                pid = rd.int32()
                rd.int32()               # leader
                rd.int32()               # leader_epoch
                rd.compact_array(lambda r: r.int32())  # replicas
                rd.compact_array(lambda r: r.int32())  # isr
                rd.compact_array(lambda r: r.int32())  # offline
                rd.tags()
                parts.append(pid)
            rd.int32()                   # topic_authorized_operations
            rd.tags()
            meta[name] = (terr, sorted(parts))
        rd.tags()
        return {"brokers": brokers, "topics": meta}

    def partitions(self, topic: str) -> list[int]:
        terr, parts = self._metadata([topic])["topics"].get(topic,
                                                            (ERR_UNKNOWN_TOPIC,
                                                             []))
        if terr == ERR_UNKNOWN_TOPIC:
            return []
        if terr:
            raise RuntimeError(f"metadata error {terr} for {topic!r}")
        return parts

    def topic_exists(self, topic: str) -> bool:
        return bool(self.partitions(topic))

    def create_topic(self, topic: str, npar: int, rfactor: int = 1,
                     config: Optional[dict[str, str]] = None) -> None:
        ver = self.versions[API_CREATE_TOPICS]
        if ver >= FLEXIBLE_SINCE[API_CREATE_TOPICS]:
            def enc_topic7(w: _Writer, t: str) -> None:
                w.compact_string(t).int32(npar).int16(rfactor)
                w.compact_array([], lambda *_: None)  # assignments
                w.compact_array(
                    sorted((config or {}).items()),
                    lambda wr, kv: wr.compact_string(kv[0])
                    .compact_string(kv[1]).tags())
                w.tags()

            w = (_Writer().compact_array([topic], enc_topic7)
                 .int32(10_000).int8(0).tags())  # timeout, validate_only
            rd = self._request(API_CREATE_TOPICS, ver, w.getvalue())
            rd.int32()                   # throttle
            for _ in range(max(rd.uvarint() - 1, 0)):
                name = rd.compact_string()
                rd.uuid()                # topic_id
                err = rd.int16()
                rd.compact_string()      # error_message
                rd.int32()               # num_partitions
                rd.int16()               # replication_factor
                cfgs = rd.compact_array(
                    lambda r: (r.compact_string(), r.compact_string(),
                               r.bool_(), r.int8(), r.bool_(), r.tags()))
                del cfgs
                rd.tags()
                if err not in (ERR_NONE, ERR_TOPIC_EXISTS):
                    raise KafkaWireError(f"CreateTopics({name!r})", err)
            rd.tags()
            return

        def enc_topic(w: _Writer, t: str) -> None:
            w.string(t).int32(npar).int16(rfactor)
            w.array([], lambda *_: None)         # replica assignments
            w.array(sorted((config or {}).items()),
                    lambda wr, kv: wr.string(kv[0]).string(kv[1]))

        w = _Writer().array([topic], enc_topic).int32(10_000)
        rd = self._request(API_CREATE_TOPICS, 0, w.getvalue())
        for _ in range(rd.int32()):
            name, err = rd.string(), rd.int16()
            if err not in (ERR_NONE, ERR_TOPIC_EXISTS):
                raise RuntimeError(f"CreateTopics error {err} for {name!r}")

    def ensure_topic_exists(self, topic: str, npar: int, rfactor: int = 1,
                            config: Optional[dict[str, str]] = None) -> None:
        parts = self.partitions(topic)
        if not parts:
            self.create_topic(topic, npar, rfactor, config)
            return
        if len(parts) != npar:
            msg = (f"partition count mismatch for topic {topic!r}: "
                   f"need {npar}, existing has {len(parts)}")
            if self._mismatch == "fail":
                raise ValueError(msg)
            if self._mismatch == "warn":
                import warnings
                warnings.warn(msg, stacklevel=2)

    def ensure_stream_exists(self, topic: str, npar: int) -> None:
        self.ensure_topic_exists(topic, npar, config={
            "cleanup.policy": "delete"})

    def ensure_table_exists(self, topic: str, npar: int) -> None:
        self.ensure_topic_exists(topic, npar, config={
            "cleanup.policy": "compact"})


class WireProducer:
    """producer.go parity: Emit/EmitWithHeaders with the sarama hash
    partitioner (FNV-1a), synchronous acks (the reference's Promise
    resolves on the produce response — here the call returns the
    assigned (partition, base_offset))."""

    def __init__(self, brokers: list[str], max_retries: int = 3,
                 backoff: Optional[SimpleBackoff] = None,
                 compression: str = "none") -> None:
        #: sarama config.Producer.Compression — "none", "gzip",
        #: "snappy", "lz4" or "zstd".  An unknown codec fails HERE, at
        #: configuration time and before any connection is opened,
        #: not at the first emit(): a producer that cannot send
        #: should never look healthy.
        if compression not in _CODEC_IDS:
            raise ValueError(f"unknown compression {compression!r}")
        self._codec = _CODEC_IDS[compression]
        host, port = _parse_addr(brokers[0])
        self._conn = KafkaConnection(host, port)
        self._tm = WireTopicManager(brokers)
        self._npar: dict[str, int] = {}
        self._max_retries = max_retries
        self._backoff = backoff or SimpleBackoff()
        self.versions = negotiate_versions(self._conn)

    def close(self) -> None:
        self._conn.close()
        self._tm.close()

    def _partitions(self, topic: str) -> int:
        if topic not in self._npar:
            parts = self._tm.partitions(topic)
            if not parts:
                raise ValueError(f"unknown topic {topic!r}")
            self._npar[topic] = len(parts)
        return self._npar[topic]

    def emit(self, topic: str, key: str, value: bytes,
             headers: Optional[dict[str, bytes]] = None,
             timestamp_ms: int = 0,
             partition: Optional[int] = None) -> tuple[int, int]:
        if partition is None:
            partition = partition_for_key(key.encode(),
                                          self._partitions(topic))
        batch = encode_record_batch(0, [Record(
            0, timestamp_ms, key.encode(), value,
            sorted((headers or {}).items()))], codec=self._codec)

        def enc_topic(w: _Writer, t: str) -> None:
            w.string(t)
            w.array([partition],
                    lambda wr, p: wr.int32(p).bytes_(batch))

        def build(ver: int) -> bytes:
            if ver >= FLEXIBLE_SINCE[API_PRODUCE]:
                def enc_topic9(w: _Writer, t: str) -> None:
                    w.compact_string(t)
                    w.compact_array(
                        [partition],
                        lambda wr, p: wr.int32(p).compact_bytes(batch)
                        .tags())
                    w.tags()

                return (_Writer()
                        .compact_string(None)    # transactional_id
                        .int16(-1)               # acks=all
                        .int32(10_000)           # timeout
                        .compact_array([topic], enc_topic9)
                        .tags().getvalue())
            return (_Writer()
                    .string(None)                # transactional_id
                    .int16(-1)                   # acks=all
                    .int32(10_000)               # timeout
                    .array([topic], enc_topic)
                    .getvalue())

        ver = self.versions[API_PRODUCE]
        payload = build(ver)
        # Retriable broker errors (NOT_LEADER etc.) are retried with
        # the reference's incremental backoff (producer.go:64 returns
        # the promise error; goka's processor retries via
        # simple_backoff.go:10) — non-retriable codes surface typed.
        # A mid-request DISCONNECT (broker restart — systemtest
        # emitter_disconnect_test.go) re-dials, re-negotiates
        # versions (the restarted broker may differ) and resends:
        # at-least-once, like the reference emitter.
        self._backoff.reset()
        for attempt in range(self._max_retries + 1):
            try:
                rd = self._conn.request(API_PRODUCE, ver, payload)
            except (ConnectionError, OSError):
                if attempt == self._max_retries:
                    raise
                time.sleep(self._backoff.duration())
                self._conn.reconnect()
                self.versions = negotiate_versions(self._conn)
                ver = self.versions[API_PRODUCE]
                payload = build(ver)
                continue
            if ver >= FLEXIBLE_SINCE[API_PRODUCE]:
                base_offset, err = self._parse_produce_v9(rd)
            else:
                base_offset, err = -1, 0
                for _ in range(rd.int32()):
                    rd.string()
                    for _ in range(rd.int32()):
                        rd.int32()
                        err = rd.int16()
                        base_offset = rd.int64()
                        rd.int64()               # log_append_time
            if not err:
                return partition, base_offset
            if err not in RETRIABLE_ERRORS or attempt == self._max_retries:
                raise KafkaWireError("Produce", err)
            time.sleep(self._backoff.duration())
        raise AssertionError("unreachable")

    def emit_async(self, topic: str, key: str, value: bytes,
                   headers: Optional[dict[str, bytes]] = None,
                   timestamp_ms: int = 0,
                   partition: Optional[int] = None) -> Promise:
        """goka Emitter.Emit parity (emitter.go:93 returns a Promise;
        producer.go:64's promise resolves on the produce response):
        the produce runs on a daemon thread; ``then(cb)`` fires with
        the error (or None) and ``wait()`` is EmitSync.  Retries and
        typed errors behave exactly like the synchronous ``emit``."""
        p = Promise()

        def run() -> None:
            try:
                p.finish(self.emit(topic, key, value, headers=headers,
                                   timestamp_ms=timestamp_ms,
                                   partition=partition), None)
            except Exception as e:       # resolve, never raise on thread
                p.finish(None, e)

        threading.Thread(target=run, daemon=True).start()
        return p

    @staticmethod
    def _parse_produce_v9(rd: _Reader) -> tuple[int, int]:
        base_offset, err = -1, 0
        for _ in range(max(rd.uvarint() - 1, 0)):
            rd.compact_string()                  # topic
            for _ in range(max(rd.uvarint() - 1, 0)):
                rd.int32()                       # partition index
                err = rd.int16()
                base_offset = rd.int64()
                rd.int64()                       # log_append_time
                rd.int64()                       # log_start_offset
                rd.compact_array(
                    lambda r: (r.int32(), r.compact_string(), r.tags()))
                rd.compact_string()              # error_message
                rd.tags()
            rd.tags()
        rd.int32()                               # throttle
        rd.tags()
        return base_offset, err


class Promise:
    """promise.go:10 — Then callbacks fire exactly once on finish;
    a callback chained AFTER resolution runs immediately (same
    already-finished semantics as the Go original).  ``msg`` carries
    the (partition, base_offset) the produce response resolved to."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._callbacks: list = []
        self.msg: Optional[tuple[int, int]] = None
        self.err: Optional[Exception] = None

    def then(self, callback) -> "Promise":
        """Chain ``callback(err)`` (promise.go:48 Then)."""
        return self.then_with_message(lambda _msg, err: callback(err))

    def then_with_message(self, callback) -> "Promise":
        """Chain ``callback(msg, err)`` (promise.go:55
        ThenWithMessage)."""
        with self._lock:
            if self._done.is_set():
                callback(self.msg, self.err)
            else:
                self._callbacks.append(callback)
        return self

    def finish(self, msg, err) -> "Promise":
        with self._lock:
            if self._done.is_set():
                return self              # resolve once
            self.msg, self.err = msg, err
            callbacks, self._callbacks = self._callbacks, []
            self._done.set()
        for cb in callbacks:
            cb(msg, err)
        return self

    def wait(self, timeout: Optional[float] = None) -> "Promise":
        """Block until resolved; raise the error if one landed —
        the EmitSync shape (emitter.go:119)."""
        if not self._done.wait(timeout):
            raise TimeoutError("promise not resolved in time")
        if self.err is not None:
            raise self.err
        return self


class WireConsumer:
    """Minimal fetch path (partition consumer): returns decoded
    records from the requested offset, CRC-checked."""

    def __init__(self, brokers: list[str], max_retries: int = 3,
                 backoff: Optional[SimpleBackoff] = None) -> None:
        host, port = _parse_addr(brokers[0])
        self._conn = KafkaConnection(host, port)
        self._max_retries = max_retries
        self._backoff = backoff or SimpleBackoff()
        self.versions = negotiate_versions(self._conn)

    def close(self) -> None:
        self._conn.close()

    def get_offset(self, topic: str, partition: int, at: int) -> int:
        """sarama client.GetOffset on the consumer connection —
        resolve OFFSET_OLDEST / OFFSET_NEWEST before fetching (what
        partition_table.go:244/248 does on every load).  ListOffsets
        is read-only, so the disconnect recovery (re-dial + single
        resend) is unconditionally safe."""
        try:
            return _list_offset(self._conn, topic, partition, at)
        except (ConnectionError, OSError):
            self._conn.reconnect()
            self.versions = negotiate_versions(self._conn)
            return _list_offset(self._conn, topic, partition, at)

    def fetch(self, topic: str, partition: int, offset: int,
              max_bytes: int = 1 << 20) -> list[Record]:
        """Fetch from ``offset``.  A response truncated at the
        partition ``max_bytes`` limit is legal Kafka behavior — the
        partial trailing batch is dropped by the decoder and the
        caller re-fetches from the last offset it got.  Retriable
        errors back off and retry; OFFSET_OUT_OF_RANGE / unknown
        topic raise typed errors."""
        def build(ver: int) -> bytes:
            if ver >= FLEXIBLE_SINCE[API_FETCH]:
                w = _Writer()
                w.int32(-1)                      # replica_id
                w.int32(100)                     # max_wait_ms
                w.int32(1)                       # min_bytes
                w.int32(max_bytes)               # max_bytes
                w.int8(0)                        # isolation_level
                w.int32(0)                       # session_id
                w.int32(-1)                      # session_epoch

                def enc_topic12(wr: _Writer, t: str) -> None:
                    wr.compact_string(t)
                    wr.compact_array(
                        [partition],
                        lambda w2, p: w2.int32(p).int32(-1).int64(offset)
                        .int32(-1).int64(-1).int32(max_bytes).tags())
                    wr.tags()

                w.compact_array([topic], enc_topic12)
                w.compact_array([], lambda *_: None)  # forgotten topics
                w.compact_string("")             # rack_id
                w.tags()
            else:
                w = _Writer()
                w.int32(-1)                      # replica_id
                w.int32(100)                     # max_wait_ms
                w.int32(1)                       # min_bytes
                w.int32(max_bytes)               # max_bytes (v3+)
                w.int8(0)                        # isolation_level (v4+)

                def enc_topic(wr: _Writer, t: str) -> None:
                    wr.string(t)
                    wr.array([partition], lambda w2, p: w2.int32(p)
                             .int64(offset).int32(max_bytes))

                w.array([topic], enc_topic)
            return w.getvalue()

        ver = self.versions[API_FETCH]
        payload = build(ver)
        self._backoff.reset()
        for attempt in range(self._max_retries + 1):
            try:
                rd = self._conn.request(API_FETCH, ver, payload)
            except (ConnectionError, OSError):
                # mid-fetch broker restart (systemtest
                # proc_disconnect_test.go): re-dial, re-negotiate,
                # re-fetch from the SAME offset — the offset cursor
                # lives with the caller, so nothing is lost or doubled
                if attempt == self._max_retries:
                    raise
                time.sleep(self._backoff.duration())
                self._conn.reconnect()
                self.versions = negotiate_versions(self._conn)
                ver = self.versions[API_FETCH]
                payload = build(ver)
                continue
            records: list[Record] = []
            err = 0
            if ver >= FLEXIBLE_SINCE[API_FETCH]:
                rd.int32()                       # throttle_time
                top_err = rd.int16()
                rd.int32()                       # session_id
                if top_err:
                    err = top_err
                else:
                    for _ in range(max(rd.uvarint() - 1, 0)):
                        rd.compact_string()
                        for _ in range(max(rd.uvarint() - 1, 0)):
                            rd.int32()           # partition
                            err = rd.int16()
                            rd.int64()           # high watermark
                            rd.int64()           # last_stable_offset
                            rd.int64()           # log_start_offset
                            rd.compact_array(
                                lambda r: (r.int64(), r.int64(),
                                           r.tags()))  # aborted txns
                            rd.int32()           # preferred_read_replica
                            data = rd.compact_bytes() or b""
                            rd.tags()
                            if err:
                                continue
                            records.extend(
                                r for r in decode_record_batches(data)
                                if r.offset >= offset)
                        rd.tags()
                    rd.tags()
            else:
                rd.int32()                       # throttle_time
                for _ in range(rd.int32()):
                    rd.string()
                    for _ in range(rd.int32()):
                        rd.int32()               # partition
                        err = rd.int16()
                        rd.int64()               # high watermark
                        rd.int64()               # last_stable_offset
                        rd.array(lambda r: (r.int64(), r.int64()))
                        data = rd.bytes_() or b""
                        if err:
                            continue
                        records.extend(
                            r for r in decode_record_batches(data)
                            if r.offset >= offset)
            if not err:
                return records
            if err not in RETRIABLE_ERRORS or attempt == self._max_retries:
                raise KafkaWireError("Fetch", err)
            time.sleep(self._backoff.duration())
        raise AssertionError("unreachable")


# ---------------------------------------------------------------------------
# Consumer-group membership (the transport half of goka's processor
# rebalance).  APIs: FindCoordinator v0, JoinGroup v0, SyncGroup v0,
# Heartbeat v0, LeaveGroup v0, OffsetCommit v2, OffsetFetch v1 —
# the fixed versions sarama-era clients speak.  Member metadata /
# assignment blobs use sarama's public ConsumerGroupMemberMetadata /
# ConsumerGroupMemberAssignment layouts so the bytes interoperate.
# ---------------------------------------------------------------------------

def encode_member_metadata(topics: list[str],
                           userdata: bytes = b"") -> bytes:
    """sarama ConsumerGroupMemberMetadata v0: version, topics,
    userdata."""
    w = _Writer().int16(0)
    w.array(sorted(topics), lambda wr, t: wr.string(t))
    return w.bytes_(userdata).getvalue()


def decode_member_metadata(data: bytes) -> list[str]:
    rd = _Reader(data)
    rd.int16()                                   # version
    topics = rd.array(lambda r: r.string())
    return topics


def encode_member_assignment(assignment: dict[str, list[int]],
                             userdata: bytes = b"") -> bytes:
    """sarama ConsumerGroupMemberAssignment v0: version, topic →
    partitions, userdata."""
    w = _Writer().int16(0)
    w.array(sorted(assignment.items()),
            lambda wr, kv: wr.string(kv[0])
            .array(sorted(kv[1]), lambda w2, p: w2.int32(p)))
    return w.bytes_(userdata).getvalue()


def decode_member_assignment(data: bytes) -> dict[str, list[int]]:
    if not data:
        return {}
    rd = _Reader(data)
    rd.int16()                                   # version
    out = {}
    for _ in range(rd.int32()):
        t = rd.string()
        out[t] = rd.array(lambda r: r.int32())
    return out


def copartitioning_plan(members: dict[str, list[str]],
                        topics: dict[str, list[int]],
                        strict: bool = False) -> dict[str, dict[str, list[int]]]:
    """goka's CopartitioningStrategy.Plan (copartition_strategy.go:51):
    all topics must expose the SAME partition set; members and
    partitions sort; each member gets one contiguous partition range
    (min = ⌊idx·step + 0.5⌋) applied to EVERY topic it requested —
    the invariant that keeps a processor's joins shuffle-free.
    ``strict`` mirrors StrictCopartitioningStrategy
    (copartition_strategy.go:37): fail when members request
    different topic sets (group-name clash)."""
    import math

    all_parts: Optional[list[int]] = None
    for t, parts in topics.items():
        if all_parts is None:
            all_parts = sorted(parts)
        elif set(all_parts) != set(parts):
            # None sentinel (not truthiness): a first topic with ZERO
            # partitions must fail this check like any other mismatch,
            # not be skipped as "not yet set"
            raise ValueError(
                f"not all topics are copartitioned: {topics!r}")
    all_parts = all_parts or []
    all_topics = sorted(topics)
    if strict:
        for m, req in members.items():
            if sorted(req) != all_topics:
                raise ValueError(
                    f"members request different topic sets "
                    f"(group-name clash?): {members!r}")
    all_members = sorted(members)
    step = len(all_parts) / len(all_members)
    plan: dict[str, dict[str, list[int]]] = {}
    for idx, member in enumerate(all_members):
        lo = int(math.floor(idx * step + 0.5))
        hi = int(math.floor((idx + 1) * step + 0.5))
        plan[member] = {t: all_parts[lo:hi] for t in members[member]}
    return plan


class WireGroupMember:
    """One consumer-group member over the wire — the membership loop
    a goka processor runs (processor.go Run → sarama consumer group
    session): FindCoordinator → JoinGroup → (leader plans via the
    copartitioning strategy) → SyncGroup → Heartbeat / OffsetCommit
    → on REBALANCE_IN_PROGRESS rejoin → LeaveGroup on shutdown."""

    def __init__(self, brokers: list[str], group: str,
                 topics: list[str], strict: bool = False,
                 session_timeout_ms: int = 30_000) -> None:
        host, port = _parse_addr(brokers[0])
        self._bootstrap = KafkaConnection(host, port)
        self.group = group
        self.topics = sorted(topics)
        self.strict = strict
        self.session_timeout_ms = session_timeout_ms
        self.member_id = ""
        self.generation = -1
        self.is_leader = False
        self.assignment: dict[str, list[int]] = {}
        self._tm = WireTopicManager(brokers)
        self._conn = self._find_coordinator()

    def close(self) -> None:
        self._conn.close()
        self._bootstrap.close()
        self._tm.close()

    # -- coordinator --
    def _reconnect_coordinator(self) -> None:
        """After a coordinator disconnect (broker restart —
        systemtest proc_disconnect_test.go): re-dial the bootstrap
        link and re-locate the coordinator (it may have moved)."""
        self._conn.close()
        self._bootstrap.reconnect()
        self._conn = self._find_coordinator()

    def _find_coordinator(self) -> KafkaConnection:
        rd = self._bootstrap.request(
            API_FIND_COORDINATOR, 0,
            _Writer().string(self.group).getvalue())
        err = rd.int16()
        if err:
            raise KafkaWireError("FindCoordinator", err)
        rd.int32()                               # node_id
        host, port = rd.string(), rd.int32()
        return KafkaConnection(host, port)

    # -- membership --
    def join(self) -> dict[str, list[int]]:
        """JoinGroup (+SyncGroup as leader or follower) until an
        assignment is handed out; returns {topic: [partitions]}."""
        meta = encode_member_metadata(self.topics)
        w = (_Writer().string(self.group)
             .int32(self.session_timeout_ms)
             .string(self.member_id)
             .string("consumer")
             .array([("copartition", meta)],
                    lambda wr, p: wr.string(p[0]).bytes_(p[1])))
        try:
            rd = self._conn.request(API_JOIN_GROUP, 0, w.getvalue())
        except (ConnectionError, OSError):
            self._reconnect_coordinator()
            rd = self._conn.request(API_JOIN_GROUP, 0, w.getvalue())
        err = rd.int16()
        if err == ERR_UNKNOWN_MEMBER_ID:
            self.member_id = ""                  # evicted: rejoin fresh
            return self.join()
        if err:
            raise KafkaWireError("JoinGroup", err)
        self.generation = rd.int32()
        rd.string()                              # group protocol
        leader = rd.string()
        self.member_id = rd.string()
        members = {m: decode_member_metadata(blob) for m, blob in
                   rd.array(lambda r: (r.string(), r.bytes_()))}
        self.is_leader = leader == self.member_id
        assignments = {}
        if self.is_leader:
            topic_parts = {}
            for t in sorted({t for req in members.values() for t in req}):
                topic_parts[t] = self._tm.partitions(t)
            plan = copartitioning_plan(members, topic_parts,
                                       strict=self.strict)
            assignments = {m: encode_member_assignment(p)
                           for m, p in plan.items()}
        return self._sync(assignments)

    def _sync(self, assignments: dict[str, bytes],
              max_wait: float = 30.0) -> dict[str, list[int]]:
        """Follower sync parks until the leader's plan lands — but
        BOUNDED: if the leader dies between JoinGroup and SyncGroup
        the group stays planless for this generation, and an
        unbounded retry would hang the processor thread forever."""
        backoff = SimpleBackoff(step=0.01, max_=0.1)
        deadline = time.monotonic() + max_wait
        while True:
            if time.monotonic() > deadline:
                raise KafkaWireError("SyncGroup",
                                     ERR_REBALANCE_IN_PROGRESS)
            w = (_Writer().string(self.group).int32(self.generation)
                 .string(self.member_id)
                 .array(sorted(assignments.items()),
                        lambda wr, kv: wr.string(kv[0]).bytes_(kv[1])))
            rd = self._conn.request(API_SYNC_GROUP, 0, w.getvalue())
            err = rd.int16()
            if err == ERR_REBALANCE_IN_PROGRESS:
                # leader hasn't synced this generation yet — wait
                time.sleep(backoff.duration())
                continue
            if err:
                raise KafkaWireError("SyncGroup", err)
            self.assignment = decode_member_assignment(rd.bytes_() or b"")
            return self.assignment

    def heartbeat(self) -> bool:
        """True = all good; False = group rebalancing, call join()."""
        w = (_Writer().string(self.group).int32(self.generation)
             .string(self.member_id))
        try:
            rd = self._conn.request(API_HEARTBEAT, 0, w.getvalue())
        except (ConnectionError, OSError):
            # coordinator died mid-session: re-dial and report "not
            # healthy" so the caller runs its normal rejoin path —
            # the same recovery the reference processor performs
            # after a broker bounce
            self._reconnect_coordinator()
            return False
        err = rd.int16()
        if err in (ERR_REBALANCE_IN_PROGRESS, ERR_ILLEGAL_GENERATION):
            return False
        if err == ERR_UNKNOWN_MEMBER_ID:
            self.member_id = ""
            return False
        if err:
            raise KafkaWireError("Heartbeat", err)
        return True

    def leave(self) -> None:
        w = _Writer().string(self.group).string(self.member_id)
        rd = self._conn.request(API_LEAVE_GROUP, 0, w.getvalue())
        err = rd.int16()
        if err:
            raise KafkaWireError("LeaveGroup", err)

    # -- offsets --
    def commit_offsets(self, offsets: dict[tuple[str, int], int]) -> None:
        """OffsetCommit v2 under (group, generation, member) — the
        broker fences commits from stale generations, goka's
        exactly-once-per-rebalance guarantee."""
        by_topic: dict[str, list[tuple[int, int]]] = {}
        for (t, p), off in sorted(offsets.items()):
            by_topic.setdefault(t, []).append((p, off))
        w = (_Writer().string(self.group).int32(self.generation)
             .string(self.member_id).int64(-1))  # retention: broker default
        w.array(sorted(by_topic.items()),
                lambda wr, kv: wr.string(kv[0])
                .array(kv[1], lambda w2, po: w2.int32(po[0])
                       .int64(po[1]).string(None)))
        try:
            rd = self._conn.request(API_OFFSET_COMMIT, 2, w.getvalue())
        except (ConnectionError, OSError):
            # OffsetCommit is idempotent per (group, gen, offsets):
            # reconnect and resend once
            self._reconnect_coordinator()
            rd = self._conn.request(API_OFFSET_COMMIT, 2, w.getvalue())
        for _ in range(rd.int32()):
            rd.string()
            for _ in range(rd.int32()):
                rd.int32()
                err = rd.int16()
                if err:
                    raise KafkaWireError("OffsetCommit", err)

    def fetch_offsets(self, topic: str,
                      partitions: list[int]) -> dict[int, int]:
        """OffsetFetch v1: committed offset per partition (-1 when
        nothing committed)."""
        w = (_Writer().string(self.group)
             .array([topic], lambda wr, t: wr.string(t)
                    .array(partitions, lambda w2, p: w2.int32(p))))
        try:
            rd = self._conn.request(API_OFFSET_FETCH, 1, w.getvalue())
        except (ConnectionError, OSError):
            self._reconnect_coordinator()
            rd = self._conn.request(API_OFFSET_FETCH, 1, w.getvalue())
        out: dict[int, int] = {}
        for _ in range(rd.int32()):
            rd.string()
            for _ in range(rd.int32()):
                pid = rd.int32()
                off = rd.int64()
                rd.string()                      # metadata
                err = rd.int16()
                if err:
                    raise KafkaWireError("OffsetFetch", err)
                out[pid] = off
        return out


# ---------------------------------------------------------------------------
# In-process fake broker (server half of the same protocol)
# ---------------------------------------------------------------------------

class FakeBroker:
    """Loopback Kafka broker speaking the same API subset — enough for
    the contract tests to exercise TopicManager/Producer/Consumer over
    a real socket.  Single node, in-memory log per (topic, partition).
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 modern: bool = False) -> None:
        #: modern=True advertises + serves the FLEXIBLE versions
        #: (Produce v9 / Fetch v12 / Metadata v12 / CreateTopics v7 /
        #: ApiVersions v3, KIP-482 encodings); modern=False is a
        #: pre-KIP-482 broker that answers ApiVersions v3 with
        #: UNSUPPORTED_VERSION — the downgrade path clients negotiate.
        self.modern = modern
        self._srv = socket.create_server((host, port))
        self._host, self._port = self._srv.getsockname()[:2]
        #: topic -> {"config": {...}, "parts": [[Record, ...], ...]}
        self.topics: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._threads: list[threading.Thread] = []
        self._conns: list[socket.socket] = []
        self._stop = threading.Event()
        #: api name ("produce"|"fetch") -> queued error codes; each
        #: queued code fails exactly one subsequent request — lets
        #: tests exercise NOT_LEADER / timeout retry paths a real
        #: broker produces during leadership moves.
        self._inject: dict[str, list[int]] = {"produce": [], "fetch": []}
        #: codec for fetch-response batches (CODEC_NONE / CODEC_GZIP)
        #: — real brokers hand back whatever the log segment holds,
        #: so consumers must decode compressed batches
        self.fetch_codec = CODEC_NONE
        #: group coordinator state: group ->
        #: {generation, members {mid: metadata}, leader,
        #:  joined (mids re-joined this generation),
        #:  assignments {mid: blob} | None, assign_gen,
        #:  offsets {(topic, pid): offset}}
        self.groups: dict[str, dict] = {}
        self._member_seq = 0

    def inject_error(self, api: str, code: int, times: int = 1) -> None:
        with self._lock:
            self._inject[api].extend([code] * times)

    def _pop_injected(self, api: str) -> Optional[int]:
        q = self._inject[api]
        return q.pop(0) if q else None

    # -- lifecycle --
    @property
    def address(self) -> str:
        return f"{self._host}:{self._port}"

    def start(self) -> "FakeBroker":
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        self._stop.set()
        # shutdown() BEFORE close(): a thread blocked in accept()
        # holds the fd alive past close() on Linux, leaving the
        # socket in LISTEN forever — shutdown wakes it so the port
        # actually frees (restart-on-the-same-address depends on it)
        try:
            self._srv.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            self._srv.close()
        except OSError:
            pass
        for t in self._threads:
            if t is not threading.current_thread():
                t.join(timeout=1.0)
        # close live per-connection sockets too: a lingering
        # ESTABLISHED server-side socket keeps the port bound, which
        # would break restart-on-the-same-address (the disconnect
        # tests' broker-bounce simulation)
        with self._lock:
            conns, self._conns = self._conns, []
        for c in conns:
            try:
                c.close()
            except OSError:
                pass

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            with self._lock:
                self._conns.append(conn)
            t = threading.Thread(target=self._serve, args=(conn,),
                                 daemon=True)
            t.start()
            self._threads.append(t)

    def _serve(self, conn: socket.socket) -> None:
        try:
            while True:
                head = b""
                while len(head) < 4:
                    chunk = conn.recv(4 - len(head))
                    if not chunk:
                        return
                    head += chunk
                size = struct.unpack(">i", head)[0]
                buf = b""
                while len(buf) < size:
                    chunk = conn.recv(size - len(buf))
                    if not chunk:
                        return
                    buf += chunk
                rd = _Reader(buf)
                api_key, api_version = rd.int16(), rd.int16()
                corr = rd.int32()
                rd.string()                      # client_id
                flexible = api_version >= FLEXIBLE_SINCE.get(
                    api_key, 1 << 30)
                if flexible:
                    rd.tags()                    # request header v2
                body = self._dispatch(api_key, api_version, rd)
                head = struct.pack(">i", corr)
                if flexible and api_key != API_API_VERSIONS:
                    head += b"\x00"              # response header v1
                frame = head + body
                conn.sendall(struct.pack(">i", len(frame)) + frame)
        except (ConnectionError, OSError, EOFError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    # -- request handlers --
    def _dispatch(self, api_key: int, version: int, rd: _Reader) -> bytes:
        if api_key == API_API_VERSIONS:
            return self._api_versions(version)
        if api_key == API_METADATA:
            return self._metadata(rd, version)
        if api_key == API_CREATE_TOPICS:
            return self._create_topics(rd, version)
        if api_key == API_PRODUCE:
            return self._produce(rd, version)
        if api_key == API_FETCH:
            return self._fetch(rd, version)
        if api_key == API_LIST_OFFSETS:
            return self._list_offsets(rd)
        if api_key == API_FIND_COORDINATOR:
            return self._find_coordinator(rd)
        if api_key == API_JOIN_GROUP:
            return self._join_group(rd)
        if api_key == API_SYNC_GROUP:
            return self._sync_group(rd)
        if api_key == API_HEARTBEAT:
            return self._heartbeat(rd)
        if api_key == API_LEAVE_GROUP:
            return self._leave_group(rd)
        if api_key == API_OFFSET_COMMIT:
            return self._offset_commit(rd)
        if api_key == API_OFFSET_FETCH:
            return self._offset_fetch(rd)
        raise ValueError(f"unsupported api_key {api_key}")

    #: group-coordinator APIs + ListOffsets are served at ONE fixed
    #: sarama-era version each (no flexible variants implemented)
    _GROUP_APIS = [(API_OFFSET_COMMIT, 2, 2), (API_OFFSET_FETCH, 1, 1),
                   (API_FIND_COORDINATOR, 0, 0), (API_JOIN_GROUP, 0, 0),
                   (API_HEARTBEAT, 0, 0), (API_LEAVE_GROUP, 0, 0),
                   (API_SYNC_GROUP, 0, 0), (API_LIST_OFFSETS, 1, 1)]

    def _supported(self) -> list[tuple[int, int, int]]:
        if self.modern:
            return sorted([(k, LEGACY_VERSION[k], MODERN_VERSION[k])
                           for k in LEGACY_VERSION] + self._GROUP_APIS)
        return sorted([(API_PRODUCE, 3, 3), (API_FETCH, 4, 4),
                       (API_METADATA, 0, 0), (API_API_VERSIONS, 0, 0),
                       (API_CREATE_TOPICS, 0, 0)] + self._GROUP_APIS)

    def _api_versions(self, version: int) -> bytes:
        supported = self._supported()
        max_ver = 3 if self.modern else 0
        if version > max_ver:
            # real brokers answer an unknown ApiVersions version with
            # a v0-ENCODED body carrying UNSUPPORTED_VERSION + their
            # ranges (KIP-511) — that is what makes the downgrade
            # handshake possible at all
            return (_Writer().int16(ERR_UNSUPPORTED_VERSION)
                    .array(supported, lambda w, s: w.int16(s[0])
                           .int16(s[1]).int16(s[2]))
                    .getvalue())
        if version >= 3:
            w = _Writer().int16(0)
            w.compact_array(supported, lambda wr, s: wr.int16(s[0])
                            .int16(s[1]).int16(s[2]).tags())
            return w.int32(0).tags().getvalue()  # throttle, tags
        return (_Writer().int16(0)
                .array(supported, lambda w, s: w.int16(s[0])
                       .int16(s[1]).int16(s[2]))
                .getvalue())

    def _metadata(self, rd: _Reader, version: int = 0) -> bytes:
        if version >= FLEXIBLE_SINCE[API_METADATA]:
            return self._metadata_flexible(rd)
        asked = rd.array(lambda r: r.string())
        with self._lock:
            names = asked if asked else sorted(self.topics)
            w = _Writer()
            w.array([(0, self._host, self._port)],
                    lambda wr, b: wr.int32(b[0]).string(b[1]).int32(b[2]))
            w.int32(len(names))
            for name in names:
                t = self.topics.get(name)
                if t is None:
                    w.int16(ERR_UNKNOWN_TOPIC).string(name).int32(0)
                    continue
                w.int16(0).string(name)
                w.int32(len(t["parts"]))
                for pid in range(len(t["parts"])):
                    w.int16(0).int32(pid).int32(0)
                    w.array([0], lambda wr, r: wr.int32(r))
                    w.array([0], lambda wr, r: wr.int32(r))
        return w.getvalue()

    def _metadata_flexible(self, rd: _Reader) -> bytes:
        asked_raw = rd.compact_array(
            lambda r: (r.uuid(), r.compact_string(), r.tags()))
        rd.int8()                                # allow_auto_create
        rd.int8()                                # include_authorized_ops
        rd.tags()
        asked = [t[1] for t in (asked_raw or [])]
        with self._lock:
            names = asked if asked else sorted(self.topics)
            w = _Writer()
            w.int32(0)                           # throttle
            w.compact_array(
                [(0, self._host, self._port)],
                lambda wr, b: wr.int32(b[0]).compact_string(b[1])
                .int32(b[2]).compact_string(None).tags())
            w.compact_string("fake-cluster")
            w.int32(0)                           # controller_id
            w.uvarint(len(names) + 1)
            for name in names:
                t = self.topics.get(name)
                if t is None:
                    (w.int16(ERR_UNKNOWN_TOPIC).compact_string(name)
                     .uuid().int8(0).uvarint(1).int32(-2147483648).tags())
                    continue
                w.int16(0).compact_string(name).uuid().int8(0)
                w.uvarint(len(t["parts"]) + 1)
                for pid in range(len(t["parts"])):
                    w.int16(0).int32(pid).int32(0).int32(0)
                    w.compact_array([0], lambda wr, r: wr.int32(r))
                    w.compact_array([0], lambda wr, r: wr.int32(r))
                    w.compact_array([], lambda wr, r: wr.int32(r))
                    w.tags()
                w.int32(-2147483648)             # authorized_operations
                w.tags()
        return w.tags().getvalue()

    def _create_one(self, name: str, npar: int, config: dict) -> int:
        if name in self.topics:
            return ERR_TOPIC_EXISTS
        self.topics[name] = {
            "config": config,
            "parts": [[] for _ in range(npar)],
            # log-start offset per partition: retention/compaction
            # moves it forward (truncate_before); offsets below it
            # answer OFFSET_OUT_OF_RANGE like a real broker
            "starts": [0] * npar,
        }
        return 0

    def truncate_before(self, name: str, pid: int, offset: int) -> None:
        """Simulate retention / log compaction dropping everything
        below ``offset``: the log-start moves forward, committed
        offsets below it become unfetchable (the scenario
        partition_table.go:265 clamps against)."""
        with self._lock:
            t = self.topics[name]
            start = t["starts"][pid]
            # clamp to the high watermark: a real broker's retention
            # can empty the log but never invent future offsets
            offset = min(offset, start + len(t["parts"][pid]))
            if offset <= start:
                return
            t["parts"][pid] = [r for r in t["parts"][pid]
                               if r.offset >= offset]
            t["starts"][pid] = offset

    def _create_topics(self, rd: _Reader, version: int = 0) -> bytes:
        if version >= FLEXIBLE_SINCE[API_CREATE_TOPICS]:
            return self._create_topics_flexible(rd)
        results = []
        with self._lock:
            for _ in range(rd.int32()):
                name = rd.string()
                npar = rd.int32()
                rd.int16()                       # replication factor
                for _ in range(rd.int32()):      # replica assignments
                    rd.int32()
                    rd.array(lambda r: r.int32())
                config = {}
                for _ in range(rd.int32()):
                    ck = rd.string()
                    config[ck] = rd.string()
                results.append((name, self._create_one(name, npar, config)))
        rd.int32()                               # timeout
        return (_Writer()
                .array(results, lambda w, r: w.string(r[0]).int16(r[1]))
                .getvalue())

    def _create_topics_flexible(self, rd: _Reader) -> bytes:
        results = []                             # (name, err, npar, rf)
        with self._lock:
            for _ in range(max(rd.uvarint() - 1, 0)):
                name = rd.compact_string()
                npar = rd.int32()
                rf = rd.int16()
                rd.compact_array(
                    lambda r: (r.int32(),
                               r.compact_array(lambda r2: r2.int32()),
                               r.tags()))
                config = {}
                for _ in range(max(rd.uvarint() - 1, 0)):
                    ck = rd.compact_string()
                    config[ck] = rd.compact_string()
                    rd.tags()
                rd.tags()
                results.append((name, self._create_one(name, npar, config),
                                npar, rf))
        rd.int32()                               # timeout
        rd.int8()                                # validate_only
        rd.tags()
        w = _Writer().int32(0)                   # throttle
        w.uvarint(len(results) + 1)
        for name, err, npar, rf in results:
            (w.compact_string(name).uuid().int16(err)
             .compact_string(None).int32(npar).int16(rf)
             .compact_array(None, lambda *_: None)   # configs (null)
             .tags())
        return w.tags().getvalue()

    def _append(self, name: str, pid: int, data: bytes,
                injected: Optional[int]) -> tuple[int, int, int]:
        """Shared produce append → (pid, err, base_offset)."""
        topic = self.topics.get(name)
        if injected is not None:
            return (pid, injected, -1)
        if topic is None or pid >= len(topic["parts"]):
            return (pid, ERR_UNKNOWN_TOPIC, -1)
        log = topic["parts"][pid]
        start = topic["starts"][pid]
        base = start + len(log)
        for rec in decode_record_batches(data):
            log.append(Record(start + len(log), rec.timestamp,
                              rec.key, rec.value, rec.headers))
        return (pid, 0, base)

    def _produce(self, rd: _Reader, version: int = 3) -> bytes:
        if version >= FLEXIBLE_SINCE[API_PRODUCE]:
            return self._produce_flexible(rd)
        rd.string()                              # transactional_id
        rd.int16()                               # acks
        rd.int32()                               # timeout
        out = []
        with self._lock:
            injected = self._pop_injected("produce")
            for _ in range(rd.int32()):
                name = rd.string()
                parts_out = []
                for _ in range(rd.int32()):
                    pid = rd.int32()
                    data = rd.bytes_() or b""
                    parts_out.append(self._append(name, pid, data,
                                                  injected))
                out.append((name, parts_out))
        w = _Writer()
        w.int32(len(out))
        for name, parts_out in out:
            w.string(name)
            w.array(parts_out, lambda wr, p: wr.int32(p[0]).int16(p[1])
                    .int64(p[2]).int64(-1))
        w.int32(0)                               # throttle
        return w.getvalue()

    def _produce_flexible(self, rd: _Reader) -> bytes:
        rd.compact_string()                      # transactional_id
        rd.int16()                               # acks
        rd.int32()                               # timeout
        out = []
        with self._lock:
            injected = self._pop_injected("produce")
            for _ in range(max(rd.uvarint() - 1, 0)):
                name = rd.compact_string()
                parts_out = []
                for _ in range(max(rd.uvarint() - 1, 0)):
                    pid = rd.int32()
                    data = rd.compact_bytes() or b""
                    rd.tags()
                    parts_out.append(self._append(name, pid, data,
                                                  injected))
                rd.tags()
                out.append((name, parts_out))
        rd.tags()
        w = _Writer()
        w.uvarint(len(out) + 1)
        for name, parts_out in out:
            w.compact_string(name)
            w.compact_array(
                parts_out,
                lambda wr, p: wr.int32(p[0]).int16(p[1]).int64(p[2])
                .int64(-1).int64(0)
                .compact_array([], lambda *_: None)  # record_errors
                .compact_string(None).tags())        # error_message
            w.tags()
        w.int32(0)                               # throttle
        return w.tags().getvalue()

    # -- group coordinator (FindCoordinator/Join/Sync/Heartbeat/
    # Leave/OffsetCommit/OffsetFetch, fixed sarama-era versions) --

    def _group(self, name: str) -> dict:
        return self.groups.setdefault(name, {
            "generation": 0, "members": {}, "leader": "",
            "joined": set(), "assignments": None, "assign_gen": -1,
            "offsets": {}, "deadlines": {},
        })

    def _touch(self, g: dict, member_id: str,
               timeout_ms: Optional[int] = None) -> None:
        if timeout_ms is not None:
            g.setdefault("timeouts", {})[member_id] = timeout_ms
        t = g.get("timeouts", {}).get(member_id, 30_000)
        g["deadlines"][member_id] = time.monotonic() + t / 1000.0

    def _evict_expired(self, g: dict, caller: str = "") -> None:
        """Session-timeout eviction, done lazily on each group
        request (a real coordinator's DelayedHeartbeat sweep): a
        member whose heartbeat stopped past its session timeout is
        removed and the group rebalances — this is how a crashed
        LEADER eventually unblocks parked followers."""
        now = time.monotonic()
        dead = [m for m, dl in g["deadlines"].items()
                if m != caller and dl < now and m in g["members"]]
        for m in dead:
            del g["members"][m]
            g["deadlines"].pop(m, None)
        if dead:
            g["generation"] += 1
            g["joined"] = set()
            g["assignments"] = None
            if g["members"] and g["leader"] not in g["members"]:
                g["leader"] = sorted(g["members"])[0]

    def _find_coordinator(self, rd: _Reader) -> bytes:
        rd.string()                              # group key
        return (_Writer().int16(0).int32(0)
                .string(self._host).int32(self._port).getvalue())

    def _join_group(self, rd: _Reader) -> bytes:
        group = rd.string()
        session_timeout = rd.int32()
        member_id = rd.string()
        rd.string()                              # protocol type
        protocols = rd.array(lambda r: (r.string(), r.bytes_()))
        proto_name, meta = protocols[0]
        with self._lock:
            g = self._group(group)
            if not member_id:
                self._member_seq += 1
                member_id = f"member-{self._member_seq}"
            self._evict_expired(g, caller=member_id)
            self._touch(g, member_id, session_timeout)
            changed = (member_id not in g["members"]
                       or g["members"][member_id] != meta)
            g["members"][member_id] = meta
            if changed:
                # membership/subscription change: new generation,
                # everyone must rejoin (their heartbeats will say
                # REBALANCE_IN_PROGRESS)
                g["generation"] += 1
                g["joined"] = {member_id}
                g["assignments"] = None
            else:
                g["joined"].add(member_id)
            if g["leader"] not in g["members"]:
                g["leader"] = sorted(g["members"])[0]
            w = (_Writer().int16(0).int32(g["generation"])
                 .string(proto_name).string(g["leader"])
                 .string(member_id))
            # only the leader receives the member list (Kafka
            # semantics — it is the one computing the plan)
            members = (sorted(g["members"].items())
                       if member_id == g["leader"] else [])
            w.array(members,
                    lambda wr, kv: wr.string(kv[0]).bytes_(kv[1]))
        return w.getvalue()

    def _sync_group(self, rd: _Reader) -> bytes:
        group = rd.string()
        generation = rd.int32()
        member_id = rd.string()
        assignments = rd.array(lambda r: (r.string(), r.bytes_()))
        with self._lock:
            g = self._group(group)
            if member_id not in g["members"]:
                return _Writer().int16(ERR_UNKNOWN_MEMBER_ID) \
                    .bytes_(b"").getvalue()
            self._touch(g, member_id)    # sync retries keep it alive
            if generation != g["generation"]:
                return _Writer().int16(ERR_ILLEGAL_GENERATION) \
                    .bytes_(b"").getvalue()
            if assignments:                      # the leader's plan
                g["assignments"] = dict(assignments)
                g["assign_gen"] = generation
            if (g["assignments"] is None
                    or g["assign_gen"] != g["generation"]):
                # follower synced before the leader: retry later
                return _Writer().int16(ERR_REBALANCE_IN_PROGRESS) \
                    .bytes_(b"").getvalue()
            blob = g["assignments"].get(member_id, b"")
        return _Writer().int16(0).bytes_(blob).getvalue()

    def _heartbeat(self, rd: _Reader) -> bytes:
        group = rd.string()
        generation = rd.int32()
        member_id = rd.string()
        with self._lock:
            g = self._group(group)
            self._evict_expired(g, caller=member_id)
            if member_id not in g["members"]:
                err = ERR_UNKNOWN_MEMBER_ID
            elif (generation != g["generation"]
                  or member_id not in g["joined"]):
                err = ERR_REBALANCE_IN_PROGRESS
            else:
                self._touch(g, member_id)
                err = 0
        return _Writer().int16(err).getvalue()

    def _leave_group(self, rd: _Reader) -> bytes:
        group = rd.string()
        member_id = rd.string()
        with self._lock:
            g = self._group(group)
            if member_id not in g["members"]:
                return _Writer().int16(ERR_UNKNOWN_MEMBER_ID).getvalue()
            del g["members"][member_id]
            g["generation"] += 1
            g["joined"] = set()
            g["assignments"] = None
            if g["members"] and g["leader"] == member_id:
                g["leader"] = sorted(g["members"])[0]
        return _Writer().int16(0).getvalue()

    def _offset_commit(self, rd: _Reader) -> bytes:
        group = rd.string()
        generation = rd.int32()
        member_id = rd.string()
        rd.int64()                               # retention
        out = []
        with self._lock:
            g = self._group(group)
            # generation fencing (a stale member's commit after a
            # rebalance must not clobber the new owner's progress);
            # memberless simple consumers (generation -1) bypass it
            fenced = 0
            if generation >= 0 and member_id:
                if member_id not in g["members"]:
                    fenced = ERR_UNKNOWN_MEMBER_ID
                elif generation != g["generation"]:
                    fenced = ERR_ILLEGAL_GENERATION
            for _ in range(rd.int32()):
                name = rd.string()
                parts = []
                for _ in range(rd.int32()):
                    pid = rd.int32()
                    off = rd.int64()
                    rd.string()                  # metadata
                    if not fenced:
                        g["offsets"][(name, pid)] = off
                    parts.append((pid, fenced))
                out.append((name, parts))
        w = _Writer().int32(len(out))
        for name, parts in out:
            w.string(name)
            w.array(parts, lambda wr, p: wr.int32(p[0]).int16(p[1]))
        return w.getvalue()

    def _offset_fetch(self, rd: _Reader) -> bytes:
        group = rd.string()
        asked = rd.array(lambda r: (r.string(),
                                    r.array(lambda r2: r2.int32())))
        with self._lock:
            g = self._group(group)
            w = _Writer().int32(len(asked))
            for name, parts in asked:
                w.string(name)
                w.int32(len(parts))
                for pid in parts:
                    off = g["offsets"].get((name, pid), -1)
                    w.int32(pid).int64(off).string(None).int16(0)
        return w.getvalue()

    def _read_log(self, name: str, pid: int, offset: int, part_max: int,
                  injected: Optional[int]) -> tuple[int, int, int, bytes]:
        """Shared fetch read → (pid, err, high_watermark, data)."""
        topic = self.topics.get(name)
        if injected is not None:
            return (pid, injected, 0, b"")
        if topic is None or pid >= len(topic["parts"]):
            return (pid, ERR_UNKNOWN_TOPIC, 0, b"")
        log = topic["parts"][pid]
        start = topic["starts"][pid]
        hw = start + len(log)
        if offset > hw or offset < start:
            # past the high watermark, or below the retained log
            # start (retention/compaction) — real brokers answer
            # OFFSET_OUT_OF_RANGE, not an empty batch
            return (pid, ERR_OFFSET_OUT_OF_RANGE, hw, b"")
        tail = log[offset - start:]
        # one batch per record so a max_bytes cut yields a decodable
        # prefix + partial trailing batch, like a real broker's
        # size-limited response.  KIP-74: the FIRST batch is always
        # returned whole even when it alone exceeds max_bytes —
        # otherwise a consumer whose limit is smaller than one record
        # gets an empty, errorless response at the same offset
        # forever (livelock, indistinguishable from "caught up").
        chunks = []
        size = 0
        for i, r in enumerate(tail):
            b = encode_record_batch(offset + i, [
                Record(0, r.timestamp, r.key, r.value, r.headers)],
                codec=self.fetch_codec)
            if chunks and size + len(b) > part_max:
                # past the limit: emit a partial trailing batch so
                # clients exercise their truncation tolerance
                chunks.append(b[:max(part_max - size, 1)])
                break
            chunks.append(b)
            size += len(b)
        return (pid, 0, hw, b"".join(chunks))

    def _list_offsets(self, rd: _Reader) -> bytes:
        """ListOffsets v1: OFFSET_OLDEST → log start (moves under
        truncate_before), OFFSET_NEWEST → high watermark, a real
        timestamp → first offset whose record timestamp is >= it."""
        rd.int32()                               # replica_id
        out = []
        with self._lock:
            for _ in range(rd.int32()):
                name = rd.string()
                parts_out = []
                for _ in range(rd.int32()):
                    pid = rd.int32()
                    at = rd.int64()
                    t = self.topics.get(name)
                    if t is None or pid >= len(t["parts"]):
                        parts_out.append((pid, ERR_UNKNOWN_TOPIC, -1))
                        continue
                    start = t["starts"][pid]
                    hw = start + len(t["parts"][pid])
                    if at == OFFSET_OLDEST:
                        off = start
                    elif at == OFFSET_NEWEST:
                        off = hw
                    else:
                        off = next((r.offset for r in t["parts"][pid]
                                    if r.timestamp >= at), -1)
                    parts_out.append((pid, 0, off))
                out.append((name, parts_out))
        w = _Writer()
        w.int32(len(out))
        for name, parts_out in out:
            w.string(name)
            w.array(parts_out, lambda wr, p: wr.int32(p[0]).int16(p[1])
                    .int64(-1).int64(p[2]))
        return w.getvalue()

    def _fetch(self, rd: _Reader, version: int = 4) -> bytes:
        if version >= FLEXIBLE_SINCE[API_FETCH]:
            return self._fetch_flexible(rd)
        rd.int32()                               # replica_id
        rd.int32()                               # max_wait
        rd.int32()                               # min_bytes
        rd.int32()                               # max_bytes
        rd.int8()                                # isolation
        out = []
        with self._lock:
            injected = self._pop_injected("fetch")
            for _ in range(rd.int32()):
                name = rd.string()
                parts_out = []
                for _ in range(rd.int32()):
                    pid = rd.int32()
                    offset = rd.int64()
                    part_max = rd.int32()        # partition max_bytes
                    parts_out.append(self._read_log(
                        name, pid, offset, part_max, injected))
                out.append((name, parts_out))
        w = _Writer()
        w.int32(0)                               # throttle
        w.int32(len(out))
        for name, parts_out in out:
            w.string(name)
            w.int32(len(parts_out))
            for pid, err, hw, data in parts_out:
                w.int32(pid).int16(err).int64(hw)
                w.int64(hw)                      # last_stable_offset
                w.array([], lambda *_: None)     # aborted txns
                w.bytes_(data)
        return w.getvalue()

    def _fetch_flexible(self, rd: _Reader) -> bytes:
        rd.int32()                               # replica_id
        rd.int32()                               # max_wait
        rd.int32()                               # min_bytes
        rd.int32()                               # max_bytes
        rd.int8()                                # isolation
        rd.int32()                               # session_id
        rd.int32()                               # session_epoch
        out = []
        with self._lock:
            injected = self._pop_injected("fetch")
            for _ in range(max(rd.uvarint() - 1, 0)):
                name = rd.compact_string()
                parts_out = []
                for _ in range(max(rd.uvarint() - 1, 0)):
                    pid = rd.int32()
                    rd.int32()                   # current_leader_epoch
                    offset = rd.int64()
                    rd.int32()                   # last_fetched_epoch
                    rd.int64()                   # log_start_offset
                    part_max = rd.int32()
                    rd.tags()
                    parts_out.append(self._read_log(
                        name, pid, offset, part_max, injected))
                rd.tags()
                out.append((name, parts_out))
        rd.compact_array(lambda r: (r.compact_string(),
                                    r.compact_array(lambda r2: r2.int32()),
                                    r.tags()))   # forgotten topics
        rd.compact_string()                      # rack_id
        rd.tags()
        w = _Writer()
        w.int32(0)                               # throttle
        w.int16(0)                               # top-level error
        w.int32(0)                               # session_id
        w.uvarint(len(out) + 1)
        for name, parts_out in out:
            w.compact_string(name)
            w.uvarint(len(parts_out) + 1)
            for pid, err, hw, data in parts_out:
                w.int32(pid).int16(err).int64(hw)
                w.int64(hw)                      # last_stable_offset
                w.int64(0)                       # log_start_offset
                w.compact_array([], lambda *_: None)  # aborted txns
                w.int32(-1)                      # preferred_read_replica
                w.compact_bytes(data)
                w.tags()
            w.tags()
        return w.tags().getvalue()
