"""Socket-level Kafka wire contract (r8 verdict ask #4): both halves
of the public Kafka binary protocol exercised against each other over
a loopback TCP socket — TopicManager metadata/create semantics
(topic_manager.go:171 ensureExists), Producer emit with the sarama
FNV-1a partitioner (producer.go:64 Emit, :78 EmitWithHeaders),
RecordBatch v2 encode/decode with CRC32C validation, and a fetch
round-trip feeding the existing Spark wire-frame path end-to-end.
"""

import datetime as dt

import pytest

from goka_spark.kafka_wire import (
    FakeBroker,
    Record,
    WireConsumer,
    WireProducer,
    WireTopicManager,
    crc32c,
    decode_record_batches,
    encode_record_batch,
    fnv1a_32,
    partition_for_key,
)


@pytest.fixture()
def broker():
    b = FakeBroker().start()
    yield b
    b.stop()


# -- pure codec layer -------------------------------------------------

def test_crc32c_known_vectors():
    """Public CRC32C check values (RFC 3720 / 'check' constant)."""
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_fnv1a_known_vectors():
    """FNV-1a 32-bit reference values (public FNV test vectors)."""
    assert fnv1a_32(b"") == 0x811C9DC5
    assert fnv1a_32(b"a") == 0xE40C292C
    assert fnv1a_32(b"foobar") == 0xBF9CF968


def test_partitioner_matches_sarama_pinned_values():
    """Key → partition pinned to sarama hashPartitioner semantics
    (Go's TRUNCATED modulo on the signed int32 hash, then negate):
    int32(fnv1a('user-0')) = -162301177, and Go -162301177 % 3 = -1
    → partition 1.  Python's floor modulo would give 2 — the r9
    ADVICE bug.  Values below recomputed by hand from the public FNV
    constants + Go modulo rules (reference view.go:307-310)."""
    pins = {
        # (key, num_partitions) -> sarama partition
        (b"user-0", 3): 1,   # negative int32 hash: floor-mod would say 2
        (b"user-0", 8): 1,
        (b"user-1", 3): 0,
        (b"user-1", 8): 4,
        (b"user-2", 5): 4,
        (b"user-3", 12): 2,
        (b"", 8): 3,         # int32(0x811C9DC5) is negative too
        (b"hello", 5): 3,    # positive int32 hash: both modulos agree
        (b"key", 12): 4,
    }
    for (key, n), want in pins.items():
        assert partition_for_key(key, n) == want, (key, n)


def test_partitioner_non_negative_and_stable():
    got = [partition_for_key(f"user-{i}".encode(), 8) for i in range(100)]
    assert all(0 <= p < 8 for p in got)
    # deterministic across calls
    assert got == [partition_for_key(f"user-{i}".encode(), 8)
                   for i in range(100)]


def test_record_batch_roundtrip_with_headers():
    recs = [
        Record(0, 1000, b"k1", b"v1", [("h", b"x"), ("n", None)]),
        Record(1, 1007, None, b"v2", []),
        Record(2, 999, b"k3", None, [("trace", b"t-1")]),
    ]
    data = encode_record_batch(5, recs)
    back = decode_record_batches(data)
    assert [(r.offset, r.timestamp, r.key, r.value, r.headers)
            for r in back] == [
        (5, 1000, b"k1", b"v1", [("h", b"x"), ("n", None)]),
        (6, 1007, None, b"v2", []),
        (7, 999, b"k3", None, [("trace", b"t-1")]),
    ]


def test_record_batch_crc_detects_corruption():
    data = bytearray(encode_record_batch(0, [Record(0, 0, b"k", b"v", [])]))
    data[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(data))


# -- topic manager over the socket ------------------------------------

def test_topic_manager_ensure_and_mismatch(broker):
    tm = WireTopicManager([broker.address])
    try:
        assert not tm.topic_exists("events")
        tm.ensure_stream_exists("events", 4)
        assert tm.topic_exists("events")
        assert tm.partitions("events") == [0, 1, 2, 3]
        # idempotent re-ensure with matching npar
        tm.ensure_stream_exists("events", 4)
        # partition-count mismatch fails (TMConfigMismatchBehaviorFail)
        with pytest.raises(ValueError, match="partition count mismatch"):
            tm.ensure_stream_exists("events", 8)
        # table topics get the compact cleanup policy
        tm.ensure_table_exists("group-table", 2)
        assert broker.topics["group-table"]["config"][
            "cleanup.policy"] == "compact"
        assert broker.topics["events"]["config"][
            "cleanup.policy"] == "delete"
    finally:
        tm.close()


def test_api_versions_handshake(broker):
    tm = WireTopicManager([broker.address])
    try:
        vers = tm.api_versions()
        assert vers[0] == (3, 3) and vers[19] == (0, 0)
    finally:
        tm.close()


# -- producer / consumer round-trip -----------------------------------

def test_emit_fetch_roundtrip_with_headers(broker):
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("events", 4)
        sent = {}
        for i in range(20):
            key = f"user-{i % 7}"
            part, off = prod.emit(
                "events", key, f"payload-{i}".encode(),
                headers={"trace": f"t-{i}".encode()},
                timestamp_ms=1_700_000_000_000 + i)
            # broker-assigned partition follows the FNV-1a contract
            assert part == partition_for_key(key.encode(), 4)
            sent.setdefault(part, []).append((off, key, f"payload-{i}"))
        for part, rows in sent.items():
            # offsets are dense and monotonic per partition
            assert [r[0] for r in rows] == list(range(len(rows)))
            got = cons.fetch("events", part, 0)
            assert [(r.offset, r.key.decode(), r.value.decode())
                    for r in got] == rows
            assert all(dict(r.headers)["trace"].startswith(b"t-")
                       for r in got)
        # fetch from a mid-stream offset returns only the tail
        part, rows = max(sent.items(), key=lambda kv: len(kv[1]))
        tail = cons.fetch("events", part, 2)
        assert [r.offset for r in tail] == [r[0] for r in rows][2:]
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_emit_unknown_topic_errors(broker):
    prod = WireProducer([broker.address])
    try:
        with pytest.raises(ValueError, match="unknown topic"):
            prod.emit("nope", "k", b"v")
    finally:
        prod.close()


# -- error paths + retry/backoff (r9 verdict ask #5) -------------------

def test_simple_backoff_reference_semantics():
    """simple_backoff.go:10: Duration() returns the CURRENT value then
    grows by step until max; Reset() zeroes."""
    from goka_spark.kafka_wire import SimpleBackoff
    b = SimpleBackoff(step=0.1, max_=0.25)
    assert [round(b.duration(), 10) for _ in range(5)] == \
        [0.0, 0.1, 0.2, 0.2, 0.2]          # 0.2+0.1 > max → stays
    b.reset()
    assert b.duration() == 0.0


def test_fetch_unknown_topic_raises_typed(broker):
    from goka_spark.kafka_wire import KafkaWireError
    cons = WireConsumer([broker.address])
    try:
        with pytest.raises(KafkaWireError,
                           match="UNKNOWN_TOPIC_OR_PARTITION") as ei:
            cons.fetch("ghost", 0, 0)
        assert not ei.value.retriable
    finally:
        cons.close()


def test_fetch_offset_out_of_range(broker):
    from goka_spark.kafka_wire import KafkaWireError
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("oor", 1)
        prod.emit("oor", "k", b"v")
        # at the high watermark → empty, NOT an error (legal poll)
        assert cons.fetch("oor", 0, 1) == []
        # past it → OFFSET_OUT_OF_RANGE, like a real broker
        with pytest.raises(KafkaWireError, match="OFFSET_OUT_OF_RANGE"):
            cons.fetch("oor", 0, 2)
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_produce_retries_not_leader_then_succeeds(broker):
    from goka_spark.kafka_wire import ERR_NOT_LEADER, SimpleBackoff
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address], max_retries=3,
                        backoff=SimpleBackoff(step=0.001, max_=0.002))
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("moving", 2)
        broker.inject_error("produce", ERR_NOT_LEADER, times=2)
        part, off = prod.emit("moving", "k1", b"v1")
        assert off == 0
        got = cons.fetch("moving", part, 0)
        assert [(r.key, r.value) for r in got] == [(b"k1", b"v1")]
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_produce_retries_exhausted_raises(broker):
    from goka_spark.kafka_wire import (ERR_NOT_LEADER, KafkaWireError,
                                       SimpleBackoff)
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address], max_retries=2,
                        backoff=SimpleBackoff(step=0.001, max_=0.002))
    try:
        tm.ensure_stream_exists("gone", 1)
        broker.inject_error("produce", ERR_NOT_LEADER, times=10)
        with pytest.raises(KafkaWireError,
                           match="NOT_LEADER_FOR_PARTITION") as ei:
            prod.emit("gone", "k", b"v")
        assert ei.value.retriable  # retriable code, retries exhausted
    finally:
        prod.close()
        tm.close()


def test_fetch_retries_leader_not_available(broker):
    from goka_spark.kafka_wire import ERR_LEADER_NOT_AVAILABLE, SimpleBackoff
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address], max_retries=3,
                        backoff=SimpleBackoff(step=0.001, max_=0.002))
    try:
        tm.ensure_stream_exists("flaky", 1)
        prod.emit("flaky", "k", b"v", partition=0)
        broker.inject_error("fetch", ERR_LEADER_NOT_AVAILABLE, times=2)
        got = cons.fetch("flaky", 0, 0)
        assert [(r.key, r.value) for r in got] == [(b"k", b"v")]
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_fetch_partial_response_truncated_at_max_bytes(broker):
    """A size-limited fetch returns a decodable prefix + partial
    trailing batch; the client drops the partial tail and resumes
    from the last full offset — the standard Kafka pagination loop."""
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("big", 1)
        for i in range(10):
            prod.emit("big", f"k{i}", b"x" * 100, partition=0)
        full = cons.fetch("big", 0, 0)
        assert len(full) == 10
        # cap well below the full response: get SOME but not all
        part_resp = cons.fetch("big", 0, 0, max_bytes=400)
        assert 0 < len(part_resp) < 10
        # offsets are a dense prefix (no holes from the truncation)
        assert [r.offset for r in part_resp] == list(range(len(part_resp)))
        # the pagination loop recovers everything
        got, off = [], 0
        while off < 10:
            page = cons.fetch("big", 0, off, max_bytes=400)
            assert page, "stuck: empty page below high watermark"
            got.extend(page)
            off = page[-1].offset + 1
        assert [r.key for r in got] == [f"k{i}".encode() for i in range(10)]
    finally:
        cons.close()
        prod.close()
        tm.close()


# -- socket transport feeding the Spark wire path ---------------------

def test_fetched_records_through_spark_processor(spark, broker):
    """End-to-end: emit over the socket, fetch over the socket, lift
    the records into the connector wire frame, decode with
    from_kafka_records, and fold with a processor — the full goka
    emit→consume→process loop with the transport half real."""
    from pyspark.sql import functions as F

    from goka_spark import AggFold, define_group, input_stream, persist
    from goka_spark.operators.processor import Processor
    from goka_spark.sources import from_kafka_records

    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("clicks", 4)
        base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        for i in range(12):
            prod.emit("clicks", f"u{i % 3}",
                      ('{"value": %d.0}' % i).encode(),
                      timestamp_ms=int(base.timestamp() * 1000) + i * 1000)
        rows = []
        for part in range(4):
            for r in cons.fetch("clicks", part, 0):
                rows.append((r.key, r.value, None, "clicks", part,
                             r.offset,
                             dt.datetime.fromtimestamp(
                                 r.timestamp / 1000, dt.timezone.utc),
                             1))
        from goka_spark.sources import KAFKA_WIRE_SCHEMA
        wire = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
        topic = from_kafka_records(wire, value_schema="value double")
        g = define_group("clicks-fold", input_stream("clicks"),
                         persist(AggFold({
                             "cnt": F.count("*"),
                             "sum_value": F.sum("value"),
                         })))
        res = Processor(g).run({"clicks": topic})
        got = {r.key: (r.cnt, r.sum_value)
               for r in res.table.collect()}
        assert got == {"u0": (4, 0 + 3 + 6 + 9.0),
                       "u1": (4, 1 + 4 + 7 + 10.0),
                       "u2": (4, 2 + 5 + 8 + 11.0)}
    finally:
        cons.close()
        prod.close()
        tm.close()


# -- property tests (hypothesis) --------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from goka_spark.kafka_wire import _Reader, _Writer


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_zigzag_varint_roundtrip(v):
    data = _Writer().varint(v).getvalue()
    assert _Reader(data).varint() == v


@given(st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**40),          # timestamp
        st.one_of(st.none(), st.binary(max_size=64)),        # key
        st.one_of(st.none(), st.binary(max_size=256)),       # value
        st.lists(st.tuples(st.text(max_size=8),
                           st.one_of(st.none(),
                                     st.binary(max_size=16))),
                 max_size=3)),
    min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_record_batch_roundtrip_property(recs):
    records = [Record(0, ts, k, v, hs) for ts, k, v, hs in recs]
    base = 1234
    back = decode_record_batches(encode_record_batch(base, records))
    assert len(back) == len(records)
    for i, (r, (ts, k, v, hs)) in enumerate(zip(back, recs)):
        assert r.offset == base + i
        assert (r.timestamp, r.key, r.value, r.headers) == (ts, k, v, hs)


@given(st.binary(max_size=128), st.integers(min_value=1, max_value=1024))
@settings(max_examples=200, deadline=None)
def test_partitioner_always_in_range(key, n):
    assert 0 <= partition_for_key(key, n) < n


# -- flexible versions (KIP-482) + negotiation (KIP-511) ---------------

@pytest.fixture()
def modern_broker():
    b = FakeBroker(modern=True).start()
    yield b
    b.stop()


def test_uvarint_compact_roundtrip():
    from goka_spark.kafka_wire import _Reader, _Writer
    for v in (0, 1, 127, 128, 300, 16383, 16384, 1 << 31):
        assert _Reader(_Writer().uvarint(v).getvalue()).uvarint() == v
    for s in (None, "", "x", "héllo", "a" * 300):
        got = _Reader(_Writer().compact_string(s).getvalue()) \
            .compact_string()
        assert got == s
    for b in (None, b"", b"\x00\xff" * 200):
        got = _Reader(_Writer().compact_bytes(b).getvalue()) \
            .compact_bytes()
        assert got == b
    # tagged-field blocks we emit are empty and skippable
    rd = _Reader(_Writer().tags().int32(7).getvalue())
    rd.tags()
    assert rd.int32() == 7


def test_negotiation_picks_modern_on_modern_broker(modern_broker):
    from goka_spark.kafka_wire import MODERN_VERSION
    tm = WireTopicManager([modern_broker.address])
    try:
        assert tm.versions == MODERN_VERSION
    finally:
        tm.close()


def test_negotiation_downgrades_on_legacy_broker(broker):
    from goka_spark.kafka_wire import LEGACY_VERSION
    tm = WireTopicManager([broker.address])
    try:
        assert tm.versions == LEGACY_VERSION
    finally:
        tm.close()


def test_flexible_end_to_end_roundtrip(modern_broker):
    """The full TopicManager → Produce v9 → Fetch v12 loop over the
    flexible encodings: compact strings/arrays, tagged fields,
    request header v2 / response header v1."""
    tm = WireTopicManager([modern_broker.address])
    prod = WireProducer([modern_broker.address])
    cons = WireConsumer([modern_broker.address])
    try:
        assert not tm.topic_exists("flex")
        tm.ensure_stream_exists("flex", 4)
        assert tm.partitions("flex") == [0, 1, 2, 3]
        with pytest.raises(ValueError, match="partition count mismatch"):
            tm.ensure_stream_exists("flex", 8)
        sent = {}
        for i in range(20):
            key = f"user-{i % 7}"
            part, off = prod.emit(
                "flex", key, f"payload-{i}".encode(),
                headers={"trace": f"t-{i}".encode()},
                timestamp_ms=1_700_000_000_000 + i)
            assert part == partition_for_key(key.encode(), 4)
            sent.setdefault(part, []).append((off, key, f"payload-{i}"))
        for part, rows in sent.items():
            assert [r[0] for r in rows] == list(range(len(rows)))
            got = cons.fetch("flex", part, 0)
            assert [(r.offset, r.key.decode(), r.value.decode())
                    for r in got] == rows
            assert all(dict(r.headers)["trace"].startswith(b"t-")
                       for r in got)
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_flexible_error_paths(modern_broker):
    """OFFSET_OUT_OF_RANGE / retriable NOT_LEADER behave identically
    under the flexible codecs."""
    from goka_spark.kafka_wire import (ERR_NOT_LEADER, KafkaWireError,
                                       SimpleBackoff)
    tm = WireTopicManager([modern_broker.address])
    prod = WireProducer([modern_broker.address], max_retries=3,
                        backoff=SimpleBackoff(step=0.001, max_=0.002))
    cons = WireConsumer([modern_broker.address])
    try:
        tm.ensure_stream_exists("flex-err", 1)
        modern_broker.inject_error("produce", ERR_NOT_LEADER, times=2)
        part, off = prod.emit("flex-err", "k", b"v")
        assert (part, off) == (0, 0)
        with pytest.raises(KafkaWireError, match="OFFSET_OUT_OF_RANGE"):
            cons.fetch("flex-err", 0, 5)
        with pytest.raises(KafkaWireError,
                           match="UNKNOWN_TOPIC_OR_PARTITION"):
            cons.fetch("ghost", 0, 0)
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_flexible_partial_fetch_pagination(modern_broker):
    tm = WireTopicManager([modern_broker.address])
    prod = WireProducer([modern_broker.address])
    cons = WireConsumer([modern_broker.address])
    try:
        tm.ensure_stream_exists("flex-big", 1)
        for i in range(10):
            prod.emit("flex-big", f"k{i}", b"x" * 100, partition=0)
        part_resp = cons.fetch("flex-big", 0, 0, max_bytes=400)
        assert 0 < len(part_resp) < 10
        got, off = [], 0
        while off < 10:
            page = cons.fetch("flex-big", 0, off, max_bytes=400)
            assert page
            got.extend(page)
            off = page[-1].offset + 1
        assert [r.key for r in got] == [f"k{i}".encode() for i in range(10)]
    finally:
        cons.close()
        prod.close()
        tm.close()


# -- consumer-group membership (goka processor rebalance transport) ----

def test_copartitioning_plan_matches_goka_semantics():
    """Pinned to CopartitioningStrategy.Plan (copartition_strategy.go:51):
    sorted members, one contiguous range each (min = ⌊idx·step+0.5⌋),
    the SAME range for every topic — including the rolling-upgrade
    example from the reference's own doc comment."""
    from goka_spark.kafka_wire import copartitioning_plan

    # even split
    plan = copartitioning_plan({"a": ["x", "y"], "b": ["x", "y"]},
                               {"x": [0, 1, 2, 3], "y": [3, 2, 1, 0]})
    assert plan == {"a": {"x": [0, 1], "y": [0, 1]},
                    "b": {"x": [2, 3], "y": [2, 3]}}
    # uneven split: 5 partitions / 2 members -> 3 + 2
    plan = copartitioning_plan({"a": ["x"], "b": ["x"]},
                               {"x": [0, 1, 2, 3, 4]})
    assert plan == {"a": {"x": [0, 1, 2]}, "b": {"x": [3, 4]}}
    # the reference doc-comment example (rolling upgrade, differing
    # topic sets): A gets X[0,1]; B gets X[2] and Y[2]
    plan = copartitioning_plan({"A": ["X"], "B": ["X", "Y"]},
                               {"X": [0, 1, 2], "Y": [0, 1, 2]})
    assert plan == {"A": {"X": [0, 1]}, "B": {"X": [2], "Y": [2]}}
    # non-copartitioned topics refuse
    with pytest.raises(ValueError, match="copartitioned"):
        copartitioning_plan({"a": ["x"]}, {"x": [0, 1], "y": [0, 1, 2]})
    # strict mode refuses inconsistent subscriptions
    with pytest.raises(ValueError, match="group-name clash"):
        copartitioning_plan({"A": ["X"], "B": ["X", "Y"]},
                            {"X": [0, 1, 2], "Y": [0, 1, 2]},
                            strict=True)


def test_group_single_member_lifecycle(broker):
    from goka_spark.kafka_wire import WireGroupMember
    tm = WireTopicManager([broker.address])
    tm.ensure_stream_exists("gx", 4)
    tm.ensure_stream_exists("gy", 4)
    m = WireGroupMember([broker.address], "grp-1", ["gx", "gy"])
    try:
        got = m.join()
        assert m.is_leader
        assert got == {"gx": [0, 1, 2, 3], "gy": [0, 1, 2, 3]}
        assert m.heartbeat()
        m.commit_offsets({("gx", 0): 7, ("gx", 2): 3, ("gy", 1): 9})
        assert m.fetch_offsets("gx", [0, 1, 2, 3]) == {
            0: 7, 1: -1, 2: 3, 3: -1}
        m.leave()
    finally:
        m.close()
        tm.close()


def test_group_rebalance_two_members_copartitioned(broker):
    """m2 joining forces m1's heartbeat to REBALANCE_IN_PROGRESS;
    after both rejoin, the 4 partitions split 2/2 with the SAME
    ranges on both topics (goka's copartition invariant), and a
    leave hands everything back."""
    import threading

    from goka_spark.kafka_wire import WireGroupMember
    tm = WireTopicManager([broker.address])
    tm.ensure_stream_exists("rx", 4)
    tm.ensure_stream_exists("ry", 4)
    m1 = WireGroupMember([broker.address], "grp-2", ["rx", "ry"])
    m2 = WireGroupMember([broker.address], "grp-2", ["rx", "ry"])
    try:
        assert m1.join() == {"rx": [0, 1, 2, 3], "ry": [0, 1, 2, 3]}
        # m2's join blocks in sync until the leader replans — run it
        # on a thread like a real second processor instance
        t2 = threading.Thread(target=m2.join)
        t2.start()
        # m1 discovers the rebalance via heartbeat and rejoins
        deadline = __import__("time").time() + 10
        while m1.heartbeat():
            assert __import__("time").time() < deadline, "no rebalance"
        a1 = m1.join()
        t2.join(timeout=10)
        assert not t2.is_alive()
        a2 = m2.assignment
        # copartitioned 2/2 split, deterministic by member id order
        ids = sorted([(m1.member_id, a1), (m2.member_id, a2)])
        assert ids[0][1] == {"rx": [0, 1], "ry": [0, 1]}
        assert ids[1][1] == {"rx": [2, 3], "ry": [2, 3]}
        assert m1.heartbeat() and m2.heartbeat()
        # m2 leaves: m1 rebalances back to everything
        m2.leave()
        while m1.heartbeat():
            assert __import__("time").time() < deadline + 10
        assert m1.join() == {"rx": [0, 1, 2, 3], "ry": [0, 1, 2, 3]}
    finally:
        m1.close()
        m2.close()
        tm.close()


def test_group_offset_commit_generation_fencing(broker):
    """A commit from a stale generation must not clobber the new
    owner's progress — ILLEGAL_GENERATION, goka's exactly-once-per-
    rebalance guarantee."""
    import threading

    from goka_spark.kafka_wire import KafkaWireError, WireGroupMember
    tm = WireTopicManager([broker.address])
    tm.ensure_stream_exists("fz", 2)
    m1 = WireGroupMember([broker.address], "grp-3", ["fz"])
    m2 = WireGroupMember([broker.address], "grp-3", ["fz"])
    try:
        m1.join()
        m1.commit_offsets({("fz", 0): 5})
        stale_gen = m1.generation
        t2 = threading.Thread(target=m2.join)
        t2.start()
        while m1.heartbeat():
            pass
        m1.join()                        # m1 now at the new generation
        t2.join(timeout=10)
        m1.generation = stale_gen        # simulate a zombie commit
        with pytest.raises(KafkaWireError, match="ILLEGAL_GENERATION"):
            m1.commit_offsets({("fz", 0): 99})
        assert m1.fetch_offsets("fz", [0]) == {0: 5}  # not clobbered
    finally:
        m1.close()
        m2.close()
        tm.close()


def test_group_consume_resume_end_to_end(broker):
    """The full goka processor transport loop: produce keyed records,
    a group member consumes ITS assigned partitions, commits, dies;
    a successor in the same group resumes from the committed offsets
    and sees only the tail."""
    from goka_spark.kafka_wire import WireGroupMember
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    tm.ensure_stream_exists("ez", 4)
    for i in range(20):
        prod.emit("ez", f"user-{i % 7}", f"v{i}".encode())
    m1 = WireGroupMember([broker.address], "grp-4", ["ez"])
    try:
        assign = m1.join()
        seen = {}
        for pid in assign["ez"]:
            start = m1.fetch_offsets("ez", [pid])[pid]
            recs = cons.fetch("ez", pid, max(start, 0))
            if recs:
                seen[pid] = len(recs)
                m1.commit_offsets({("ez", pid): recs[-1].offset + 1})
        assert sum(seen.values()) == 20   # single member owns all 4
        m1.leave()
        m1.close()
        # successor resumes: everything is committed, nothing replays
        m2 = WireGroupMember([broker.address], "grp-4", ["ez"])
        try:
            assign2 = m2.join()
            total = 0
            for pid in assign2["ez"]:
                start = m2.fetch_offsets("ez", [pid])[pid]
                assert start >= 0         # offsets survived the member
                total += len(cons.fetch("ez", pid, start))
            assert total == 0
            # new records arrive: only the tail is consumed
            prod.emit("ez", "user-0", b"late", partition=0)
            start = m2.fetch_offsets("ez", [0])[0]
            tail = cons.fetch("ez", 0, start)
            assert [r.value for r in tail] == [b"late"]
        finally:
            m2.close()
    finally:
        cons.close()
        prod.close()
        tm.close()


@given(st.integers(min_value=1, max_value=32),
       st.integers(min_value=1, max_value=8),
       st.integers(min_value=1, max_value=3))
@settings(max_examples=200, deadline=None)
def test_copartitioning_plan_properties(nparts, nmembers, ntopics):
    """Invariants of the copartitioning plan for uniform
    subscriptions: every partition of every topic assigned EXACTLY
    once; each member's range contiguous; all topics carry the SAME
    range per member (the copartition invariant); deterministic."""
    from goka_spark.kafka_wire import copartitioning_plan
    topics = {f"t{i}": list(range(nparts)) for i in range(ntopics)}
    members = {f"m{i:02d}": sorted(topics) for i in range(nmembers)}
    plan = copartitioning_plan(members, topics, strict=True)
    assert plan == copartitioning_plan(members, topics)  # deterministic
    for t in topics:
        got = sorted(p for m in plan for p in plan[m].get(t, []))
        assert got == list(range(nparts)), (t, got)      # exactly once
    for m, per_topic in plan.items():
        ranges = {tuple(ps) for ps in per_topic.values()}
        assert len(ranges) == 1                          # same range
        ps = next(iter(ranges))
        assert list(ps) == list(range(ps[0], ps[-1] + 1)) if ps else True


def test_poll_group_records_processor_loop(spark, broker):
    """The complete goka processor loop with the transport half real:
    group membership assigns partitions, poll_group_records lifts the
    wire records into the connector frame, a Processor folds them,
    offsets commit AFTER processing, and the next poll sees only new
    records (at-least-once, commit-after-process)."""
    from pyspark.sql import functions as F

    from goka_spark import AggFold, define_group, input_stream, persist
    from goka_spark.kafka_wire import WireGroupMember
    from goka_spark.operators.processor import Processor
    from goka_spark.sources import from_kafka_records, poll_group_records

    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    tm.ensure_stream_exists("pg", 4)
    for i in range(12):
        prod.emit("pg", f"u{i % 3}", ('{"value": %d.0}' % i).encode(),
                  timestamp_ms=1_700_000_000_000 + i * 1000)
    m = WireGroupMember([broker.address], "pg-grp", ["pg"])
    try:
        m.join()
        wire, next_off = poll_group_records(spark, m, cons)
        topic = from_kafka_records(wire, value_schema="value double")
        g = define_group("pg-fold", input_stream("pg"),
                         persist(AggFold({"cnt": F.count("*"),
                                          "sum_value": F.sum("value")})))
        res = Processor(g).run({"pg": topic})
        got = {r.key: (r.cnt, r.sum_value) for r in res.table.collect()}
        assert got == {"u0": (4, 18.0), "u1": (4, 22.0), "u2": (4, 26.0)}
        m.commit_offsets(next_off)
        # nothing new: the next poll is empty
        wire2, next2 = poll_group_records(spark, m, cons)
        assert wire2.count() == 0 and next2 == {}
        # a late record: only the tail arrives
        prod.emit("pg", "u0", b'{"value": 99.0}',
                  timestamp_ms=1_700_000_100_000)
        wire3, next3 = poll_group_records(spark, m, cons)
        assert wire3.count() == 1
        pid = partition_for_key(b"u0", 4)
        assert next3 == {("pg", pid): next_off[("pg", pid)] + 1}
    finally:
        m.close()
        cons.close()
        prod.close()
        tm.close()


def test_group_strict_mode_rejects_mixed_subscriptions(broker):
    """StrictCopartitioningStrategy (copartition_strategy.go:37): a
    leader in strict mode refuses to plan when members subscribe to
    different topic sets — the group-name-clash tripwire."""
    import threading

    from goka_spark.kafka_wire import WireGroupMember
    tm = WireTopicManager([broker.address])
    tm.ensure_stream_exists("sx", 2)
    tm.ensure_stream_exists("sy", 2)
    m1 = WireGroupMember([broker.address], "grp-strict", ["sx"],
                         strict=True)
    m2 = WireGroupMember([broker.address], "grp-strict", ["sx", "sy"])
    try:
        m1.join()

        def _join_quietly():
            # the strict leader refuses to plan, so this follower's
            # sync never succeeds; teardown closes its socket while
            # it is still parked — both outcomes are expected here
            try:
                m2.join()
            except Exception:
                pass

        t2 = threading.Thread(target=_join_quietly, daemon=True)
        t2.start()
        while m1.heartbeat():
            pass
        with pytest.raises(ValueError, match="group-name clash"):
            m1.join()                    # m1 is the strict leader
    finally:
        m1.close()
        m2.close()
        tm.close()


def test_fetch_first_batch_always_whole_no_livelock(broker):
    """KIP-74: when even the FIRST batch exceeds max_bytes the broker
    must return it whole — otherwise a consumer whose limit is
    smaller than one record spins at the same offset forever with an
    empty, errorless response (review finding, fixed)."""
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("huge", 1)
        prod.emit("huge", "k", b"x" * 500, partition=0)
        prod.emit("huge", "k2", b"y" * 500, partition=0)
        got = cons.fetch("huge", 0, 0, max_bytes=100)
        assert [r.value for r in got] == [b"x" * 500]
        got2 = cons.fetch("huge", 0, 1, max_bytes=100)
        assert [r.value for r in got2] == [b"y" * 500]
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_copartitioning_plan_empty_topic_order_independent():
    """A topic with ZERO partitions must fail the copartition check
    regardless of dict insertion order (review finding: truthiness
    treated a leading empty list as 'not yet set')."""
    from goka_spark.kafka_wire import copartitioning_plan
    for topics in ({"a": [], "b": [0, 1]}, {"b": [0, 1], "a": []}):
        with pytest.raises(ValueError, match="copartitioned"):
            copartitioning_plan({"m": ["a", "b"]}, topics)


def test_group_sync_times_out_without_leader_plan(broker):
    """A follower whose leader died between JoinGroup and SyncGroup
    must not hang forever — bounded retry, then a typed error."""
    from goka_spark.kafka_wire import (ERR_REBALANCE_IN_PROGRESS,
                                       KafkaWireError, WireGroupMember)
    tm = WireTopicManager([broker.address])
    tm.ensure_stream_exists("tz", 1)
    m1 = WireGroupMember([broker.address], "grp-dead", ["tz"])
    m2 = WireGroupMember([broker.address], "grp-dead", ["tz"])
    try:
        m1.join()
        # m2 joins as a follower (bumping the generation); m1 — the
        # leader — never rejoins/syncs, so no plan ever lands for
        # the new generation.  Send the raw JoinGroup, then drive
        # the follower sync with a short bound: typed error, no hang.
        from goka_spark.kafka_wire import (API_JOIN_GROUP, _Writer,
                                           encode_member_metadata)
        meta = encode_member_metadata(m2.topics)
        w = (_Writer().string(m2.group).int32(30_000)
             .string("").string("consumer")
             .array([("copartition", meta)],
                    lambda wr, p: wr.string(p[0]).bytes_(p[1])))
        rd = m2._conn.request(API_JOIN_GROUP, 0, w.getvalue())
        assert rd.int16() == 0
        m2.generation = rd.int32()
        rd.string()                      # protocol
        rd.string()                      # leader (= m1)
        m2.member_id = rd.string()
        with pytest.raises(KafkaWireError,
                           match="REBALANCE_IN_PROGRESS") as ei:
            m2._sync({}, max_wait=0.3)
        assert ei.value.code == ERR_REBALANCE_IN_PROGRESS
    finally:
        m1.close()
        m2.close()
        tm.close()


# -- Promise / async emit (promise.go, emitter.go Emit vs EmitSync) ----

def test_promise_then_before_and_after_resolution():
    from goka_spark.kafka_wire import Promise
    p = Promise()
    seen = []
    p.then(lambda err: seen.append(("before", err)))
    p.finish((2, 7), None)
    p.finish((9, 9), RuntimeError("late"))      # resolve-once: ignored
    p.then(lambda err: seen.append(("after", err)))   # fires NOW
    p.then_with_message(lambda msg, err: seen.append(("msg", msg)))
    assert seen == [("before", None), ("after", None), ("msg", (2, 7))]
    assert p.wait(1).msg == (2, 7)


def test_emit_async_resolves_and_emit_sync_shape(broker):
    from goka_spark.kafka_wire import KafkaWireError, WireProducer
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("pp", 4)
        results = []
        ps = [prod.emit_async("pp", f"user-{i}", f"v{i}".encode())
              .then_with_message(lambda msg, err: results.append(
                  (msg, err)))
              for i in range(5)]
        for p in ps:
            p.wait(10)                   # EmitSync = Emit().wait()
        assert len(results) == 5 and all(e is None for _, e in results)
        # promises resolved to the broker-confirmed (partition, offset)
        for i, p in enumerate(ps):
            part, off = p.msg
            assert part == partition_for_key(f"user-{i}".encode(), 4)
            got = cons.fetch("pp", part, off)
            assert got[0].value == f"v{i}".encode()
        # failure path: the promise carries the typed error
        bad = prod.emit_async("ghost-topic", "k", b"v")
        with pytest.raises(ValueError, match="unknown topic"):
            bad.wait(10)
        assert bad.err is not None
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_group_session_timeout_evicts_dead_member(broker):
    """A member that stops heartbeating past its session timeout is
    evicted lazily on the next group request (the coordinator's
    DelayedHeartbeat sweep) — the survivor rebalances to everything
    and the zombie's next heartbeat reads UNKNOWN_MEMBER_ID.  This is
    also how a crashed LEADER eventually unblocks parked followers."""
    import time as _time

    from goka_spark.kafka_wire import WireGroupMember
    tm = WireTopicManager([broker.address])
    tm.ensure_stream_exists("ev", 4)
    dead = WireGroupMember([broker.address], "grp-ev", ["ev"],
                           session_timeout_ms=300)
    live = WireGroupMember([broker.address], "grp-ev", ["ev"],
                           session_timeout_ms=30_000)
    try:
        dead.join()                      # sole member, owns all 4
        _time.sleep(0.4)                 # ...then stops heartbeating
        got = live.join()                # eviction fires on this join
        assert got == {"ev": [0, 1, 2, 3]}
        assert live.is_leader
        assert not dead.heartbeat()      # zombie: UNKNOWN_MEMBER_ID
        assert dead.member_id == ""      # client reset for a fresh join
    finally:
        dead.close()
        live.close()
        tm.close()


# -- RecordBatch v2 compression (attributes codec bits) ----------------

def test_record_batch_gzip_roundtrip():
    """gzip is a standard gzip stream over the records section; the
    batch header through recordCount stays uncompressed and the CRC
    covers the final (compressed) bytes — the decoder validates it."""
    import struct as _struct

    from goka_spark.kafka_wire import CODEC_GZIP
    recs = [Record(0, 1_700_000_000_000 + i, f"k{i}".encode(),
                   (f"v{i}" * 50).encode(), [("h", b"x")])
            for i in range(5)]
    batch = encode_record_batch(100, recs, codec=CODEC_GZIP)
    # attributes @21 carry the codec id; records section @61 starts
    # with the gzip magic — the header is genuinely uncompressed
    assert _struct.unpack(">h", batch[21:23])[0] & 0x07 == CODEC_GZIP
    assert batch[61:63] == b"\x1f\x8b"
    # repetitive payloads actually shrink
    assert len(batch) < len(encode_record_batch(100, recs))
    got = decode_record_batches(bytes(batch))
    assert [(r.offset, r.key, r.value, r.headers) for r in got] == \
        [(100 + i, f"k{i}".encode(), (f"v{i}" * 50).encode(),
          [("h", b"x")]) for i in range(5)]


def test_record_batch_snappy_roundtrip():
    """snappy batches use snappy-java's xerial stream framing over
    the records section (goka_spark/snappy_codec.py, pure Python);
    header through recordCount stays uncompressed and the CRC covers
    the final compressed bytes — same layout rules as gzip."""
    import struct as _struct

    from goka_spark.kafka_wire import CODEC_SNAPPY
    recs = [Record(0, 1_700_000_000_000 + i, f"k{i}".encode(),
                   (f"v{i}" * 50).encode(), [("h", b"x")])
            for i in range(5)]
    batch = encode_record_batch(100, recs, codec=CODEC_SNAPPY)
    assert _struct.unpack(">h", batch[21:23])[0] & 0x07 == CODEC_SNAPPY
    # records section @61 starts with the xerial magic — the batch
    # header is genuinely uncompressed
    assert batch[61:69] == b"\x82SNAPPY\x00"
    # repetitive payloads actually shrink
    assert len(batch) < len(encode_record_batch(100, recs))
    got = decode_record_batches(bytes(batch))
    assert [(r.offset, r.key, r.value, r.headers) for r in got] == \
        [(100 + i, f"k{i}".encode(), (f"v{i}" * 50).encode(),
          [("h", b"x")]) for i in range(5)]


def test_record_batch_lz4_roundtrip():
    """lz4 batches use the standard LZ4 frame format
    (goka_spark/lz4_codec.py, pure Python, XXH32 checksums verified);
    header through recordCount stays uncompressed, CRC covers the
    final compressed bytes — same layout rules as gzip/snappy."""
    import struct as _struct

    from goka_spark.kafka_wire import CODEC_LZ4
    recs = [Record(0, 1_700_000_000_000 + i, f"k{i}".encode(),
                   (f"v{i}" * 50).encode(), [("h", b"x")])
            for i in range(5)]
    batch = encode_record_batch(100, recs, codec=CODEC_LZ4)
    assert _struct.unpack(">h", batch[21:23])[0] & 0x07 == CODEC_LZ4
    # records section @61 starts with the LZ4 frame magic
    assert batch[61:65] == b"\x04\x22\x4d\x18"
    assert len(batch) < len(encode_record_batch(100, recs))
    got = decode_record_batches(bytes(batch))
    assert [(r.offset, r.key, r.value, r.headers) for r in got] == \
        [(100 + i, f"k{i}".encode(), (f"v{i}" * 50).encode(),
          [("h", b"x")]) for i in range(5)]


def test_unsupported_codec_typed_both_directions():
    """Unknown codec ids stay a TYPED error in both directions (r12:
    zstd moved into the supported set — full RFC 8878 decode,
    store-mode encode — so the refusal now guards only ids this
    client predates).  A batch forged with zstd attribute bits over
    an UNCOMPRESSED records section is wire corruption, not an
    unsupported codec — the decoder rejects it as a bad frame."""
    import struct as _struct

    from goka_spark.kafka_wire import (CODEC_ZSTD, UnsupportedCodecError,
                                       WireProducer, crc32c)
    rec = [Record(0, 0, b"k", b"v")]
    with pytest.raises(UnsupportedCodecError, match="unsupported"):
        encode_record_batch(0, rec, codec=7)
    batch = bytearray(encode_record_batch(0, rec))
    batch[21:23] = _struct.pack(">h", 7)  # forge reserved codec id
    batch[17:21] = _struct.pack(">I", crc32c(bytes(batch[21:])))
    with pytest.raises(UnsupportedCodecError):
        decode_record_batches(bytes(batch))
    # zstd bits over a NON-zstd records section = corruption, typed
    batch[21:23] = _struct.pack(">h", CODEC_ZSTD)
    batch[17:21] = _struct.pack(">I", crc32c(bytes(batch[21:])))
    with pytest.raises(ValueError, match="zstd"):
        decode_record_batches(bytes(batch))
    with pytest.raises(ValueError, match="unknown compression"):
        WireProducer(["127.0.0.1:1"], compression="brotli")


def test_produce_gzip_end_to_end(broker):
    """A gzip-compressing producer (sarama config.Producer.Compression
    = gzip is a day-one default in many deployments) interoperates
    over the socket: the broker decodes the compressed batch and a
    plain consumer reads the records back."""
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address], compression="gzip")
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("gz", 2)
        offs = [prod.emit("gz", "user-1", f"payload-{i}".encode(),
                          headers={"trace": str(i).encode()})
                for i in range(8)]
        part = offs[0][0]
        assert all(p == part for p, _ in offs)
        got = cons.fetch("gz", part, 0)
        assert [r.value.decode() for r in got] == \
            [f"payload-{i}" for i in range(8)]
        assert dict(got[3].headers)["trace"] == b"3"
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_fetch_gzip_batches_end_to_end(broker):
    """Consumers must decode whatever codec the log segment holds —
    a broker serving gzip batches round-trips through fetch."""
    from goka_spark.kafka_wire import CODEC_GZIP
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("gzf", 1)
        for i in range(6):
            prod.emit("gzf", f"k{i}", f"v{i}".encode(), partition=0)
        broker.fetch_codec = CODEC_GZIP
        got = cons.fetch("gzf", 0, 2)
        assert [(r.offset, r.value) for r in got] == \
            [(i, f"v{i}".encode()) for i in range(2, 6)]
    finally:
        broker.fetch_codec = 0
        cons.close()
        prod.close()
        tm.close()


def test_produce_snappy_end_to_end(broker):
    """A snappy-compressing producer (sarama's most common
    non-default config.Producer.Compression) interoperates over the
    socket: the broker decodes the xerial-framed batch and a plain
    consumer reads the records back."""
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address], compression="snappy")
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("sn", 2)
        offs = [prod.emit("sn", "user-1", f"payload-{i}".encode(),
                          headers={"trace": str(i).encode()})
                for i in range(8)]
        part = offs[0][0]
        assert all(p == part for p, _ in offs)
        got = cons.fetch("sn", part, 0)
        assert [r.value.decode() for r in got] == \
            [f"payload-{i}" for i in range(8)]
        assert dict(got[3].headers)["trace"] == b"3"
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_produce_lz4_fetch_lz4_end_to_end(broker):
    """lz4 interop both directions over the socket: an lz4-compressing
    producer's batch decodes at the broker, and an lz4-serving fetch
    decodes at a plain consumer (sarama CompressionLZ4 parity)."""
    from goka_spark.kafka_wire import CODEC_LZ4
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address], compression="lz4")
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("lz", 1)
        for i in range(6):
            prod.emit("lz", f"k{i}", f"payload-{i}".encode(), partition=0)
        got = cons.fetch("lz", 0, 0)
        assert [r.value.decode() for r in got] == \
            [f"payload-{i}" for i in range(6)]
        broker.fetch_codec = CODEC_LZ4
        got = cons.fetch("lz", 0, 3)
        assert [(r.offset, r.value) for r in got] == \
            [(i, f"payload-{i}".encode()) for i in range(3, 6)]
    finally:
        broker.fetch_codec = 0
        cons.close()
        prod.close()
        tm.close()


def test_fetch_snappy_batches_end_to_end(broker):
    """Consumers must decode whatever codec the log segment holds —
    a broker serving snappy batches round-trips through fetch (the
    mixed-codec-topic case the pure-stdlib build used to refuse)."""
    from goka_spark.kafka_wire import CODEC_SNAPPY
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("snf", 1)
        for i in range(6):
            prod.emit("snf", f"k{i}", f"v{i}".encode(), partition=0)
        broker.fetch_codec = CODEC_SNAPPY
        got = cons.fetch("snf", 0, 2)
        assert [(r.offset, r.value) for r in got] == \
            [(i, f"v{i}".encode()) for i in range(2, 6)]
    finally:
        broker.fetch_codec = 0
        cons.close()
        prod.close()
        tm.close()


# -- ListOffsets + offset-to-load clamp (partition_table.go:243) -------

def test_list_offsets_oldest_newest_and_retention(broker):
    """GetOffset(OFFSET_OLDEST/NEWEST) parity (topic_manager.go:131):
    oldest is the retained log start and moves forward under
    retention; fetching below it is OFFSET_OUT_OF_RANGE like a real
    broker, and a timestamp query finds the first offset at/after."""
    from goka_spark.kafka_wire import (OFFSET_NEWEST, OFFSET_OLDEST,
                                       KafkaWireError)
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    try:
        tm.ensure_stream_exists("lo", 1)
        for i in range(5):
            prod.emit("lo", f"k{i}", f"v{i}".encode(),
                      timestamp_ms=1_000 + i * 10, partition=0)
        assert tm.get_offset("lo", 0, OFFSET_OLDEST) == 0
        assert tm.get_offset("lo", 0, OFFSET_NEWEST) == 5
        assert cons.get_offset("lo", 0, 1_025) == 3  # first ts >= 1025
        broker.truncate_before("lo", 0, 3)
        assert tm.get_offset("lo", 0, OFFSET_OLDEST) == 3
        assert tm.get_offset("lo", 0, OFFSET_NEWEST) == 5
        with pytest.raises(KafkaWireError, match="OFFSET_OUT_OF_RANGE"):
            cons.fetch("lo", 0, 0)       # below the retained start
        assert [r.offset for r in cons.fetch("lo", 0, 3)] == [3, 4]
        with pytest.raises(KafkaWireError, match="UNKNOWN_TOPIC"):
            tm.get_offset("ghost", 0, OFFSET_NEWEST)
    finally:
        cons.close()
        prod.close()
        tm.close()


def test_find_offset_to_load_reference_clamps(broker):
    """partition_table.go:243 findOffsetToLoad: no stored offset →
    oldest; stored below the retained start → oldest (compaction
    removed what we stored, :265); normal resume → stored+1; local
    state at/past the hwm → hwm (pretend recovered, :299)."""
    from goka_spark.kafka_wire import (OFFSET_NOT_STORED,
                                       find_offset_to_load)
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    try:
        tm.ensure_stream_exists("fol", 1)
        for i in range(5):
            prod.emit("fol", f"k{i}", f"v{i}".encode(), partition=0)
        broker.truncate_before("fol", 0, 3)
        assert find_offset_to_load(tm, "fol", 0, OFFSET_NOT_STORED) \
            == (3, 5)
        assert find_offset_to_load(tm, "fol", 0, 0) == (3, 5)
        assert find_offset_to_load(tm, "fol", 0, 3) == (4, 5)
        assert find_offset_to_load(tm, "fol", 0, 99) == (5, 5)
    finally:
        prod.close()
        tm.close()


def test_find_offset_to_load_table_gone_guard(broker):
    """partition_table.go:295: local storage has an offset but the
    broker says the partition is empty — the table topic was likely
    deleted and recreated, so recovery must abort with the typed
    'delete your local cache' error rather than silently starting
    from offset 0 against a different topic incarnation."""
    from goka_spark.kafka_wire import (OFFSET_NOT_STORED, TableGoneError,
                                       find_offset_to_load)
    tm = WireTopicManager([broker.address])
    try:
        tm.ensure_stream_exists("gone", 1)  # hwm == 0: never produced
        # no local state / stored offset 0 against an empty topic are
        # both fine (fresh start)
        assert find_offset_to_load(tm, "gone", 0, OFFSET_NOT_STORED) \
            == (0, 0)
        assert find_offset_to_load(tm, "gone", 0, 0) == (0, 0)
        with pytest.raises(TableGoneError,
                           match="delete the local cache"):
            find_offset_to_load(tm, "gone", 0, 7)
    finally:
        tm.close()


def test_poll_group_records_clamps_to_log_start(spark, broker):
    """The processor loop survives retention outrunning its committed
    offset: resume clamps to the broker's oldest retained offset
    instead of dying on OFFSET_OUT_OF_RANGE, and a caught-up poll is
    empty without error."""
    from goka_spark.kafka_wire import WireGroupMember
    from goka_spark.sources import poll_group_records
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    cons = WireConsumer([broker.address])
    tm.ensure_stream_exists("ret", 1)
    for i in range(6):
        prod.emit("ret", f"k{i}", f"v{i}".encode(), partition=0)
    m = WireGroupMember([broker.address], "grp-ret", ["ret"])
    try:
        m.join()
        m.commit_offsets({("ret", 0): 2})     # processed two...
        broker.truncate_before("ret", 0, 4)   # ...retention ran ahead
        frame, nxt = poll_group_records(spark, m, cons)
        assert sorted(r.offset for r in frame.collect()) == [4, 5]
        assert nxt == {("ret", 0): 6}
        m.commit_offsets(nxt)
        frame2, nxt2 = poll_group_records(spark, m, cons)
        assert frame2.count() == 0 and nxt2 == {}
    finally:
        m.close()
        cons.close()
        prod.close()
        tm.close()


@given(st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**40),          # timestamp
        st.one_of(st.none(), st.binary(max_size=64)),        # key
        st.one_of(st.none(), st.binary(max_size=256)),       # value
        st.lists(st.tuples(st.text(max_size=8),
                           st.one_of(st.none(),
                                     st.binary(max_size=16))),
                 max_size=3)),
    min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_record_batch_compressed_roundtrip_property(recs):
    """Every batch that roundtrips uncompressed roundtrips under each
    supported codec — same records, same offsets, CRC validated by
    the decoder."""
    from goka_spark.kafka_wire import CODEC_GZIP, CODEC_LZ4, CODEC_SNAPPY
    records = [Record(0, ts, k, v, hs) for ts, k, v, hs in recs]
    base = 77
    for codec in (CODEC_GZIP, CODEC_SNAPPY, CODEC_LZ4):
        back = decode_record_batches(
            encode_record_batch(base, records, codec=codec))
        assert len(back) == len(records)
        for i, (r, (ts, k, v, hs)) in enumerate(zip(back, recs)):
            assert r.offset == base + i
            assert (r.timestamp, r.key, r.value, r.headers) == \
                (ts, k, v, hs)


def test_truncate_before_clamps_to_high_watermark(broker):
    """Retention can empty a log but never invent future offsets:
    truncating past the hwm clamps, and the next produce continues
    at the hwm."""
    from goka_spark.kafka_wire import OFFSET_NEWEST, OFFSET_OLDEST
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address])
    try:
        tm.ensure_stream_exists("tc", 1)
        for i in range(3):
            prod.emit("tc", f"k{i}", b"v", partition=0)
        broker.truncate_before("tc", 0, 99)      # way past hwm=3
        assert tm.get_offset("tc", 0, OFFSET_OLDEST) == 3
        assert tm.get_offset("tc", 0, OFFSET_NEWEST) == 3
        _, off = prod.emit("tc", "k", b"late", partition=0)
        assert off == 3                           # continues at hwm
    finally:
        prod.close()
        tm.close()


@pytest.mark.parametrize("codec_name", ["gzip", "snappy", "lz4", "zstd"])
def test_poll_group_records_with_compressed_broker(spark, broker,
                                                   codec_name):
    """The full processor transport loop decodes compressed fetch
    responses under every supported codec: compressing producer ->
    broker -> codec-serving fetch -> group member -> Spark wire
    frame (a real mixed-codec cluster serves whatever the segment
    holds)."""
    from goka_spark.kafka_wire import _CODEC_IDS, WireGroupMember
    from goka_spark.sources import poll_group_records
    tm = WireTopicManager([broker.address])
    prod = WireProducer([broker.address], compression=codec_name)
    cons = WireConsumer([broker.address])
    topic = f"cp-{codec_name}"
    tm.ensure_stream_exists(topic, 2)
    for i in range(8):
        prod.emit(topic, f"user-{i % 3}", f"v{i}".encode(),
                  headers={"n": str(i).encode()})
    broker.fetch_codec = _CODEC_IDS[codec_name]
    m = WireGroupMember([broker.address], f"grp-{topic}", [topic])
    try:
        m.join()
        frame, nxt = poll_group_records(spark, m, cons)
        rows = frame.collect()
        assert len(rows) == 8
        assert sorted(bytes(r.value) for r in rows) == \
            sorted(f"v{i}".encode() for i in range(8))
        assert sum(nxt.values()) == 8
    finally:
        broker.fetch_codec = 0
        m.close()
        cons.close()
        prod.close()
        tm.close()


def test_gzip_on_modern_flexible_broker(modern_broker):
    """Compressed batches ride the KIP-482 flexible encodings too:
    gzip producer over Produce v9 / gzip-serving Fetch v12 on a
    modern broker, with ListOffsets resolving through negotiation."""
    from goka_spark.kafka_wire import (CODEC_GZIP, FLEXIBLE_SINCE,
                                       API_PRODUCE, OFFSET_NEWEST)
    tm = WireTopicManager([modern_broker.address])
    prod = WireProducer([modern_broker.address], compression="gzip")
    cons = WireConsumer([modern_broker.address])
    try:
        assert prod.versions[API_PRODUCE] >= FLEXIBLE_SINCE[API_PRODUCE]
        tm.ensure_stream_exists("mgz", 1)
        for i in range(5):
            prod.emit("mgz", f"k{i}", (f"v{i}" * 40).encode(),
                      partition=0)
        modern_broker.fetch_codec = CODEC_GZIP
        got = cons.fetch("mgz", 0, 1)
        assert [(r.offset, r.value) for r in got] == \
            [(i, (f"v{i}" * 40).encode()) for i in range(1, 5)]
        assert tm.get_offset("mgz", 0, OFFSET_NEWEST) == 5
    finally:
        modern_broker.fetch_codec = 0
        cons.close()
        prod.close()
        tm.close()
