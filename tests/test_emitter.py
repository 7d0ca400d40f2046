"""Emitter semantics (mirrors emitter_test.go)."""

import datetime
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from goka_spark import (BytesCodec, Emitter, Int64Codec, JsonCodec, SchemaRegistryCodec,
                        StringCodec)
from goka_spark.codecs import Codec
from goka_spark.streaming.runtime import stream_from_dir


def test_emit_buffered_then_finish(spark, tmp_path):
    path = str(tmp_path / "topic")
    em = Emitter(spark, path, codec=Int64Codec())
    em.emit("a", 1)
    em.emit("b", 2)
    assert not em.exists()  # nothing flushed yet (async Emit semantics)
    em.finish()
    got = {r.key: r.value for r in em.read().collect()}
    assert got == {"a": 1, "b": 2}


def test_emit_sync_immediate(spark, tmp_path):
    path = str(tmp_path / "topic")
    em = Emitter(spark, path, codec=Int64Codec())
    em.emit_sync("k", 9)
    assert em.read().count() == 1


def test_emit_dataframe_append(spark, tmp_path):
    path = str(tmp_path / "topic")
    em = Emitter(spark, path)
    df = spark.createDataFrame([("a", 1.0)], "key string, value double")
    em.emit_dataframe(df)
    em.emit_dataframe(df)
    assert em.read().count() == 2


def test_emit_with_headers_roundtrip(spark, tmp_path):
    """EmitWithHeaders (emitter.go:60) → headers ride the topic schema
    as map<string,binary> (headers.go:8) and read back natively."""
    from pyspark.sql import functions as F

    from goka_spark.headers import header_long, header_string

    path = str(tmp_path / "topic")
    em = Emitter(spark, path, codec=Int64Codec())
    em.emit("a", 1, headers={"trace": b"t-123", "n": b"7"})
    em.emit("b", 2)  # headerless record in the same flush → NULL map
    em.finish()
    got = {r.key: (r.trace, r.n) for r in em.read().select(
        "key",
        header_string("trace").alias("trace"),
        header_long("n").alias("n"),
    ).collect()}
    assert got == {"a": ("t-123", 7), "b": (None, None)}
    assert dict(em.read().dtypes)["headers"] == "map<string,binary>"


def test_emitter_default_headers_merge(spark, tmp_path):
    """goka WithEmitterDefaultHeaders (options.go:625): defaults attach
    to every emit; per-emit headers win on key collision."""
    from goka_spark.operators.emitter import Emitter

    em = Emitter(spark, str(tmp_path / "t"),
                 default_headers={"src": b"emitter", "v": b"1"})
    em.emit("a", "x")
    em.emit("b", "y", headers={"v": b"2"})
    em.finish()
    got = {r.key: dict(r.headers) for r in em.read().collect()}
    assert got["a"] == {"src": b"emitter", "v": b"1"}
    assert got["b"] == {"src": b"emitter", "v": b"2"}


def test_emit_after_finish_rejected(spark, tmp_path):
    """errors.go:11 ErrEmitterAlreadyClosed / emitter.go:79: Finish
    closes — later emits raise; EmitSync only flushes and leaves the
    emitter usable (matching the Go API split)."""
    import pytest

    from goka_spark.operators.emitter import EmitterAlreadyClosedError

    em = Emitter(spark, str(tmp_path / "topic"), codec=Int64Codec())
    em.emit_sync("a", 1)
    em.emit_sync("b", 2)                 # EmitSync does not close
    em.finish()
    with pytest.raises(EmitterAlreadyClosedError):
        em.emit("c", 3)
    with pytest.raises(EmitterAlreadyClosedError):
        em.emit_sync("d", 4)
    got = {r.key: r.value for r in em.read().collect()}
    assert got == {"a": 1, "b": 2}


# ---------------------------------------------- driver-built flush file

_DOC = ("name string, tags array<string>, attrs map<string,bigint>, "
        "inner struct<x:double,ys:array<int>>")


class _TimestampCodec(Codec):
    """A user codec whose values are datetimes (naive = local time)."""

    spark_type = T.TimestampType()

    def encode(self, value):
        return value.isoformat().encode()

    def decode(self, data):
        return datetime.datetime.fromisoformat(data.decode())


_UTC = datetime.timezone.utc
_CASES = {
    "bytes": (BytesCodec, [b"", b"\x00\xff", b"abc"]),
    "string": (StringCodec, ["", "héllo", "x" * 50]),
    "int64": (Int64Codec, [-(2**63), 0, 2**63 - 1]),
    "json": (lambda: JsonCodec(_DOC), [
        {"name": "a", "tags": ["x", "y"], "attrs": {"k": 1, "l": -2},
         "inner": {"x": 1.5, "ys": [1, None, 3]}},
        {"name": None, "tags": [], "attrs": {}, "inner": None},
        None]),
    "schema_registry": (lambda: SchemaRegistryCodec(7, JsonCodec(_DOC)), [
        {"name": "b", "tags": None, "attrs": {"z": 0},
         "inner": {"x": -0.0, "ys": []}},
        {"name": "ü", "tags": ["t"], "attrs": None, "inner": {"x": None, "ys": None}},
        None]),
    "timestamp": (_TimestampCodec, [
        datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
        datetime.datetime(1969, 12, 31, 23, 0, 0, 1, tzinfo=_UTC),
        datetime.datetime(2001, 1, 1, tzinfo=_UTC)]),
}
_HEADERS = [{"trace": b"t-1", "n": b"7"}, None, {}]


def _spark_written(spark, path, codec, rows):
    """The topic file Spark's own writer makes for ``rows``."""
    schema = f"key string, value {codec.spark_type.simpleString()}"
    if any(len(r) == 3 and r[2] is not None for r in rows):
        schema += ", headers map<string,binary>"
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def _part_files(path):
    return sorted(n for n in os.listdir(path)
                  if n.startswith("part-") and n.endswith(".parquet"))


@pytest.mark.parametrize("with_headers", [False, True], ids=["plain", "headers"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_flush_matches_spark_writer(spark, tmp_path, case, with_headers):
    """A flush reads back with the same schema and rows as the topic
    Spark's writer makes from the same records."""
    make, values = _CASES[case]
    codec = make()
    em = Emitter(spark, str(tmp_path / "topic"), codec=codec)
    rows = []
    for i, v in enumerate(values):
        h = _HEADERS[i % len(_HEADERS)] if with_headers else None
        em.emit(f"k{i}", v, headers=h)
        rows.append((f"k{i}", v, h) if with_headers else (f"k{i}", v))
    em.flush()
    want = _spark_written(spark, str(tmp_path / "ref"), codec, rows)
    got = em.read()
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    if case == "timestamp":
        (name,) = _part_files(str(tmp_path / "topic"))
        unit = pq.read_schema(str(tmp_path / "topic" / name)).field("value").type.unit
        assert unit == "us"


def test_one_file_per_flush(spark, tmp_path):
    path = str(tmp_path / "topic")
    em = Emitter(spark, path, codec=Int64Codec())
    for i in range(1, 4):
        for j in range(i * 40):
            em.emit(f"{i}-{j}", j)
        em.flush()
        assert len(_part_files(path)) == i
        assert not [n for n in os.listdir(path) if n.endswith(".parquet")
                    and not n.startswith("part-")]
    assert em.read().count() == 40 + 80 + 120


def test_failed_flush_changes_nothing(spark, tmp_path):
    """A value outside its codec type fails the flush before anything
    is written; the buffer is kept, and a later valid flush lands."""
    path = str(tmp_path / "topic")
    em = Emitter(spark, path, codec=JsonCodec("bigint"))
    em.emit_sync("a", 1)
    em.emit("b", 2)
    em.emit("c", 2**63)  # one past int64
    buffered, listed = list(em._buffer), sorted(os.listdir(path))
    with pytest.raises((OverflowError, pa.ArrowException)):
        em.flush()
    assert em._buffer == buffered
    assert sorted(os.listdir(path)) == listed
    em._buffer.pop()
    em.flush()
    assert {r.key: r.value for r in em.read().collect()} == {"a": 1, "b": 2}
    assert len(_part_files(path)) == 2


def test_exists_on_uri_topic(spark, tmp_path):
    """exists() resolves the topic's filesystem from its URI."""
    uri = (tmp_path / "topic").as_uri()
    assert uri.startswith("file:///")
    em = Emitter(spark, uri, codec=Int64Codec())
    em.emit("a", 1)
    assert not em.exists()
    em.flush()
    assert {r.key: r.value for r in em.read().collect()} == {"a": 1}
    assert em.exists()


def _jobs_in_group(sc, group):
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_flush_runs_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    em = Emitter(spark, str(tmp_path / "topic"), codec=JsonCodec("ts bigint, v double"))
    try:
        sc.setJobGroup("emitter-flush", "flushes")
        for i in range(3):
            for j in range(100):
                em.emit(str(j), {"ts": i * 100 + j, "v": j / 3})
            em.flush()
        # status events arrive in order: once this job shows, any job
        # the flushes above ran would show too
        sc.setJobGroup("emitter-sentinel", "sentinel")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while _jobs_in_group(sc, "emitter-sentinel") == 0 and time.time() < deadline:
        time.sleep(0.05)
    assert _jobs_in_group(sc, "emitter-sentinel") == 1
    assert _jobs_in_group(sc, "emitter-flush") == 0
    assert em.read().count() == 300


@pytest.mark.parametrize("max_files", [1, 100_000])
def test_stream_sees_each_flush_as_one_batch(spark, tmp_path, max_files):
    """A file-source stream over the topic takes each flush as exactly
    one micro-batch of that flush's rows."""
    path = str(tmp_path / "topic")
    em = Emitter(spark, path, codec=Int64Codec())
    sizes = [250, 1, 77, 500]
    em.emit_sync("first", 0)
    q = (stream_from_dir(spark, path, "key string, value bigint", max_files=max_files)
         .writeStream.queryName(f"emitter_batches_{max_files}").format("memory")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
        for i, n in enumerate(sizes):
            for j in range(n):
                em.emit(f"{i}-{j}", j)
            em.flush()
            q.processAllAvailable()
        rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert rows == [1] + sizes
    assert spark.table(f"emitter_batches_{max_files}").count() == 1 + sum(sizes)
