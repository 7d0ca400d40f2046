"""View semantics (mirrors view_test.go Get/Has/Iterator/Range)."""

import json
import os
import sys
import threading
import time

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from goka_spark import AggFold, Processor, View, define_group, input_stream, persist
from goka_spark.streaming.runtime import StreamingProcessor, stream_from_dir


def _table(spark):
    return spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "key string, cnt long"
    )


def test_get_has(spark):
    v = View(_table(spark))
    assert v.get("b") == {"cnt": 2}
    assert v.get("zz") is None
    assert v.has("a")
    assert not v.has("zz")


def test_iterator_sorted(spark):
    v = View(_table(spark))
    assert [k for k, _ in v.iterator()] == ["a", "b", "c", "d"]


def test_iterator_range(spark):
    v = View(_table(spark))
    got = list(v.iterator_range("b", "d"))
    assert got == [("b", {"cnt": 2}), ("c", {"cnt": 3})]


def test_evict(spark):
    v = View(_table(spark)).evict("a")
    assert not v.has("a")
    assert v.has("b")


def test_seek(spark):
    """Iterator.Seek (view_test.go / storage/iterator.go:43): first
    key >= seek, then forward scan to the end."""
    v = View(_table(spark))
    assert list(v.seek("b")) == [
        ("b", {"cnt": 2}), ("c", {"cnt": 3}), ("d", {"cnt": 4})]
    # seek between keys lands on the next one
    assert [k for k, _ in v.seek("bb")] == ["c", "d"]
    # seek past the end is an empty cursor
    assert list(v.seek("zz")) == []


# -- snapshot replica: parity with the DataFrame, no job per read ------

VALUE_TYPES = [("n", pa.int64()), ("s", pa.struct([
    ("a", pa.int32()), ("tags", pa.list_(pa.string())),
    ("m", pa.map_(pa.string(), pa.int64()))]))]
# few symbols, so keys share prefixes and repeat; é/中/😀 make the
# UTF-8 byte order (Spark's) and the code-point order (Python's) meet
STR_KEYS = st.lists(st.sampled_from(["a", "b", "é", "中", "😀", "Z"]),
                    max_size=3).map("".join)
INT_KEYS = st.one_of(st.integers(-3, 3), st.integers(-2**63, 2**63 - 1))
KEY_TYPES = {"string": (pa.string(), STR_KEYS), "bigint": (pa.int64(), INT_KEYS)}
VALUES = st.tuples(
    st.one_of(st.none(), st.integers(-2**63, 2**63 - 1)),
    st.one_of(st.none(), st.tuples(
        st.integers(-2**31, 2**31 - 1),
        st.lists(st.one_of(st.none(), STR_KEYS), max_size=3),
        st.dictionaries(STR_KEYS, st.integers(-9, 9), max_size=3))))


@st.composite
def tables(draw):
    key_type = draw(st.sampled_from(sorted(KEY_TYPES)))
    keys = KEY_TYPES[key_type][1]
    key_or_null = st.one_of(st.none(), keys)
    rows = draw(st.lists(st.tuples(key_or_null, VALUES), max_size=12))
    known = [k for k, _ in rows if k is not None]
    probe = st.sampled_from(known) | keys if known else keys
    return (key_type, rows, draw(st.lists(probe, min_size=3, max_size=3)),
            draw(st.tuples(probe, st.one_of(st.none(), probe))))


def _canon(items):
    """(key, state) pairs -> key order plus, per key, the multiset of
    states (Spark orders duplicate keys arbitrarily)."""
    items = list(items)
    keys = [k for k, _ in items]
    groups: dict = {}
    for k, d in items:
        groups.setdefault(k, []).append(json.dumps(d, sort_keys=True))
    return keys, {k: sorted(v) for k, v in groups.items()}


def _frame(spark, key_type, rows):
    """An Arrow-built frame: a LocalRelation keeps each example to
    milliseconds, where a list-built one runs Python workers."""
    vals = [v for _, v in rows]
    key_type = KEY_TYPES[key_type][0]
    cols = [pa.array([k for k, _ in rows], key_type),
            pa.array([n for n, _ in vals], VALUE_TYPES[0][1]),
            pa.array([None if s is None else {"a": s[0], "tags": s[1], "m": list(s[2].items())}
                      for _, s in vals], VALUE_TYPES[1][1])]
    return spark.createDataFrame(pa.table(cols, schema=pa.schema([("key", key_type), *VALUE_TYPES])))


def _frame_answers(df, queries):
    """Every query's ``(key, state)`` rows from ONE Spark job: the
    filters are tagged, unioned and sorted by (tag, key)."""
    tagged = [df.filter(cond).withColumn("_q", F.lit(tag)) for tag, cond in queries]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    out: dict = {tag: [] for tag, _ in queries}
    for r in union.orderBy("_q", "key").collect():
        d = r.asDict(recursive=True)
        out[d.pop("_q")].append((d.pop("key"), d))
    return out


@given(tables())
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_snapshot_matches_dataframe(spark, table):
    """get/has/iterator/iterator_range/seek from the snapshot equal the
    DataFrame's own filter/orderBy answers: null keys first and never
    matched, duplicate keys all present, non-ASCII and prefix-sharing
    strings, bigint extremes, nested values."""
    key_type, rows, probes, (start, limit) = table
    df = _frame(spark, key_type, rows)
    key = F.col("key")
    ranged = key >= F.lit(start)
    want = _frame_answers(df, [
        ("all", F.lit(True)), ("seek", ranged),
        ("range", ranged if limit is None else ranged & (key < F.lit(limit))),
        *((f"get{i}", key == F.lit(p)) for i, p in enumerate(probes))])
    v = View(df)
    assert _canon(v.iterator()) == _canon(want["all"])
    assert _canon(v.seek(start)) == _canon(want["seek"])
    assert _canon(v.iterator_range(start, limit)) == _canon(want["range"])
    for i, p in enumerate(probes):
        states = [json.dumps(d, sort_keys=True) for _, d in want[f"get{i}"]]
        got = v.get(p)
        assert (got is None) if not states else json.dumps(got, sort_keys=True) in states
        assert v.has(p) == bool(states)


def test_null_probes_match_nothing(spark):
    df = spark.createDataFrame([(None, 1), ("a", 2)], "key string, cnt long")
    v = View(df)
    assert v.get(None) is None and not v.has(None)
    assert list(v.iterator_range(None, "b")) == []
    assert list(v.seek(None)) == []
    assert list(v.iterator()) == [(None, {"cnt": 1}), ("a", {"cnt": 2})]


def test_float_keys_order_nan_last(spark):
    """Spark's NaN is one value above +inf; the snapshot agrees."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame([(nan, 1), (inf, 2), (-0.0, 3), (None, 4), (1.5, 5)],
                               "key double, cnt long")
    v = View(df)
    assert [d["cnt"] for _, d in v.iterator()] == \
        [r.cnt for r in df.orderBy("key").collect()] == [4, 3, 5, 2, 1]
    assert v.get(float("nan")) == {"cnt": 1}
    assert v.get(0.0) == {"cnt": 3}
    assert [d["cnt"] for _, d in v.seek(inf)] == [2, 1]


def test_binary_keys(spark):
    """Rows carry binary keys as (unhashable) bytearray; bytes probes
    match and order as Spark's unsigned byte order."""
    df = spark.createDataFrame([(b"\xff", 1), (b"a", 2), (b"", 3)], "key binary, cnt long")
    v = View(df)
    assert v.get(b"\xff") == {"cnt": 1} and not v.has(b"b")
    assert [d["cnt"] for _, d in v.iterator()] == [3, 2, 1]
    assert [d["cnt"] for _, d in v.iterator_range(b"a", b"\xff")] == [2]


class _CountingTable:
    """Stands in for a DataFrame: counts collects, and is slow to
    answer so concurrent first reads overlap."""

    def __init__(self, rows):
        self.rows, self.collects = rows, 0
        self.schema = StructType([StructField("key", StringType()),
                                  StructField("cnt", LongType())])

    def collect(self):
        self.collects += 1
        time.sleep(0.05)
        return [Row(key=k, cnt=c) for k, c in self.rows]


def test_concurrent_first_reads_take_one_snapshot():
    """Readers racing on a fresh View (the threaded MonitorServer case)
    share one collect and all see the same answers."""
    n = 4 * os.cpu_count()
    table = _CountingTable([(str(i), i) for i in range(n)])
    v = View(table)
    got, interval = [], sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda i=i: got.append(v.get(str(i))))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert table.collects == 1
    assert sorted(d["cnt"] for d in got) == list(range(n))


def test_get_returns_fresh_dicts(spark):
    df = spark.createDataFrame([("a", [1, 2])], "key string, xs array<int>")
    v = View(df)
    v.get("a")["xs"].append(3)
    assert v.get("a") == {"xs": [1, 2]}


def _jobs_in_group(sc, group):
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_after_the_first_run_no_spark_job(spark):
    """The first read collects once; every later get/has/range/seek/
    iterator is served on the driver."""
    sc = spark.sparkContext
    v = View(_table(spark))
    try:
        sc.setJobGroup("view-snapshot", "first read")
        assert v.get("a") == {"cnt": 1}
        sc.setJobGroup("view-reads", "later reads")
        assert v.get("c") == {"cnt": 3} and v.has("d") and not v.has("zz")
        assert len(list(v.iterator_range("b", "d"))) == 2
        assert len(list(v.seek("b"))) == 3 and len(list(v.iterator())) == 4
        # status events arrive in order: once this job shows, any job
        # the reads above ran would show too
        sc.setJobGroup("view-sentinel", "sentinel")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while _jobs_in_group(sc, "view-sentinel") == 0 and time.time() < deadline:
        time.sleep(0.05)
    assert _jobs_in_group(sc, "view-snapshot") >= 1
    assert _jobs_in_group(sc, "view-reads") == 0


def test_processor_result_memoizes_view(spark):
    g = define_group("memo", input_stream("t"), persist(AggFold({"cnt": F.count("*")})))
    r = Processor(g).run({"t": _table(spark)})
    assert r.view() is r.view()
    assert r.view().get("b") == {"cnt": 1}


def test_memory_sink_fresh_view_follows_held_view_keeps_snapshot(spark, tmp_path):
    """A View is a replica as of its first read: after a new batch a
    fresh View over the live table sees it, the held one does not."""
    schema = "key string, value double"
    src = str(tmp_path / "topic")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    write([("a", 1.0), ("a", 2.0), ("b", 3.0)])
    g = define_group("snap", input_stream("t"), persist(AggFold({"cnt": F.count("*")})))
    q = StreamingProcessor(g).start_table(
        {"t": stream_from_dir(spark, src, schema)},
        queryName="view_snap", checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        held = View(spark.table("view_snap"))
        assert held.get("a") == {"cnt": 2}
        write([("a", 4.0), ("c", 5.0)])
        q.processAllAvailable()
        fresh = View(spark.table("view_snap"))
        assert fresh.get("a") == {"cnt": 3} and fresh.has("c")
        assert held.get("a") == {"cnt": 2} and not held.has("c")
    finally:
        q.stop()
