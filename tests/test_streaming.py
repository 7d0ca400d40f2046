"""Streaming runtime tests (A19/A20): live counter graph, custom
stateful fold, exactly-once sink replay."""

import time

import pandas as pd
from pyspark.sql import functions as F

from goka_spark import AggFold, define_group, input_stream, persist
from goka_spark.streaming.runtime import (
    ExactlyOnceBatchSink,
    StreamingProcessor,
    stream_from_dir,
)
from goka_spark.streaming.stateful import stateful_fold

SCHEMA = "key string, ts timestamp, value double"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(n0, n1, key):
    import datetime as dt

    return [(key, dt.datetime(2024, 1, 1, 0, i), float(i)) for i in range(n0, n1)]


def test_streaming_counter_graph(spark, tmp_path):
    """A19: the 1-simplest counter as a live stream — two micro-batches
    arrive, the group table converges to the batch answer."""
    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 3, "a") + _rows(0, 2, "b"))

    g = define_group("live", input_stream("t"),
                     persist(AggFold({"cnt": F.count("*")})))
    sp = StreamingProcessor(g)
    q = sp.start_table(
        {"t": stream_from_dir(spark, src, SCHEMA)},
        queryName="live_counts",
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(3, 5, "a"))
        q.processAllAvailable()
        got = {r.key: r.cnt for r in spark.sql("select * from live_counts").collect()}
        assert got == {"a": 5, "b": 2}
    finally:
        q.stop()


def test_stateful_fold_stream(spark, tmp_path):
    """PyFold-style imperative state across micro-batches."""
    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 3, "a"))

    def cb(state, row):
        return (state or 0.0) + row["value"]

    stream = stream_from_dir(spark, src, SCHEMA)
    folded = stateful_fold(stream, "key", cb, "total double",
                           order_by=["ts"])
    q = (folded.writeStream.queryName("fold_out").outputMode("update")
         .format("memory")
         .option("checkpointLocation", str(tmp_path / "ckpt2")).start())
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(3, 5, "a"))
        q.processAllAvailable()
        rows = spark.sql("select * from fold_out").collect()
        # update mode: last emitted row for 'a' has the full running sum
        assert max(r.total for r in rows if r.key == "a") == sum(range(5))
    finally:
        q.stop()


def test_exactly_once_sink_replay(spark, tmp_path):
    """A20 DeferCommit: replaying an epoch must not duplicate writes."""
    sink = ExactlyOnceBatchSink(str(tmp_path / "out"))
    df = spark.createDataFrame([("k", 1.0)], "key string, v double")
    sink(df, epoch_id=0)
    sink(df, epoch_id=0)  # replay after simulated crash
    sink(df, epoch_id=1)
    got = spark.read.parquet(str(tmp_path / "out" / "data")).count()
    assert got == 2  # epochs 0 and 1, replay skipped


def test_streaming_output_edge(spark, tmp_path):
    """ctx.Emit on a live stream: output topic gets the filtered feed."""
    from goka_spark import output

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 4, "a"))
    g = define_group(
        "emits", input_stream("t", where=F.col("value") >= 2),
        output("big", transform=lambda df: df.select("key", "value")),
    )
    outs = StreamingProcessor(g).output_streams(
        {"t": stream_from_dir(spark, src, SCHEMA)})
    q = (outs["big"].writeStream.queryName("big_vals").outputMode("append")
         .format("memory")
         .option("checkpointLocation", str(tmp_path / "ckpt3")).start())
    try:
        q.processAllAvailable()
        vals = sorted(r.value for r in spark.sql("select * from big_vals").collect())
        assert vals == [2.0, 3.0]
    finally:
        q.stop()


def test_pyfold_graph_streams_via_state_store(spark, tmp_path):
    """A PyFold graph runs live through applyInPandasWithState with the
    same fold function the batch Processor uses."""
    from goka_spark import PyFold, define_group, input_stream, persist

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 3, "a"))

    def cb(state, row):
        return (state or 0.0) + row["value"]

    g = define_group("pf", input_stream("t"), persist(PyFold(
        func=cb, init=0.0, state_schema="total double",
        finish=lambda s: {"total": round(s, 3)})))
    q = StreamingProcessor(g).start_table(
        {"t": stream_from_dir(spark, src, SCHEMA)},
        queryName="pf_out", checkpoint=str(tmp_path / "ckpt4"))
    try:
        q.processAllAvailable()
        _write_batch(spark, src, _rows(3, 5, "a"))
        q.processAllAvailable()
        rows = spark.sql("select * from pf_out").collect()
        assert max(r.total for r in rows if r.key == "a") == sum(range(5))
    finally:
        q.stop()


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermarked tumbling window: an event arriving far behind the
    watermark is dropped from the (append-mode) window aggregation."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "topic")
    base = dt.datetime(2024, 1, 1)
    # batch 1: events up to 02:30 → watermark advances past 01:00+10m
    _write_batch(spark, src, [("a", base + dt.timedelta(hours=2, minutes=30), 1.0),
                              ("a", base + dt.timedelta(minutes=5), 1.0)])
    stream = stream_from_dir(spark, src, SCHEMA).withWatermark("ts", "10 minutes")
    agg = (stream.groupBy(F.window("ts", "1 hour"))
           .count()
           .select(F.unix_micros("window.start").alias("ws"), "count"))
    q = (agg.writeStream.queryName("wm").outputMode("append").format("memory")
         .option("checkpointLocation", str(tmp_path / "ckpt5")).start())
    try:
        q.processAllAvailable()
        # batch 2: a VERY late event for the 00:00 window (already closed)
        _write_batch(spark, src, [("a", base + dt.timedelta(minutes=6), 1.0)])
        q.processAllAvailable()
        got = {r.ws: r["count"] for r in spark.sql("select * from wm").collect()}
        h0 = int(base.timestamp() * 1e6)
        # the 00:00 window emitted with count=1; the late event never joined it
        assert got.get(h0) == 1
    finally:
        q.stop()


def test_exactly_once_sink_crash_between_data_and_ledger(spark, tmp_path):
    """ADVICE r1: a crash AFTER the data write but BEFORE the ledger
    update must not duplicate rows on replay — each epoch overwrites
    its own partition directory."""
    import os

    sink = ExactlyOnceBatchSink(str(tmp_path / "out"))
    df = spark.createDataFrame([("k", 1.0), ("k2", 2.0)], "key string, v double")
    sink(df, epoch_id=0)
    os.remove(sink._ledger)  # simulate crash before ledger commit
    sink(df, epoch_id=0)     # replay: overwrites epoch dir, no dupes
    sink(df, epoch_id=1)
    out = sink.read(spark)
    assert out.count() == 4  # 2 rows × epochs {0, 1}
    assert "epoch_id" not in out.columns


def test_batch_func_only_pyfold_rejected_in_streaming(spark, tmp_path):
    """ADVICE r1: batch_func-only PyFold cannot thread state across
    micro-batches — table_stream must fail loudly, not per-key at runtime."""
    import pytest
    from goka_spark import PyFold, define_group, input_stream, persist

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 2, "a"))
    g = define_group("bf", input_stream("t"), persist(PyFold(
        batch_func=lambda pdf: float(pdf["value"].sum()),
        state_schema="total double")))
    with pytest.raises(ValueError, match="row-level"):
        StreamingProcessor(g).table_stream(
            {"t": stream_from_dir(spark, src, SCHEMA)})


def test_stateful_fold_ttl_emits_final_state(spark, tmp_path):
    """ADVICE r1: a key idle past ttl emits its final state before being
    dropped (module docstring contract; goka table retention).

    ProcessingTimeTimeout makes the micro-batch engine schedule
    batches continuously to check timers (shouldRunAnotherBatch is
    always true), so ``processAllAvailable`` NEVER reports drained —
    poll the sink with a deadline instead.  No second input batch is
    needed: the timer batches self-trigger."""
    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 3, "a"))

    def cb(state, row):
        return (state or 0.0) + row["value"]

    stream = stream_from_dir(spark, src, SCHEMA)
    folded = stateful_fold(stream, "key", cb, "total double",
                           order_by=["ts"], ttl_ms=500)
    q = (folded.writeStream.queryName("ttl_out").outputMode("update")
         .format("memory").trigger(processingTime="250 milliseconds")
         .option("checkpointLocation", str(tmp_path / "ckpt_ttl")).start())
    try:
        deadline = time.time() + 120
        a_rows = []
        while time.time() < deadline:
            a_rows = [r.total for r in
                      spark.sql("select * from ttl_out").collect()
                      if r.key == "a"]
            if a_rows.count(3.0) >= 2:
                break
            time.sleep(0.5)
        # the data batch emitted a=3.0; the ttl timeout emitted the
        # SAME final state once more before dropping the key
        assert a_rows.count(3.0) == 2
    finally:
        q.stop()


def test_visit_all_live_keys(spark, tmp_path):
    """goka VisitAllWithStats (processor.go:954, examples/10-visit):
    enumerate every live key + state of a RUNNING stateful query via
    the statestore reader — no pause, distributed read."""
    from goka_spark.streaming.stateful import visit_all_live

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 3, "a") + _rows(0, 2, "b"))
    folded = stateful_fold(
        stream_from_dir(spark, src, SCHEMA), "key",
        lambda s, r: (s or 0.0) + r["value"], "total double",
        order_by=["ts"])
    ck = str(tmp_path / "ckpt_visit")
    q = (folded.writeStream.queryName("visit_out").outputMode("update")
         .format("memory").option("checkpointLocation", ck).start())
    try:
        q.processAllAvailable()
        visited = {r.key: r.total for r in
                   visit_all_live(spark, ck, "key", "total double").collect()}
        assert visited == {"a": 3.0, "b": 1.0}
        # state moves on → a later visit sees the new values
        _write_batch(spark, src, _rows(3, 5, "a"))
        q.processAllAvailable()
        visited = {r.key: r.total for r in
                   visit_all_live(spark, ck, "key", "total double").collect()}
        assert visited == {"a": 10.0, "b": 1.0}
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream windowed join — BEYOND goka's surface (ctx.Join
    only reaches a co-partitioned TABLE; reference context.go:305):
    Structured Streaming joins two live streams directly, with
    watermarks bounding both sides' state.  Each purchase joins the
    clicks of the same user within the preceding 30 minutes."""
    import datetime as dt

    clicks_src = str(tmp_path / "clicks")
    buys_src = str(tmp_path / "buys")
    t0 = dt.datetime(2024, 1, 1)

    def w(path, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(path)

    w(clicks_src, [("u1", t0 + dt.timedelta(minutes=m), float(m))
                   for m in (0, 10, 50)])
    w(buys_src, [("u1", t0 + dt.timedelta(minutes=20), 99.0),
                 ("u2", t0 + dt.timedelta(minutes=20), 7.0)])

    clicks = (stream_from_dir(spark, clicks_src, SCHEMA)
              .withWatermark("ts", "1 hour")
              .selectExpr("key", "ts AS click_ts", "value AS click_v"))
    buys = (stream_from_dir(spark, buys_src, SCHEMA)
            .withWatermark("ts", "1 hour")
            .selectExpr("key", "ts AS buy_ts"))
    joined = (
        buys.join(
            clicks,
            (clicks.key == buys.key)
            & (clicks.click_ts <= buys.buy_ts)
            & (clicks.click_ts > buys.buy_ts - F.expr("INTERVAL 30 MINUTES")))
        .select(buys.key.alias("buyer"), "click_v")
    )
    q = (joined.writeStream.format("memory").queryName("ss_join")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got = sorted((r.buyer, r.click_v) for r in
                     spark.sql("select * from ss_join").collect())
        # u1's buy at :20 reaches back 30m: clicks at :00 and :10 are
        # inside, :50 is after the buy → excluded; u2 has no clicks
        assert got == [("u1", 0.0), ("u1", 10.0)]
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup — the live twin of the batch event_dedup_window
    query: duplicate keys arriving within the watermark horizon are
    dropped with BOUNDED state (goka users hand-roll this with a
    seen-set in the group table; Spark keys the state store and
    expires it at the watermark)."""
    import datetime as dt

    src = str(tmp_path / "topic")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("a", t0, 1.0), ("a", t0 + dt.timedelta(seconds=30), 2.0),
         ("b", t0, 3.0)], SCHEMA).coalesce(1).write.mode("append").parquet(src)

    deduped = (stream_from_dir(spark, src, SCHEMA)
               .withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["key"]))
    q = (deduped.writeStream.format("memory").queryName("dedup_live")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        # second batch: a duplicate inside the horizon + a fresh key
        spark.createDataFrame(
            [("a", t0 + dt.timedelta(minutes=1), 9.0),
             ("c", t0 + dt.timedelta(minutes=1), 4.0)],
            SCHEMA).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r.key: r.value for r in
               spark.sql("select * from dedup_live").collect()}
        assert set(got) == {"a", "b", "c"}
        assert got["a"] == 1.0  # first arrival wins; later dups dropped
    finally:
        q.stop()


def test_exactly_once_ledger_watermark_compacts(spark, tmp_path):
    """The ledger stays O(1): in-order epochs fold into the high
    watermark (empty sparse set); a gap parks epochs in the sparse
    set until the missing one lands; the v1 list format still loads."""
    import json
    import os

    sink = ExactlyOnceBatchSink(str(tmp_path / "out"))
    df = spark.createDataFrame([("a", 1)], "key string, v long")
    for e in (0, 1, 2):
        sink(df, e)
    with open(sink._ledger) as f:
        obj = json.load(f)
    assert obj == {"hw": 2, "sparse": []}

    sink(df, 5)  # out-of-order commit parks above the watermark
    with open(sink._ledger) as f:
        obj = json.load(f)
    assert obj == {"hw": 2, "sparse": [5]}
    assert sink._committed() == {0, 1, 2, 5}

    for e in (3, 4):
        sink(df, e)
    with open(sink._ledger) as f:
        obj = json.load(f)
    assert obj == {"hw": 5, "sparse": []}  # gap filled -> drained

    # v1 plain-list ledgers (pre-compaction format) keep working.
    # Simulate a genuine v1 upgrade: the old code wrote with plain
    # open() and never produced a Hadoop .crc sidecar — drop the one
    # the FS-written ledger left, or LocalFS checksum-fails the read.
    with open(sink._ledger, "w") as f:
        json.dump([0, 1, 2, 7], f)
    crc = tmp_path / "out" / "._committed_epochs.json.crc"
    if crc.exists():
        os.remove(crc)
    assert sink._committed() == {0, 1, 2, 7}
    sink(df, 8)
    with open(sink._ledger) as f:
        obj = json.load(f)
    assert obj == {"hw": 2, "sparse": [7, 8]}


def test_exactly_once_sink_file_uri(spark, tmp_path):
    """The ledger path may be any Hadoop-FS URI — drive the sink
    through an explicit ``file:`` URI so the test exercises the same
    FileSystem-API code path an HDFS/S3A deployment hits (no plain
    open()/os.rename fallbacks left)."""
    sink = ExactlyOnceBatchSink(f"file:{tmp_path}/out")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "key string, v long")
    for e in (0, 1, 1, 2, 2):  # replays are no-ops
        sink(df, e)
    assert sink._committed() == {0, 1, 2}
    assert sink.read(spark).count() == 6  # 2 rows x 3 distinct epochs


def test_streaming_session_window_merges_across_batches(spark, tmp_path):
    """Streaming SESSION windows (stateful merging windows): a
    session split across two micro-batches merges into one, and the
    closed sessions equal the batch ``W.session`` over the same rows.
    Watermark advances via a late flush key so append mode emits."""
    import datetime as dt

    from goka_spark.operators import windows as W

    def ev(key, second, v=1):
        return (key, dt.datetime(2026, 1, 1, 10, 0, 0)
                + dt.timedelta(seconds=second), v)

    schema = "key string, ts timestamp, v long"
    src = str(tmp_path / "sess_topic")
    batch1 = [ev("a", 0), ev("a", 30), ev("b", 10)]
    batch2 = [ev("a", 60), ev("flush", 30 * 60)]
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = stream_from_dir(spark, src, schema).withWatermark("ts", "10 seconds")
    agg = (stream.groupBy(F.session_window("ts", "1 minute"), "key")
           .agg(F.count("*").alias("cnt"))
           .select("key",
                   F.unix_micros(F.col("session_window.start"))
                   .alias("start"), "cnt"))
    q = (agg.writeStream.format("memory").queryName("sess_live")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        live = {(r.key, r.start): r.cnt
                for r in spark.sql("select * from sess_live").collect()}
    finally:
        q.stop()

    # the a-session spanning both micro-batches merged: one session
    # of 3 events ending 60s after the last event
    ref_rows = batch1 + batch2
    ref = {(r["key"], r["start"]): r["cnt"]
           for r in W.session(
               spark.createDataFrame(ref_rows, schema), "ts", "1 minute",
               ["key"], {"cnt": F.count("*")})
           .select("key", F.col("session_start_us").alias("start"),
                   "cnt").collect()}
    closed = {k: v for k, v in ref.items() if k[0] != "flush"}
    assert {k: v for k, v in live.items() if k[0] != "flush"} == closed
    a_sessions = [k for k in live if k[0] == "a"]
    assert len(a_sessions) == 1 and live[a_sessions[0]] == 3


def test_view_state_lifecycle_catchup_to_running(spark, tmp_path):
    """View lifecycle parity (reference view.go:449 CurrentState /
    :475 ObserveStateChanges / :431 Recovered): a live query walks
    Idle → Initializing → CatchUp → Running; recovered() latches at
    Running; observers see the transitions ON A CHANNEL in order;
    a clean stop returns to Idle.  Surfaced over HTTP via
    MonitorServer.attach_view_state."""
    import json as _json
    import urllib.request

    from goka_spark.streaming.runtime import (
        VIEW_STATE_CATCHUP,
        VIEW_STATE_IDLE,
        VIEW_STATE_INITIALIZING,
        VIEW_STATE_RUNNING,
        ViewStateTracker,
    )
    from goka_spark.web import MonitorServer

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 4, "a"))

    tracker = ViewStateTracker("view_state_q").attach(spark)
    assert tracker.current_state() == VIEW_STATE_IDLE
    assert not tracker.recovered()
    obs = tracker.observe_state_changes()

    web = MonitorServer().start()
    web.attach_view_state("clicks-view", tracker)

    g = define_group("vsl", input_stream("t"),
                     persist(AggFold({"cnt": F.count("*")})))
    q = StreamingProcessor(g).start_table(
        {"t": stream_from_dir(spark, src, SCHEMA)},
        queryName="view_state_q",
        checkpoint=str(tmp_path / "ckpt_vs"),
    )
    try:
        q.processAllAvailable()
        # WaitRunning (view.go:104): the no-data microbatch after the
        # backlog flips the tracker to Running
        assert tracker.wait_running(timeout=60), tracker.current_state()
        assert tracker.recovered()

        # the observer channel saw the walk in order, no duplicates
        seen = []
        while len(seen) < 3:
            seen.append(obs.C.get(timeout=30))
        assert seen == [VIEW_STATE_INITIALIZING, VIEW_STATE_CATCHUP,
                        VIEW_STATE_RUNNING]

        # health-check surface: the poll shape CurrentState documents
        with urllib.request.urlopen(
                f"{web.address}/data/view-state/clicks-view") as r:
            body = _json.load(r)
        assert body == {"state": "Running", "state_id": 4,
                        "recovered": True}

        # late arrivals put the view back into CatchUp, then Running
        _write_batch(spark, src, _rows(4, 6, "a"))
        q.processAllAvailable()
        assert tracker.wait_running(timeout=60)
        assert obs.C.get(timeout=30) == VIEW_STATE_CATCHUP
        assert obs.C.get(timeout=30) == VIEW_STATE_RUNNING
    finally:
        obs.stop()
        q.stop()
        web.stop()
    assert tracker.wait_for_state(VIEW_STATE_IDLE, timeout=60)
    assert not tracker.recovered()
    tracker.detach(spark)


def test_view_state_connecting_on_query_failure(spark, tmp_path):
    """A query that dies with an exception leaves the tracker in
    Connecting (the checkpoint-restart analog of goka's reconnect
    loop), and a restarted query walks back to Running — goka's
    view outage lifecycle."""
    from goka_spark.streaming.runtime import (
        VIEW_STATE_CONNECTING,
        ViewStateTracker,
    )

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 3, "a"))

    tracker = ViewStateTracker("vs_crash_q").attach(spark)

    def boom(batch_df, epoch_id):
        raise RuntimeError("injected sink failure")

    q = (stream_from_dir(spark, src, SCHEMA)
         .writeStream.queryName("vs_crash_q")
         .option("checkpointLocation", str(tmp_path / "ckpt_crash"))
         .foreachBatch(boom).start())
    try:
        q.awaitTermination(60)
    except Exception:
        pass  # the injected failure surfaces here — expected
    assert tracker.wait_for_state(VIEW_STATE_CONNECTING, timeout=60), \
        tracker.current_state()
    assert not tracker.recovered()

    # recovery: same checkpoint, healthy sink → CatchUp → Running
    q2 = (stream_from_dir(spark, src, SCHEMA)
          .writeStream.queryName("vs_crash_q")
          .option("checkpointLocation", str(tmp_path / "ckpt_crash"))
          .foreachBatch(lambda df, eid: None).start())
    try:
        q2.processAllAvailable()
        assert tracker.wait_running(timeout=60), tracker.current_state()
        assert tracker.recovered()
    finally:
        q2.stop()
        tracker.detach(spark)


def test_view_stats_endpoint_with_live_query(spark, tmp_path):
    """View.Stats parity (view.go:481 Stats → stats.go TableStats/
    InputStats): attaching the live query alongside the tracker makes
    /data/view-state/{name} carry the progress-derived input stats."""
    import json as _json
    import urllib.request

    from goka_spark.stats import view_stats
    from goka_spark.streaming.runtime import ViewStateTracker
    from goka_spark.web import MonitorServer

    src = str(tmp_path / "topic")
    _write_batch(spark, src, _rows(0, 6, "a"))

    tracker = ViewStateTracker("vstats_q").attach(spark)
    web = MonitorServer().start()
    g = define_group("vstats", input_stream("t"),
                     persist(AggFold({"cnt": F.count("*")})))
    q = StreamingProcessor(g).start_table(
        {"t": stream_from_dir(spark, src, SCHEMA)},
        queryName="vstats_q", checkpoint=str(tmp_path / "ckpt_vstats"))
    web.attach_view_state("clicks", tracker, q)
    try:
        q.processAllAvailable()
        assert tracker.wait_running(timeout=60)
        s = view_stats(tracker, q)
        assert s["state"] == "Running" and s["recovered"] and s["active"]
        assert s["input"]["batch_id"] >= 0
        with urllib.request.urlopen(
                f"{web.address}/data/view-state/clicks") as r:
            body = _json.load(r)
        assert body["recovered"] is True
        assert body["active"] is True
        assert "num_input_rows" in body["input"]
    finally:
        q.stop()
        web.stop()
        tracker.detach(spark)
