"""The three benchmark workloads, run in a child process of ``run.py``.

Usage (normally through run.py, which sets the environment):
    python perfbench/workloads.py --workload table_fold --seed 1 \
        --seconds 6 --trace 0 --work DIR --out RESULT.json

Each workload sets up ``SETUPS`` times (session start to first result)
and then starts its pipeline once (``stream_fold``: the streaming
queries through their first batch); ``setup_s`` is the median set-up
plus the pipeline start.  It measures for ``--seconds``, then checks
its outputs against DuckDB outside the timed region.  A raised
exception or a wrong result counts as a failed op.  Every reported
time is taken on ``clock()``, which leaves out hypervisor steal.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import ENGINE_COUNTERS, Tracer, engine_counters

SETUPS = 3
TAIL_PCT = 90
FAILED = object()

TABLE_SHAPE = {"events": 30_000, "users": 15_000, "skew": 1.1}
STREAM_SHAPE = {"batch": 500, "users": 15_000, "skew": 1.1}
DOCS_SHAPE = {"docs": 600, "dup_share": 0.3, "cluster": 15, "near_share": 0.05}

FOLD_KEYS = [
    "proc_agg_state", "stream_table_join", "stream_lookup_join",
    "loopback_rekey", "proc_last_state", "proc_latest_n",
    "proc_fold_generic", "proc_headers_native",
]
CURATION_KEYS = [
    "dedup_exact", "dedup_minhash_lsh", "ngram_jaccard_prefix",
    "simhash_hamming_histogram", "token_count", "bpe_token_count",
    "gopher_repetition", "line_dedup",
]
PAIR_MINERS = ["ngram_jaccard_prefix", "simhash_hamming_histogram"]
#: keys checked on the first CHECK_DOCS documents: their oracles take
#: 4-11 s on the timed corpus (XXH64 in SQL, all-pairs Jaccard)
SLICE_CHECKED = ["dedup_minhash_lsh", "ngram_jaccard_prefix"]
CHECK_DOCS = 100
STREAM_OPS = ["stream.agg", "stream.pyfold"]
MIN_STEPS = 6  # a median of fewer steps is one slow step's noise
VIEW_OPS_PER_ROUND = 24  # View.get calls per round
VIEW_WARMUP = 10
VIEW_RANGE_EVERY = 5  # every 5th closed-loop view op is a range scan
STREAM_SCHEMA = "key string, value struct<ts:bigint,v:double>"

#: every per-layer metric, in report order; a workload reports 0 for
#: a layer it never calls
LAYER_METRICS = (
    ["session.start_ms", "session.cold_start_ms", "load.calls", "load.ms",
     "processor.run_ms"]
    + [f"fold.{k}_ms" for k in FOLD_KEYS]
    + ["view.get_ms", "view.range_ms", "view.get_jobs", "view.live_get_ms",
       "emitter.emit_ms", "emitter.flush_ms", "streaming.agg_batch_ms",
       "streaming.pyfold_batch_ms", "streaming.batches_per_step",
       "streaming.agg_state_rows", "streaming.pyfold_state_rows",
       "streaming.state_memory_bytes"]
    + [f"curation.{k}.{w}_ms" for k in CURATION_KEYS for w in ("cold", "warm")]
    + ["llmdata.artifact_ms", "functions.dedup_ms", "functions.bpe_ms",
       "functions.text_ms"]
    + [f"spark.{c}" for c in ENGINE_COUNTERS]
    + [f"spark.{op}.{c}" for op in
       [f"fold.{k}" for k in FOLD_KEYS] + ["view.get"] + STREAM_OPS
       + [f"curation.{k}" for k in CURATION_KEYS]
       for c in ("executor_run_ms", "driver_ms")]
    + [f"spark.curation.{k}.{c}" for k in PAIR_MINERS
       for c in ("task_skew", "shuffle_read_bytes", "shuffle_write_bytes")]
    + ["traced.pass_s", "traced.op_p50_ms", f"traced.op_p{TAIL_PCT}_ms",
       "process.peak_rss_mb"]
)


_TICKS_PER_CPU_S = os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)


def clock() -> float:
    """Seconds on a clock that stops while the hypervisor runs other
    guests: wall time minus the mean steal time per CPU (/proc/stat).
    On a shared virtual machine, steal comes in bursts of up to a third
    of a CPU, which no property of the program can cause; on bare
    metal steal is 0 and this is the wall clock."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return time.perf_counter() - steal / _TICKS_PER_CPU_S


def pct(values, q) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form for comparing a Spark result with its
    DuckDB oracle: columns by name, floats to 6 places, rows sorted by
    the exact columns first."""
    df = df.reindex(sorted(df.columns), axis=1)
    floats = [c for c in df.columns if df[c].dtype == "float64"]
    df[floats] = df[floats].round(6)
    order = [c for c in df.columns if c not in floats] + floats
    return df.sort_values(order, kind="stable").reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame, atol: float = 0.0) -> bool:
    """Equal up to ``atol`` on float columns, exactly elsewhere."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        if g[c].dtype == "float64" and w[c].dtype == "float64":
            if not np.allclose(g[c], w[c], rtol=0.0, atol=atol, equal_nan=True):
                return False
        elif not g[c].equals(w[c]):
            return False
    return True


class Workload:
    """Shared run state: session, tracer, op accounting, phases."""

    name = ""

    def __init__(self, args):
        self.seed = args.seed
        self.work = args.work
        self.tr = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.session_s: list[float] = []
        self.layers: dict[str, float] = {}
        self.report: dict[str, float] = {}  # extra user-facing figures, printed only
        self.samples: dict = {}  # raw timings, kept with the result file

    # -- pieces every workload shares ---------------------------------
    def start_session(self) -> None:
        from goka_spark.session import get_session

        t = clock()
        self.spark = get_session(
            f"perfbench-{self.name}",
            **{"spark.ui.showConsoleProgress": "false",
               "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")})
        self.session_s.append(clock() - t)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.spark = self.spark

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def start_pipeline(self) -> None:
        """Start what runs through every measured op, once, after the
        set-ups; its time is part of ``setup_s``."""

    def op(self, fn, *a):
        """One attempted op; an exception counts as failed and returns
        ``FAILED``."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return FAILED

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"MISMATCH {self.name}: {what}", file=sys.stderr)

    def install_layer_spans(self) -> None:
        """Trace calls that the registry functions make into the
        layers below them (load, processor, functions.*)."""
        from goka_spark.functions import bpe, dedup, text
        from goka_spark.operators.processor import Processor
        from goka_spark.queries import core, llmdata

        core.load = self.tr.wrap("load", core.load)
        llmdata.load = self.tr.wrap("load", llmdata.load)
        Processor.run = self.tr.wrap("processor.run", Processor.run)
        for prefix, mod in (("functions.dedup", dedup), ("functions.bpe", bpe),
                            ("functions.text", text)):
            self.tr.wrap_module(prefix, mod)

    def call_layers(self, op_prefix: str, per: int) -> None:
        """Self time per pass of the layers below the ops whose span
        name starts with ``op_prefix``, and load calls per pass."""
        ops = {s.op for s in self.tr.spans if s.name.startswith(op_prefix)}
        for layer, key in (("load", "load.ms"), ("processor.run", "processor.run_ms"),
                           ("functions.dedup", "functions.dedup_ms"),
                           ("functions.bpe", "functions.bpe_ms"),
                           ("functions.text", "functions.text_ms")):
            own = [s for s in self.tr.spans if s.op in ops and
                   (s.name == layer or s.name.startswith(layer + "."))]
            self.layers[key] = 1000 * sum(s.self_s for s in own) / per
            if layer == "load":
                self.layers["load.calls"] = len(own) / per

    def engine_layers(self, ops: list[str], per: int) -> None:
        """Spark counters: the given ops' totals per pass (task skew:
        the worst op), and every traced op's counters per call."""
        for c in ENGINE_COUNTERS:
            vals = [self.tr.engine.get(op, {}).get(c, 0.0) for op in ops]
            self.layers[f"spark.{c}"] = (max(vals, default=0.0) if c == "task_skew"
                                         else sum(vals) / max(per, 1))
        for op, e in self.tr.engine.items():
            for c in ENGINE_COUNTERS:
                self.layers[f"spark.{op}.{c}"] = (
                    e[c] if c == "task_skew" else e[c] / max(e["calls"], 1))

    def result(self, trace: bool, e2e: dict) -> dict:
        if trace:
            self.layers["session.start_ms"] = 1000 * statistics.median(self.session_s)
            self.layers["session.cold_start_ms"] = 1000 * self.session_s[0]
            for k, v in e2e.items():
                if k != "setup_s":
                    self.layers[f"traced.{k}"] = v
            tail = f"op_p{TAIL_PCT}_ms"
            self.layers[f"traced.{tail}"] = self.report[tail]
            metrics = {k: self.layers.get(k, 0.0) for k in LAYER_METRICS}
        else:
            metrics = e2e
        return {"attempted": self.attempted, "failed": self.failed,
                "metrics": metrics, "report": self.report, "samples": self.samples}


class TableFold(Workload):
    """Batch processor graphs collected to the driver, then a closed
    loop of View reads on a processor's group table (one client)."""

    name = "table_fold"

    def prepare(self) -> None:
        self.dir = os.path.join(self.work, "table")
        gen.write_table_fold(self.dir, self.seed, TABLE_SHAPE["events"],
                             TABLE_SHAPE["users"], TABLE_SHAPE["skew"])

    def setup(self, i: int) -> None:
        from goka_spark.queries.base import load

        self.start_session()
        load(self.spark, self.dir, "events")["events"].count()

    def measure(self, seconds: float) -> dict:
        from pyspark.sql import functions as F

        from goka_spark import AggFold, Processor, define_group, input_stream, persist
        from goka_spark.queries import core
        from goka_spark.queries.base import load

        counter = define_group("clicks", input_stream("events", key="user_id"),
                               persist(AggFold({"cnt": F.count("*")})))
        view = Processor(counter).run(load(self.spark, self.dir, "events")).view()
        rng = np.random.default_rng([self.seed, 4])
        per_key = {k: [] for k in FOLD_KEYS}
        gets, ranges = [], []
        self.tables, self.reads = {}, []
        # the first reads compile the view's plan: untimed, but checked
        for _ in range(VIEW_WARMUP):
            key = str(int(rng.integers(0, TABLE_SHAPE["users"])))
            self.reads.append((False, key, self.op(view.get, key)))
        t0 = time.perf_counter()
        # Rounds interleave the graphs with the view reads, so both see
        # the same JVM warm-up.  The first round runs each graph for the
        # first time in the session, as a batch job does.  check()
        # compares the last round's collected tables with the oracles.
        while not gets or time.perf_counter() - t0 < seconds:
            for k in FOLD_KEYS:
                ts = clock()
                with self.tr.span(f"fold.{k}", op=f"fold.{k}"):
                    self.tables[k] = self.op(
                        lambda: core.QUERIES[k](self.spark, self.dir).toPandas())
                per_key[k].append(clock() - ts)
            for i in range(VIEW_OPS_PER_ROUND + VIEW_OPS_PER_ROUND // (VIEW_RANGE_EVERY - 1)):
                key = str(int(rng.integers(0, TABLE_SHAPE["users"])))
                is_range = i % VIEW_RANGE_EVERY == VIEW_RANGE_EVERY - 1
                name = "view.range" if is_range else "view.get"
                ts = clock()
                with self.tr.span(name, op=name):
                    if is_range:
                        got = self.op(lambda: list(view.iterator_range(key, key + "1")))
                    else:
                        got = self.op(view.get, key)
                (ranges if is_range else gets).append(clock() - ts)
                self.reads.append((is_range, key, got))

        n = len(per_key[FOLD_KEYS[0]])
        self.layers.update({f"fold.{k}_ms": 1000 * statistics.median(v)
                            for k, v in per_key.items()})
        self.layers["view.get_ms"] = 1000 * statistics.median(gets)
        self.layers["view.range_ms"] = 1000 * statistics.median(ranges)
        if self.tr.enabled:
            self.layers["view.get_jobs"] = self.tr.engine["view.get"]["jobs"] / len(gets)
            self.call_layers("fold.", n)
            self.engine_layers([f"fold.{k}" for k in FOLD_KEYS], n)
        self.report[f"op_p{TAIL_PCT}_ms"] = 1000 * pct(gets, TAIL_PCT)
        self.samples = {"rounds": n, "fold_s": per_key, "get_s": gets}
        # one pass = every graph once, at its median over the rounds
        return {"pass_s": sum(statistics.median(v) for v in per_key.values()),
                "op_p50_ms": 1000 * statistics.median(gets)}

    def check(self) -> None:
        from goka_spark.queries import core

        con = duckdb.connect()
        for t in ("events", "customer", "nation"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        for k, got in self.tables.items():
            # states are ROUND(x, 3): an exact tie (0.81 * 12.35 =
            # 10.0035) rounds half-even in Python, half-up in DuckDB
            if got is not FAILED and not same_frame(
                    got, con.sql(core.ORACLES[k]).df(), atol=1.001e-3):
                self.fail(f"{k} differs from its oracle")
        counts = dict(con.sql(
            "SELECT CAST(user_id AS VARCHAR), COUNT(*) FROM events GROUP BY 1").fetchall())
        for is_range, key, got in self.reads:
            if got is FAILED:
                continue
            if is_range:
                want = sorted((k, c) for k, c in counts.items()
                              if key <= k < key + "1")
                if [(k, d["cnt"]) for k, d in got] != want:
                    self.fail(f"View.iterator_range({key!r}) differs")
            else:
                want = counts.get(key)
                if got != (None if want is None else {"cnt": want}):
                    self.fail(f"View.get({key!r}) = {got}, want cnt={want}")


def _ewma(state, row):
    return state * 0.9 + row["v"]


class StreamFold(Workload):
    """The live loop, closed, one client: each step emits a Zipf-keyed
    batch through ``Emitter``, then waits until two streaming group
    tables (AggFold counter/sum, PyFold EWMA) have consumed it and a
    ``View.get`` on the live table shows the step's last key."""

    name = "stream_fold"

    def prepare(self) -> None:
        self.queries: dict = {}

    def next_events(self) -> dict:
        b = STREAM_SHAPE["batch"]
        first = self.n_steps * b
        ev = gen.event_columns(self.rng, b, STREAM_SHAPE["users"], STREAM_SHAPE["skew"],
                               first_id=first, t0_us=gen.T0_US + first * 2_000_000)
        self.n_steps += 1
        return ev

    def emit(self, ev: dict) -> None:
        with self.tr.span("emitter.emit"):
            for u, ts, v in zip(ev["user_id"].tolist(), ev["ts_us"].tolist(),
                                ev["value"].tolist()):
                self.em.emit(u, {"ts": ts, "v": v})
        with self.tr.span("emitter.flush"):
            self.em.flush()
        self.events.append(ev)

    def setup(self, i: int) -> None:
        from goka_spark import Emitter, JsonCodec

        self.start_session()
        d = os.path.join(self.work, f"stream{i}")
        self.topic, self.ckpt = f"{d}/topic", {op: f"{d}/ckpt-{op}" for op in STREAM_OPS}
        self.rng = np.random.default_rng([self.seed, 3])
        self.events, self.n_steps = [], 0
        self.em = Emitter(self.spark, self.topic, codec=JsonCodec("ts bigint, v double"))
        self.emit(self.next_events())

    def start_pipeline(self) -> None:
        """Both streaming group tables, through their first batch."""
        from pyspark.sql import functions as F

        from goka_spark import AggFold, PyFold, define_group, input_stream, persist
        from goka_spark.streaming.runtime import StreamingProcessor, stream_from_dir

        sel = lambda df: df.select("key", F.col("value.ts").alias("ts"),  # noqa: E731
                                   F.col("value.v").alias("v"))
        graphs = {
            "stream.agg": define_group(
                "stream-agg", input_stream("topic", select=sel),
                persist(AggFold({"cnt": F.count("*"),
                                 "sum_v": F.round(F.sum("v"), 3)}))),
            "stream.pyfold": define_group(
                "stream-ewma", input_stream("topic", select=sel),
                persist(PyFold(func=_ewma, init=0.0, state_schema="ewma double",
                               finish=lambda s: {"ewma": round(s, 3)}))),
        }
        # a file topic consumed like a Kafka topic with no
        # maxOffsetsPerTrigger: each trigger takes every new file
        self.queries = {
            op: StreamingProcessor(g).start_table(
                {"topic": stream_from_dir(self.spark, self.topic, STREAM_SCHEMA,
                                          max_files=100_000)},
                queryName=op.replace(".", "_"), checkpoint=self.ckpt[op])
            for op, g in graphs.items()}
        for q in self.queries.values():
            q.processAllAvailable()

    def stop_session(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.queries = {}
        super().stop_session()

    def step(self, ev: dict):
        from goka_spark import View

        self.emit(ev)
        for op, q in self.queries.items():
            with self.tr.span(f"{op}.process"):
                q.processAllAvailable()
        key = str(int(ev["user_id"][-1]))
        with self.tr.span("view.live_get"):
            return key, View(self.spark.table("stream_agg")).get(key)

    def measure(self, seconds: float) -> dict:
        expected = pd.Series(np.concatenate([e["user_id"] for e in self.events])
                             ).astype(str).value_counts().to_dict()

        def checked_step() -> float:
            ev = self.next_events()
            for u in ev["user_id"].astype(str).tolist():
                expected[u] = expected.get(u, 0) + 1
            ts = clock()
            got = self.op(self.step, ev)
            took = clock() - ts
            if got is not FAILED:
                key, row = got
                if row is None or row["cnt"] != expected[key]:
                    self.fail(f"step {self.n_steps}: View.get({key!r}) = {row}, "
                              f"want cnt={expected[key]}")
            return took

        batch0 = {op: q.lastProgress["batchId"] for op, q in self.queries.items()}
        span0 = len(self.tr.spans)
        steps = []
        t0 = time.perf_counter()
        while len(steps) < MIN_STEPS or time.perf_counter() - t0 < seconds:
            steps.append(checked_step())
        wall = time.perf_counter() - t0
        n = len(steps)
        if self.tr.enabled:
            tot = self.tr.totals(since=span0)
            for name in ("emitter.emit", "emitter.flush"):
                self.layers[f"{name}_ms"] = 1000 * tot[name]["total_s"] / n
            self.layers["view.live_get_ms"] = 1000 * tot["view.live_get"]["total_s"] / n
            batches, mem = 0, 0
            for op, q in self.queries.items():
                prog = [p for p in q.recentProgress
                        if p["batchId"] > batch0[op] and p["numInputRows"] > 0]
                batches += len(prog)
                kind = op.split(".")[1]
                self.layers[f"streaming.{kind}_batch_ms"] = statistics.median(
                    p["durationMs"]["triggerExecution"] for p in prog)
                state = q.lastProgress["stateOperators"][0]
                self.layers[f"streaming.{kind}_state_rows"] = state["numRowsTotal"]
                mem += state["memoryUsedBytes"]
                self.tr.add_engine(op, engine_counters(self.spark, str(q.runId), wall))
                self.tr.engine[op]["calls"] = n
            self.layers["streaming.batches_per_step"] = batches / len(self.queries) / n
            self.layers["streaming.state_memory_bytes"] = mem
            self.engine_layers(STREAM_OPS, n)
        self.report["stream_events_per_s"] = STREAM_SHAPE["batch"] * n / sum(steps)
        self.report[f"op_p{TAIL_PCT}_ms"] = 1000 * pct(steps, TAIL_PCT)
        self.samples = {"step_s": steps}
        # pass_s: the mean step, i.e. batch size over throughput
        return {"pass_s": sum(steps) / n,
                "op_p50_ms": 1000 * statistics.median(steps)}

    @staticmethod
    def batch_files(ckpt: str) -> list[list[str]]:
        """Topic files per micro-batch, from the file source's log in
        the query checkpoint.  A trigger can list a flush's files while
        they are still being committed, so one step may span two
        batches; the fold sorts by ``ts`` only within a batch."""
        log = os.path.join(ckpt, "sources", "0")
        batch_of: dict[str, int] = {}
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name)) as f:
                for line in f.read().splitlines()[1:]:
                    e = json.loads(line)
                    batch_of[e["path"].removeprefix("file://")] = e["batchId"]
        batches: dict[int, list[str]] = {}
        for path, b in batch_of.items():
            batches.setdefault(b, []).append(path)
        return [batches[b] for b in sorted(batches)]

    def check(self) -> None:
        from goka_spark.streaming.stateful import visit_all_live

        ev = pd.DataFrame({k: np.concatenate([e[k] for e in self.events])
                           for k in ("user_id", "ts_us", "value")})
        want = duckdb.sql(
            "SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt, "
            "ROUND(SUM(value), 3) AS sum_v FROM ev GROUP BY user_id").df()
        got = self.op(lambda: self.spark.table("stream_agg").toPandas())
        if got is not FAILED and not same_frame(got, want):
            self.fail("AggFold table differs from DuckDB count/sum")
        ewma: dict[str, float] = {}
        for batch in self.batch_files(self.ckpt["stream.pyfold"]):
            t = pa.concat_tables([pq.read_table(p) for p in batch]).flatten().to_pandas()
            t = t.sort_values("value.ts", kind="stable")
            for u, v in zip(t["key"].tolist(), t["value.v"].tolist()):
                ewma[u] = ewma.get(u, 0.0) * 0.9 + v
        live = self.op(lambda: visit_all_live(
            self.spark, self.ckpt["stream.pyfold"]).toPandas())
        if live is not FAILED:
            got = {k: json.loads(s) for k, s in zip(live["key"], live["state_json"])}
            bad = [k for k, w in ewma.items()
                   if k not in got or abs(got[k] - w) > 1e-9 * max(1.0, abs(w))]
            if bad or got.keys() != ewma.keys():
                self.fail(f"PyFold state of {len(bad)} of {len(ewma)} keys differs "
                          f"from the ordered EWMA (live keys: {len(got)})")


class CurationDupHeavy(Workload):
    """The LLM-data registry on a fresh, duplicate-heavy corpus: every
    timed pass reads a new copy of the input, so no session memo or
    artifact of an earlier pass applies."""

    name = "curation_dupheavy"

    def prepare(self) -> None:
        self.src = os.path.join(self.work, "docs")
        gen.write_documents(self.src, self.seed, DOCS_SHAPE["docs"],
                            DOCS_SHAPE["dup_share"],
                            int(DOCS_SHAPE["docs"] * DOCS_SHAPE["dup_share"])
                            // DOCS_SHAPE["cluster"],
                            DOCS_SHAPE["near_share"])
        self.n_pass = 0

    def fresh_input(self) -> str:
        self.n_pass += 1
        d = os.path.join(self.work, f"docs-{self.n_pass}")
        os.makedirs(d)
        shutil.copy(os.path.join(self.src, "documents.parquet"), d)
        return d

    def setup(self, i: int) -> None:
        from goka_spark.queries.base import load

        self.start_session()
        load(self.spark, self.fresh_input(), "documents")["documents"].count()

    def measure(self, seconds: float) -> dict:
        from goka_spark.queries import llmdata

        self.cold = {k: [] for k in CURATION_KEYS}
        self.out = {}
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            self.dir = self.fresh_input()
            tp = clock()
            for k in CURATION_KEYS:
                ts = clock()
                with self.tr.span(f"curation.{k}", op=f"curation.{k}"):
                    self.out[k] = self.op(
                        lambda: llmdata.QUERIES[k](self.spark, self.dir).toPandas())
                self.cold[k].append(clock() - ts)
            passes.append(clock() - tp)
        self.passes = passes
        ops = [1000 * t for v in self.cold.values() for t in v]
        self.report[f"op_p{TAIL_PCT}_ms"] = pct(ops, TAIL_PCT)
        self.samples = {"pass_s": passes, "cold_s": self.cold}
        return {"pass_s": statistics.median(passes),
                "op_p50_ms": statistics.median(ops)}

    def oracle(self, key: str, sf: str) -> pd.DataFrame:
        from goka_spark.queries import llmdata

        os.environ["GOKA_SPARK_ORACLE_SF"] = sf  # data-derived oracles read it
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
        sql = llmdata.ORACLES[key]
        return con.sql(sql() if callable(sql) else sql).df()

    def check(self) -> None:
        """The last pass's results against the registry's DuckDB
        oracles; SLICE_CHECKED keys run again on a small slice of the
        input, which their oracles can afford."""
        from goka_spark.queries import llmdata

        for k in CURATION_KEYS:
            if k not in SLICE_CHECKED and self.out[k] is not FAILED \
                    and not same_frame(self.out[k], self.oracle(k, self.dir)):
                self.fail(f"{k} differs from its oracle")
        part = os.path.join(self.work, "docs-check")
        os.makedirs(part)
        duckdb.sql(f"COPY (SELECT * FROM '{self.dir}/documents.parquet' "
                   f"WHERE doc_id < {CHECK_DOCS} ORDER BY doc_id) "
                   f"TO '{part}/documents.parquet' (FORMAT parquet)")
        for k in SLICE_CHECKED:
            got = self.op(lambda: llmdata.QUERIES[k](self.spark, part).toPandas())
            if got is not FAILED and not same_frame(got, self.oracle(k, part)):
                self.fail(f"{k} differs from its oracle on {CHECK_DOCS} docs")
        if not self.tr.enabled:
            return
        artifact = 0.0
        for k in CURATION_KEYS:  # a second, memo-hit call
            ts = clock()
            llmdata.QUERIES[k](self.spark, self.dir).toPandas()
            warm = clock() - ts
            cold = statistics.median(self.cold[k])
            self.layers[f"curation.{k}.cold_ms"] = 1000 * cold
            self.layers[f"curation.{k}.warm_ms"] = 1000 * warm
            artifact += max(cold - warm, 0.0)
        self.layers["llmdata.artifact_ms"] = 1000 * artifact
        self.call_layers("curation.", len(self.passes))
        self.engine_layers([f"curation.{k}" for k in CURATION_KEYS], len(self.passes))


WORKLOADS = {w.name: w for w in (TableFold, StreamFold, CurationDupHeavy)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    marks: list[tuple[str, float]] = []

    def phase(name: str) -> None:
        """Mark the phase for run.py's memory sampler."""
        marks.append((name, time.perf_counter()))
        with open(os.path.join(args.work, "phase"), "w") as f:
            f.write(name)

    wl = WORKLOADS[args.workload](args)
    phase("setup")
    wl.prepare()
    if args.trace:
        wl.install_layer_spans()
    setups = []
    for i in range(SETUPS):
        t = clock()
        wl.setup(i)
        setups.append(clock() - t)
        if i < SETUPS - 1:
            wl.stop_session()
    t = clock()
    wl.start_pipeline()
    pipeline_s = clock() - t
    phase("measure")
    w0, c0 = time.perf_counter(), clock()
    e2e = wl.measure(args.seconds)
    wall = time.perf_counter() - w0
    wl.report["steal_pct"] = 100 * (wall - (clock() - c0)) / wall
    phase("check")
    wl.check()
    phase("stop")
    wl.stop_session()
    phase("done")
    e2e = {"setup_s": statistics.median(setups) + pipeline_s, **e2e}
    res = wl.result(bool(args.trace), e2e)
    res["setups_s"] = setups
    res["pipeline_s"] = pipeline_s
    res["phases_s"] = {a: tb - ta for (a, ta), (_, tb) in zip(marks, marks[1:])}
    if args.trace:
        wl.tr.write(os.path.join(args.work, "trace.json"))
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
