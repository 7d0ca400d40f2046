"""goka_spark benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload table_fold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The workload runs in a child
process (perfbench/workloads.py) with ``SPARK_GRAFT_CPUS`` set to the
usable core count; this supervisor samples the resident memory of the
child's whole process tree (Python driver, JVM, Python workers),
enforces a time limit, and makes sure every process it started has
ended.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Human-readable lines before it name each metric with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LIMIT_S = 170
SAMPLE_S = 0.1
PAGE = os.sysconf("SC_PAGE_SIZE")

UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms"}
#: what the generic end-to-end metrics mean on each workload
ALIASES = {
    "table_fold": {"pass_s": "fold_wall_s", "op_p50_ms": "view_get_p50_ms",
                   "op_p90_ms": "view_get_p90_ms"},
    "stream_fold": {"pass_s": "stream_step_s", "op_p50_ms": "stream_visible_p50_ms",
                    "op_p90_ms": "stream_visible_p90_ms"},
    "curation_dupheavy": {"pass_s": "curation_wall_s", "op_p50_ms": "curation_key_p50_ms",
                          "op_p90_ms": "curation_key_p90_ms"},
}


def group_rss(pgid: int) -> tuple[int, int]:
    """(resident bytes, process count) of every process in ``pgid``."""
    rss = n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) != pgid:  # field 5 of stat: process group
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss += int(f.read().split()[1]) * PAGE
            n += 1
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return rss, n


def reap_group(pgid: int) -> None:
    """Stop what is left of the child's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if group_rss(pgid)[1] == 0:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["table_fold", "stream_fold", "curation_dupheavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "goka_spark", "__init__.py")):
        print(f"perfbench: no goka_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=cpus,
               SPARK_DRIVER_MEM="2g",
               # Python workers import goka_spark from any cwd
               PYTHONPATH=os.pathsep.join([ROOT, HERE]),
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               TMPDIR=os.path.join(work, "tmp"),
               # every JVM keeps its temp files in the work directory
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PYTHONWARNINGS="ignore::FutureWarning")
    env.pop("SPARK_MASTER", None)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                             start_new_session=True)
    peak, t0 = 0, time.monotonic()
    phase_file = os.path.join(work, "phase")
    try:
        while child.poll() is None:
            if time.monotonic() - t0 > LIMIT_S:
                print("perfbench: time limit reached", file=sys.stderr)
                break
            try:
                with open(phase_file) as f:
                    phase = f.read()
            except OSError:
                phase = "setup"
            if phase != "check":  # the DuckDB oracles are not the program
                peak = max(peak, group_rss(child.pid)[0])
            time.sleep(SAMPLE_S)
    finally:
        reap_group(child.pid)
        child.wait()
    if child.returncode != 0 or not os.path.exists(out):
        print(f"perfbench: workload exited with {child.returncode}", file=sys.stderr)
        return 1

    with open(out) as f:
        res = json.load(f)
    keep = os.path.join(WORK_ROOT, "results")
    os.makedirs(keep, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        shutil.copy(os.path.join(work, "trace.json"), os.path.join(keep, f"{tag}.trace.json"))
    metrics = res["metrics"]
    if args.trace:
        metrics["process.peak_rss_mb"] = peak / 2**20
    else:
        res["report"]["peak_rss_mb"] = peak / 2**20
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(keep, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)

    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} cpus={cpus} "
          f"setups_s={[round(s, 3) for s in res['setups_s']]} "
          f"pipeline_s={res['pipeline_s']:.3f} "
          f"phases_s={ {k: round(v, 2) for k, v in res['phases_s'].items()} }")
    if args.trace:
        for k, v in metrics.items():
            print(f"  {k} = {v:.6g}")
        untraced = os.path.join(keep, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            for k in ("pass_s", "op_p50_ms", "op_p90_ms"):
                plain = base["metrics"].get(k, base["report"].get(k))
                print(f"  tracing overhead {k}: {metrics[f'traced.{k}'] - plain:+.6g} "
                      f"(traced {metrics[f'traced.{k}']:.6g}, untraced {plain:.6g})")
        result_metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        for k, v in metrics.items():
            print(f"  {k} = {v:.6g} {UNITS[k]}  ({ALIASES[args.workload].get(k, k)})")
        for k, v in res["report"].items():
            print(f"  {k} = {v:.6g}  ({ALIASES[args.workload].get(k, 'printed only')})")
        result_metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": result_metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("task_skew", "batches_per_step")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
