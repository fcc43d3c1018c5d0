#!/usr/bin/env python3
"""Benchmark of the mrbf_spark engine, one workload per invocation.

    python3 perfbench/run.py --workload bloom_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from --seed (and
cached under perfbench/.work/); the engine only ever sees the
generated parquet.

--trace 0 (timed run): set-up is starting a session with get_spark()
and loading the inputs (one scan of every input table). It is done
five times -- the session stopped and restarted in between, the first
time also launching the JVM -- and the median is ``setup_s``. One
checked, untimed warm-up job follows. Then a closed loop -- one
client, one job in flight, the next submitted when the previous one
finished -- runs for --seconds (at least one job) and reports the
median job wall time, input rows per second at that median, and the
median CPU seconds per job summed over this process, the JVM and the
Python workers (utime+stime from /proc).

--trace 1 (traced run): Spark's event log is enabled at launch
(uncompressed, non-rolling). Traced replays alternate with plain runs
of the same job; a replay wraps each public engine call in a span with its
own Spark job group; the event log is parsed afterwards into per-span
jobs, tasks, executor CPU, shuffle write and spill.

Every job's output is checked (see workloads.py). The last stdout line
is one JSON object: correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 5
DRIVER_MEM = "2g"
CPUS = min(4, os.cpu_count() or 4)


# --- /proc helpers -------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and every live descendant, plus the
    children each has reaped, so CPU of exited workers is kept."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / tick


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


# --- job accounting -----------------------------------------------------

class Outcome:
    """What one job returned, or the exception it raised."""

    def __init__(self, fn):
        self.result, self.error = None, None
        try:
            self.result = fn()
        except Exception:  # a failing job is counted, the benchmark goes on
            self.error = traceback.format_exc()


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, wl, st: dict, out: Outcome) -> None:
        self.attempted += 1
        problems = [out.error] if out.error else wl.check(st, out.result)
        if problems:
            self.failed += 1
            for p in problems:
                print(f"FAILED {wl.name}: {p}", file=sys.stderr)


# --- session lifetime -----------------------------------------------------

def configure_env(event_log_dir: str | None) -> None:
    """Point Spark and its Python workers at this checkout; every
    scratch file goes under perfbench/.work."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM (spark-submit's launcher too): temp files here, and no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if event_log_dir:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )


def shutdown(spark) -> None:
    """Stop the session (if one started), then the JVM, and wait for
    every process they started (the JVM, the Python worker daemon and
    its workers)."""
    from pyspark import SparkContext

    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, 9)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return float("nan")


# --- the two modes --------------------------------------------------------

def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def warm_up(wl, spark, st: dict, tally: Tally) -> float:
    """Run and check one whole untimed job, so the code paths are
    compiled and the Python workers started before timing."""
    t0 = time.perf_counter()
    out = Outcome(lambda: wl.job(spark, st))
    wall = time.perf_counter() - t0
    wl.prepare_checks(spark, st)
    tally.record(wl, st, out)
    return wall


def timed(wl, inp: dict, seconds: float) -> tuple[Tally, dict]:
    from mrbf_spark.session import get_spark

    tally, setups = Tally(), []
    me, walls, cpus = os.getpid(), [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            st = wl.load(spark, inp)
            setups.append(time.perf_counter() - t0)
        warmup_s = warm_up(wl, spark, st, tally)

        deadline = time.perf_counter() + seconds
        while True:
            c0, t0 = tree_cpu_s(me), time.perf_counter()
            out = Outcome(lambda: wl.job(spark, st))
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s(me) - c0)
            tally.record(wl, st, out)
            if time.perf_counter() >= deadline:
                break
        rss = jvm_peak_rss_mb()
    finally:
        shutdown(spark)

    job_s = statistics.median(walls)
    print(f"setups (s): {', '.join(f'{s:.3f}' for s in setups)}")
    print(f"warm-up job: {warmup_s:.3f} s (not gated)")
    print(f"timed jobs: {len(walls)}; walls (s): {', '.join(f'{w:.3f}' for w in walls)}")
    print(f"input rows per job: {inp['rows']}")
    print(f"failed_frac = {tally.failed / tally.attempted:.4f} ratio")
    print(f"jvm_peak_rss_mb = {rss:.0f} MB (not gated)")
    return tally, {
        "setup_s": _metric(statistics.median(setups), "s"),
        "job_s.p50": _metric(job_s, "s"),
        "rows_per_s": _metric(inp["rows"] / job_s, "rows/s"),
        "cpu_s_per_job.p50": _metric(statistics.median(cpus), "s"),
    }


def traced(wl, inp: dict, seconds: float, log_dir: str, spans_path: str) -> tuple[Tally, dict]:
    import tracing
    from workloads import RATIOS, SPANS

    from mrbf_spark.session import get_spark

    tally = Tally()
    plain, walls, ratios = [], [], []
    spark = None
    try:
        spark = get_spark("perfbench-trace")
        st = wl.load(spark, inp)
        warm_up(wl, spark, st, tally)

        tr = tracing.Tracer(spark.sparkContext)
        deadline = time.perf_counter() + seconds
        # traced replay first: the plain job after it runs on a warmer
        # JIT, so trace.overhead_s errs high rather than low
        while True:
            tr.begin_job()
            t0 = time.perf_counter()
            out = Outcome(lambda: wl.traced_job(spark, st, tr))
            walls.append(time.perf_counter() - t0)
            if out.error is None:
                out.result, job_ratios = out.result
                ratios.append(job_ratios)
            tally.record(wl, st, out)

            t0 = time.perf_counter()
            out = Outcome(lambda: wl.job(spark, st))
            plain.append(time.perf_counter() - t0)
            tally.record(wl, st, out)
            if time.perf_counter() >= deadline:
                break
    finally:
        shutdown(spark)
    tr.dump(spans_path)

    groups = tracing.parse_event_log(log_dir)
    fields = ("jobs", "tasks", "executor_cpu_s", "shuffle_write_mb", "spill_mb")
    units = {"jobs": "count", "tasks": "count", "executor_cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    metrics = {}
    for name in SPANS:
        per_job = []
        for j in range(len(walls)):
            mine = [s for s in tr.spans if s.name == name and s.parent == f"job#{j}"]
            row = {"wall_s": sum(s.wall_s for s in mine)}
            for f in fields:
                row[f] = sum(groups.get(s.group, {}).get(f, 0) for s in mine)
            per_job.append(row)
        metrics[f"{name}.wall_s"] = _metric(statistics.median(r["wall_s"] for r in per_job), "s")
        for f in fields:
            metrics[f"{name}.{f}"] = _metric(statistics.median(r[f] for r in per_job), units[f])
    for name in RATIOS:
        vals = [r[name] for r in ratios if name in r]
        metrics[name] = _metric(statistics.median(vals) if vals else 0.0, "ratio")
    coverage = [
        sum(s.wall_s for s in tr.spans if s.parent == f"job#{j}") / w for j, w in enumerate(walls)
    ]
    metrics["trace.overhead_s"] = _metric(statistics.median(walls) - statistics.median(plain), "s")
    metrics["trace.coverage"] = _metric(statistics.median(coverage), "ratio")
    print(f"traced jobs: {len(walls)}; plain jobs: {len(plain)}")
    for name in SPANS:
        w = metrics[f"{name}.wall_s"]["value"]
        if w:
            print(f"  {name:20s} {w:8.3f} s  jobs {metrics[f'{name}.jobs']['value']:.0f}"
                  f"  tasks {metrics[f'{name}.tasks']['value']:.0f}"
                  f"  cpu {metrics[f'{name}.executor_cpu_s']['value']:.2f} s")
    return tally, metrics


def main(argv: list[str] | None = None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "mrbf_spark", "__init__.py")):
        print(f"perfbench: no mrbf_spark package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
        os.makedirs(log_dir, exist_ok=True)
    configure_env(log_dir)
    inp = wl.inputs(os.path.join(WORK, "inputs"), args.seed)
    try:
        if args.trace:
            spans = os.path.join(WORK, f"spans-{wl.name}-s{args.seed}.json")
            tally, metrics = traced(wl, inp, args.seconds, log_dir, spans)
        else:
            tally, metrics = timed(wl, inp, args.seconds)
    finally:
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
