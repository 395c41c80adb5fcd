"""Product benchmark of rdf_tabular_spark in one local Spark application.

    python3 perfbench/run.py --workload csv2rdf --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Runs one workload (see ``workloads.py``) from the root of a source
checkout: set up (Spark session, seeded input generated three times,
warm-up calls), then product calls one after another for ``--seconds``
(at least the workload's ``min_calls``), each from a fresh input path with
cleared caches, each output checked.
``--trace 1`` then replays the call layer by layer under Spark job groups
and reports per-layer metrics, including a 1-core replay for the 1->4
speedups. ``--workload all`` runs every workload in its own process and
prints each one's metrics with units and its error rate.

The last stdout line is the result JSON; the line before it is the run
record (host, versions, configuration, per-call times), also written with
the spans under ``.perfbench-work/``. Every process the run starts has
ended when it exits, also when it is stopped by SIGTERM, SIGHUP or SIGINT.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
#: everything one run writes besides its record: inputs, outputs, Spark's
#: local and temporary files; removed when the run ends
SCRATCH = os.path.join(WORK, f"run-{os.getpid()}")
CORES = 4
SETUP_REPEATS = 3

#: Spark configuration of every run (paths under the work dir are added by
#: :func:`start_session` and kept out of the configuration hash)
CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # a few-MB input still spreads over the cores, as a large file would
    "spark.sql.files.maxPartitionBytes": "1m",
    "spark.ui.retainedJobs": "5000",
    "spark.ui.retainedStages": "5000",
    "spark.sql.ui.retainedExecutions": "5000",
}

#: end-to-end metrics: CPU seconds per product call (this process, the JVM
#: and its Python workers), output triples and input rows per CPU second,
#: and the CPU seconds of set-up (session start, the median of three input
#: generations, warm-up). Wall times and peak memory are in the run record
#: only: on a shared 4-vCPU VM whose CPU steal comes and goes in
#: minutes-long phases, their spread across ten seeds (IQR / median: wall
#: time per call up to 0.45, set-up wall time 0.36, memory 10-25%) is wider
#: than any allowed bound, while CPU time, which steal does not inflate,
#: spread by about 0.1.
END_TO_END = {"cpu_s": "s", "triples_per_cpu_s": "1/s",
              "rows_per_cpu_s": "1/s", "setup_s": "s"}

_GENERIC = {"executor_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "B",
            "spill_bytes": "B", "task_skew": "ratio"}
#: per-layer metrics: layer -> {metric: unit}; every layer with Spark jobs
#: also reports the generic executor metrics
LAYERS = {
    "csvw.metadata": {"compile_s": "s"},
    "sources.csv_source": {"call_s": "s", "jobs": "count", "wall_s": "s",
                           "rows_out": "count", **_GENERIC},
    "operators.cells": {"wall_s": "s", "cells_typed": "count", **_GENERIC},
    "operators.emit": {"wall_s": "s", "triples_out": "count",
                       "triples_per_row": "ratio", **_GENERIC},
    "operators.dedup": {"wall_s": "s", "rows_in": "count",
                        "rows_out": "count", "yield": "ratio", **_GENERIC},
    "operators.ntriples": {"wall_s": "s", "bytes_written": "B", **_GENERIC},
    "kg.pipeline": {"source_s": "s", "checkpoint_bytes": "B", **_GENERIC},
    "kg.extract": {"wall_s": "s", "python_s": "s", "python_bytes_sent": "B",
                   "python_bytes_returned": "B", "rows_out": "count",
                   **_GENERIC},
    "kg.link": {"wall_s": "s", "vocab": "count", "path": "count",
                "pairs": "count", "entities": "count", "jobs": "count",
                **_GENERIC},
    "kg.assemble": {"wall_s": "s", "triples_out": "count", **_GENERIC},
}


def _wall_metric(layer: str) -> str | None:
    """The layer's wall-time metric, if it has one."""
    return next((f"{layer}.{k}" for k in ("wall_s", "source_s")
                 if k in LAYERS[layer]), None)


#: layers whose traced run at local[1] gives a 1->4 speedup
SCALED = [layer for w in WORKLOADS.values() for layer in w.layers
          if _wall_metric(layer)]
TRACE = {"trace.total_s": "s", "trace.layer_sum_s": "s",
         "trace.overhead_s": "s", "trace.untraced_wall_s": "s",
         **{f"scaling.{name}.speedup": "x" for name in WORKLOADS},
         **{f"scaling.{layer}.speedup": "x" for layer in SCALED}}
PER_LAYER = {f"{layer}.{k}": u for layer, ms in LAYERS.items()
             for k, u in ms.items()} | TRACE

HISTORY_NOTE = ("BENCH_r01-r05 and BASELINE.md were measured at local[32] "
                "on another host; they are history, not a comparison point "
                "for these numbers.")


# --- processes -----------------------------------------------------------------

def _parents() -> dict[int, int]:
    """pid -> parent pid of every visible process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                table[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return table


def _tree(root: int, parents: dict[int, int]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in parents:
            out.append(pid)
            todo += [p for p, pp in parents.items() if pp == pid]
    return out


def cpu_s(root: int | None) -> float:
    """User + system CPU seconds of this process and of *root*'s process
    tree, including their children that have ended."""
    ticks = 0
    for pid in [os.getpid(), *(_tree(root, _parents()) if root else [])]:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(map(int, fields[11:15]))  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the memory of the Spark JVM and its Python workers (the
    JVM's process tree) and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.root: int | None = None
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            if self.root is None:
                continue
            pids = _tree(self.root, _parents())
            self.peak = max(self.peak, sum(map(_pss_bytes, pids)))

    def stop(self) -> None:
        self._halt.set()
        self.join()


# --- Spark ---------------------------------------------------------------------

def start_session(cores: int):
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    tmp = os.path.join(SCRATCH, "tmp")
    conf = SparkConf().setMaster(f"local[{cores}]").setAppName("perfbench")
    conf.setAll(list((CONF | {
        "spark.local.dir": os.path.join(SCRATCH, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }).items()))
    sc = SparkContext(conf=conf)
    sc.setLogLevel("ERROR")
    return SparkSession(sc)


def shutdown() -> None:
    """Stop the active Spark context and its JVM, and wait until the JVM
    has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Make orphaned descendants (the Spark launcher's shell, the Python
    workers of a stopped JVM) children of this process, so that it can wait
    for every process the run started."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _children() -> set[int]:
    """Running child processes, after collecting the ended ones."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    me = os.getpid()
    return {p for p, pp in _parents().items() if pp == me}


def reap(timeout: float = 20.0) -> None:
    """Wait until every child process has ended; terminate, and then kill,
    what is still running after *timeout* seconds."""
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + timeout
        while _children() and time.monotonic() < deadline:
            time.sleep(0.1)
        if sig is None:
            return
        for p in _children():
            try:
                os.kill(p, sig)
            except OSError:
                pass


def _exit_on_signal(signum, _frame) -> None:
    """Turn a termination signal into SystemExit, so that the ``finally``
    blocks stop Spark and its processes before the benchmark exits."""
    raise SystemExit(128 + signum)


# --- the run -------------------------------------------------------------------

def run_record(args, spark, wl) -> dict:
    import pandas
    import pyarrow

    def digest(paths: list[str]) -> str:
        h = hashlib.sha256()
        for p in sorted(paths):
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, ROOT).encode() + f.read())
        return h.hexdigest()[:16]

    pkg = [os.path.join(r, f)
           for r, _, fs in os.walk(os.path.join(ROOT, "rdf_tabular_spark"))
           for f in fs if f.endswith(".py")]
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30,
                             check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{CORES}]", "spark": spark.version,
        "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
        "python": sys.version.split()[0], "git_sha": sha,
        "package_sha256": digest(pkg),
        "spark_conf_sha256": hashlib.sha256(json.dumps(
            CONF, sort_keys=True).encode()).hexdigest()[:16],
        "load": "closed loop, one client, one product call at a time",
        "history": HISTORY_NOTE,
    }


def measure(args) -> tuple[dict, dict, list]:
    """(metrics, run record, spans) of one run; Spark, its JVM and its
    Python workers are stopped on every way out."""
    wl = WORKLOADS[args.workload](SCRATCH, args.seed, bool(args.trace))
    rss = PeakRss()
    rss.start()
    try:
        c0, t0 = cpu_s(None), time.perf_counter()
        spark = start_session(CORES)
        rss.root = spark.sparkContext._gateway.proc.pid
        session = (time.perf_counter() - t0, cpu_s(rss.root) - c0)
        metrics, record, spans = _measure(args, spark, wl, rss.root)
        setup = record["setup"]
        setup["session_s"], setup["session_cpu_s"] = session
        setup["wall_s"] += session[0]
        metrics["setup_s"] += session[1]
        record["peak_rss_mb"] = rss.peak / 2 ** 20
        return metrics, record, spans
    finally:
        try:
            shutdown()
        finally:
            rss.stop()
            reap()


def _timed(fn, jvm: int) -> tuple[float, float]:
    """(wall seconds, CPU seconds) of fn()."""
    c, t = cpu_s(jvm), time.perf_counter()
    fn()
    return time.perf_counter() - t, cpu_s(jvm) - c


def _measure(args, spark, wl, jvm: int) -> tuple[dict, dict, list]:
    """Set-up after the session start, the timed loop, the traced replay."""
    gen_s, gen_cpu = zip(*(_timed(wl.generate, jvm)
                           for _ in range(SETUP_REPEATS)))
    warmup_s, warmup_cpu = _timed(lambda: wl.warm_up(spark), jvm)

    # a traced run's one untraced call only gives the base of the overhead;
    # its measurement is the replay
    walls, cpus, failed, attempted = [], [], 0, 0
    rows = records = 0
    start = time.perf_counter()
    while attempted < (1 if args.trace else wl.min_calls) or (
            not args.trace and time.perf_counter() - start < args.seconds):
        inp = wl.prepare(attempted)
        spark.catalog.clearCache()
        attempted += 1
        try:
            dt, dc = _timed(lambda: wl.call(spark, inp), jvm)
            rows, records = wl.check(inp)
            walls.append(dt)
            cpus.append(dc)
        except Exception:  # a failed call counts against error_rate
            traceback.print_exc()
            failed += 1
    if not walls:
        raise RuntimeError("every product call failed")
    wall, cpu = statistics.median(walls), statistics.median(cpus)
    metrics = {"cpu_s": cpu, "triples_per_cpu_s": records / cpu,
               "rows_per_cpu_s": rows / cpu,
               "setup_s": statistics.median(gen_cpu) + warmup_cpu}
    record = run_record(args, spark, wl) | {
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted, "wall_s": wall,
        "triples_per_s": records / wall, "rows_per_s": rows / wall,
        "wall_s_per_call": walls, "cpu_s_per_call": cpus,
        "input_rows": rows, "output_triples": records,
        "setup": {"generate_s": gen_s, "generate_cpu_s": gen_cpu,
                  "warmup_s": warmup_s, "warmup_cpu_s": warmup_cpu,
                  "wall_s": statistics.median(gen_s) + warmup_s},
    }
    spans: list = []
    if args.trace:
        try:
            metrics |= traced(spark, wl, wall, spans)
        except Exception:  # a wrong traced replay fails the run's check
            traceback.print_exc()
            record["attempted"] += 1
            record["failed"] += 1
    return metrics, record, spans


def traced(spark, wl, untraced_wall: float, spans: list) -> dict:
    """Layer-by-layer replay at local[CORES], then at local[1] in the same
    JVM (the session the caller stops); returns the per-layer metrics."""
    from spans import Tracer

    def replay(session, cores: int, replay_fn) -> dict:
        tracer = Tracer(session, f"{wl.name}-local[{cores}]")
        session.catalog.clearCache()
        m = replay_fn(session, tracer)
        spans.extend(tracer.spans)
        top = [s for s in tracer.spans if s["name"] in wl.layers]
        m["_traced_total_s"] = sum(s["end"] - s["start"] for s in top)
        return m

    m = replay(spark, CORES, wl.trace)
    out = {"trace.total_s": m["_traced_total_s"],
           "trace.layer_sum_s": m["_product_wall_s"],
           "trace.overhead_s": m["_traced_total_s"] - untraced_wall,
           "trace.untraced_wall_s": untraced_wall}
    spark.stop()
    spark = start_session(1)
    m1 = replay(spark, 1, wl.trace_scaling)
    for layer in wl.layers:
        if layer in SCALED:
            key = _wall_metric(layer)
            out[f"scaling.{layer}.speedup"] = m1[key] / m[key]
    out[f"scaling.{wl.name}.speedup"] = (m1["_product_wall_s"]
                                         / m["_product_wall_s"])
    out.update({k: v for k, v in m.items() if k in PER_LAYER})
    return out


def run_all(args) -> int:
    """Every workload in turn, each in its own process; prints each
    workload's metrics with their units and its error rate."""
    ok = True
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: failed (exit {out.returncode})")
            sys.stderr.write(out.stderr)
            ok = False
            continue
        result = json.loads(lines[-1])
        rate = result["failed"] / result["attempted"]
        ok = ok and result["correct"]
        print(f"{name}: error_rate={rate:g} ({result['failed']}/"
              f"{result['attempted']})")
        for k, v in result["metrics"].items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' for every workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "rdf_tabular_spark",
                                       "__init__.py")):
        print("rdf_tabular_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _exit_on_signal)
    become_subreaper()
    os.makedirs(os.path.join(SCRATCH, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        metrics, record, spans = measure(args)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    wanted = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in wanted.items()},
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "records", name), "w",
              encoding="utf-8") as f:
        json.dump({"record": record, "result": result, "spans": spans}, f,
                  indent=1)
    print("record: " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
