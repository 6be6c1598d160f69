#!/usr/bin/env python3
"""datux benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload federated_interactive --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout. The input tables are the parquet files in
`perfbench/data/`; the run writes its fixtures into a fresh directory
under `.perfbench/` in the checkout and removes it at exit. A traced run
(`--trace 1`) also leaves its span artifact in `.perfbench/traces/`. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics untraced, per-layer metrics traced). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data")
SETUP_REPS = 3  # warm set-ups, after one cold one
DRIVER_MEM = "2g"
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every 50 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._done.wait(0.05)

    def stop(self) -> int:
        self._done.set()
        self.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def load1() -> float:
    return os.getloadavg()[0]


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# ------------------------------------------------------------------ spark

def configure_env(run_dir: str) -> dict:
    """Deployment settings: every core, a driver heap well below the host's
    memory, workers that can import the package, scratch inside the run
    directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        # no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ phases

class PhaseTimer:
    def __init__(self):
        self.times: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = self.times.get(name, 0.0) + time.perf_counter() - t0


def set_up(root_spark, workload_cls, data_dir: str, run_dir: str):
    """Set the workload up 1 + SETUP_REPS times, each in a fresh session
    with its own fixtures, and keep the last. The first, cold set-up pays
    the one-time costs of the code it touches and is left out. Returns
    (workload, [warm rep seconds], {phase: median seconds over them})."""
    reps, phases, workload = [], [], None
    for rep in range(1 + SETUP_REPS):
        fixture_dir = os.path.join(run_dir, f"fixtures{rep}")
        os.makedirs(fixture_dir)
        root_spark.catalog.clearCache()
        timer = PhaseTimer()
        t0 = time.perf_counter()
        with timer("session"):
            spark = root_spark.newSession()
        workload = workload_cls()
        workload.setup(spark, data_dir, fixture_dir, timer)
        wall = time.perf_counter() - t0
        log(f"setup {rep}: {wall:.3f} s {timer.times}")
        if rep > 0:
            reps.append(wall)
            phases.append(timer.times)
        if rep < SETUP_REPS:
            shutil.rmtree(fixture_dir, ignore_errors=True)
    med = {k: statistics.median(p.get(k, 0.0) for p in phases) for k in phases[0]}
    return workload, reps, med


# ------------------------------------------------------------------ timed phase

def run_op(i: int, op, traced: dict | None):
    """Run one op and materialize its result. Returns (result, error,
    wall seconds, traced per-op data)."""
    if op.prepare is not None:
        op.prepare()
    extra = {}
    if traced:
        tracer, stages = traced["tracer"], traced["stages"]
        tracer.op = i
        group = f"perfbench-op-{i}"
        bk0 = tracer.bookkeeping_s
        b0 = time.perf_counter()
        stages.begin(group)
        extra["overhead_s"] = time.perf_counter() - b0
    t0 = time.perf_counter()
    err, out, frame = None, None, None
    try:
        if traced and "query" in op.meta:
            out = tracer.call("operators.construct", op.build, (), {})
        else:
            out = op.build()
        if hasattr(out, "_jdf"):
            if traced:
                b0 = time.perf_counter()
                extra["eager_jobs"] = len(stages.job_ids(group))
                p0 = time.perf_counter()
                extra["overhead_s"] += p0 - b0
                out._jdf.queryExecution().executedPlan()
                extra["plan_s"] = time.perf_counter() - p0
            frame = out
            out = out.toArrow()
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
        log(f"op {i} {op.kind} failed: {err}")
    wall = time.perf_counter() - t0
    if traced:
        tracer.op = -1
        extra["overhead_s"] += tracer.bookkeeping_s - bk0
        stages.end()
        extra.update(stages.collect(group))
        extra["python_udf_ms"] = traced["udf_ms"](frame) if frame is not None and err is None else 0.0
        extra = {"kind": op.kind, "wall_s": wall, "error": err, **extra}
    return out, err, wall, extra


def timed_phase(workload, rng, seconds: float, traced: dict | None):
    """Run whole blocks of ops back to back until `seconds` of op time
    have passed. Returns (records, op walls, active seconds, traced per-op
    data). Client-side preparation and bookkeeping between ops is not
    counted in the active time."""
    records, per_op, walls = [], [], []
    active = 0.0
    while active < seconds:
        for op in workload.block(rng):
            out, err, wall, extra = run_op(len(records), op, traced)
            active += wall
            walls.append(wall)
            records.append((op, out, err))
            if traced:
                per_op.append(extra)
            workload.after_op(op, out)
    return records, walls, active, per_op


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import dataux_spark  # noqa: F401 - a checkout without the engine fails here

    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    import numpy as np

    if not os.path.isdir(DATA_DIR):
        log(f"no input tables in {os.path.relpath(DATA_DIR, ROOT)}")
        return 2

    host_load_start = load1()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    extra_conf = configure_env(run_dir)
    sampler = RssSampler()  # feeds the per-layer run.peak_rss_mb only
    if args.trace:
        sampler.start()
    spark = None
    try:
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            tracer.install()

        from dataux_spark import get_spark

        log("starting spark")
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf)
        session_s = time.perf_counter() - t0

        workload, setup_reps, setup_phases = set_up(
            spark, WORKLOADS[args.workload], DATA_DIR, run_dir)
        log(f"setup reps {[round(s, 3) for s in setup_reps]}")

        rng = np.random.default_rng(args.seed)
        traced = None
        if args.trace:
            traced = {"tracer": tracer, "udf_ms": tracing.python_udf_ms,
                      "stages": tracing.StageMetrics(workload.spark)}
        records, walls, active, per_op = timed_phase(workload, rng, args.seconds, traced)
        host_load_end = load1()
        lat = [w for w, (_, _, err) in zip(walls, records) if err is None]

        log("checking answers")
        verdicts = workload.check(records)  # per op, then any final-state checks
        attempted = len(verdicts)
        failed = verdicts.count(False)
        for (op, _, err), ok in zip(records, verdicts):
            if not ok and err is None:
                log(f"wrong answer: {op.kind}")
        if len(verdicts) > len(records) and not all(verdicts[len(records):]):
            log("final table state differs from the DuckDB replay")
        log("op ms " + " ".join(f"{op.kind}={w * 1e3:.0f}"
                                for (op, _, _), w in zip(records, walls)))
        log(f"{len(records)} ops, {failed} of {attempted} checks failed, "
            f"{active:.2f} s active")

        if args.trace:
            metrics = tracing.layer_metrics(
                tracer, per_op, workload, {"session_s": session_s, **setup_phases},
                host_load_start, host_load_end, failed / attempted, sampler.stop())
            metrics["run.op_p90_ms"] = (percentile(lat, 90) * 1e3, "ms")
            extra = {"per_op": per_op, "setup_reps_s": setup_reps,
                     "count_vs_materialized": workload.count_vs_materialized()}
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.uninstall()
            tracer.dump(path, extra)
            log(f"trace written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = {
                "setup_s": (session_s + statistics.median(setup_reps), "s"),
                "op_p50_ms": (percentile(lat, 50) * 1e3, "ms"),
                "ops_per_s": (len(lat) / active, "1/s"),
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            log("stopping spark")
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
