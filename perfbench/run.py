#!/usr/bin/env python3
"""Benchmark of the transcript-reformer engine.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_hot --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md): ``pipeline_hot`` and
``cold_paths``. Each run uses the package's default session,
``get_spark(cpus=4)`` with every ``SPARK_GRAFT_*`` override removed, and
generates its inputs from ``--seed``. Load is a closed loop: one client,
one iteration in flight.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the run's spans are written to
``.perfbench/traces/``. Scratch files live under ``.perfbench/`` in the
working directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from statistics import median

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = 4
SCALING_ITERS = 3
MIN_TIMED = 3  # timed iterations of an untraced run, so its median is of three or more
MIN_PAIRS = 3  # (untraced, traced) iteration pairs in the traced pass
T0 = time.perf_counter()  # process start, as far as setup_s is concerned


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment(work_dir: str) -> None:
    """Use the package's default session and keep every file the run
    writes inside ``work_dir``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(cpus: int):
    from fluent_plugin_record_reformer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_jvm() -> int:
    """Stop the active session and its JVM, if any, and wait for the JVM
    to exit; return the JVM's peak RSS in kB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return 0
    proc = getattr(gateway, "proc", None)
    hwm = 0
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            hwm = int(next(ln for ln in f if ln.startswith("VmHWM:")).split()[1])
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    return hwm


def closed_loop(fn, seconds: float, min_calls: int = 1) -> list:
    """Run ``fn`` back to back, one call in flight, until the next call
    would end mostly past ``seconds``; at least ``min_calls`` calls.
    Calls that return None (failed) are dropped from the result."""
    out = []
    t0 = last = time.perf_counter()
    for n in itertools.count(1):
        it = fn()
        if it is not None:
            out.append(it)
        now = time.perf_counter()
        if n >= min_calls and now - t0 + 0.5 * (now - last) >= seconds:
            return out
        last = now


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin(pid: int, cpus: int) -> None:
    """Pin every thread of process ``pid`` to the first ``cpus`` cores.
    Threads started later inherit the mask."""
    if shutil.which("taskset"):
        subprocess.run(
            ["taskset", "-a", "-p", "-c", f"0-{cpus - 1}", str(pid)],
            check=True, capture_output=True,
        )


def run_scaling(spark, seed: int, work_dir: str):
    """The single-threaded baseline: ``pipeline_hot`` at 100k turns in a
    fresh session at local[1] with the JVM pinned to one core, then at
    local[4] pinned to four; returns the session and the 1→4 scaling
    efficiency, (throughput at 4 ÷ throughput at 1) ÷ 4. Both levels
    run in the already warm JVM."""
    from pyspark import SparkContext

    from spans import Tracer
    from workloads import PipelineHot

    pid = SparkContext._gateway.proc.pid
    tput = {}
    for n in (1, CPUS):
        spark.stop()
        pin(pid, n)
        spark, _ = start_session(n)
        w = PipelineHot(os.path.join(work_dir, f"scaling-{n}"), seed, n, Tracer(False), replicate=1)
        w.prepare(spark)
        w.iteration()  # warm-up
        its = [w.iteration() for _ in range(SCALING_ITERS)]
        tput[n] = median(i.turns_per_s for i in its)
        log(f"scaling local[{n}]: {tput[n]:.0f} turns/s")
    return spark, tput[CPUS] / tput[1] / CPUS


def traced_pair(tracer, attempt):
    """One untraced iteration, then one traced; None if either failed."""
    tracer.enabled = False
    untraced = attempt()
    tracer.enabled = True
    traced = attempt()
    return None if untraced is None or traced is None else (untraced, traced)


def run(args, work_dir: str, per_layer: dict[str, str]) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    tracer = Tracer(False)
    w = WORKLOADS[args.workload](work_dir, args.seed, CPUS, tracer)

    spark, get_spark_s = start_session(CPUS)
    w.prepare(spark)
    log(f"session and inputs ready (get_spark {get_spark_s:.2f}s)")

    failed = attempted = 0

    def attempt():
        nonlocal failed, attempted
        attempted += 1
        try:
            return w.timed_iteration()
        except Exception:  # an iteration that fails counts against error_rate
            failed += 1
            traceback.print_exc()
            return None

    w.warm_up()
    setup_s = time.perf_counter() - T0
    log(f"warm-up done; set-up took {setup_s:.2f}s")

    if not args.trace:
        its = closed_loop(attempt, args.seconds, MIN_TIMED)
        log(f"timed: {len(its)} iterations, walls {[round(i.wall_s, 3) for i in its]}")
        if not its:
            raise RuntimeError("no iteration succeeded")
        mismatches = w.check()
        log(f"JVM peak RSS {stop_jvm() / 1024:.0f} MB")
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(i.wall_s for i in its), "s"),
            "turns_per_s": (median(i.turns_per_s for i in its), "turns/s"),
            "cpu_s": (median(i.stats.cpu_s for i in its), "s"),
        }
    else:
        # Untraced and traced iterations alternate, so each traced one
        # has an untraced neighbour run under the same host conditions.
        pairs = closed_loop(lambda: traced_pair(tracer, attempt), args.seconds, MIN_PAIRS)
        log(f"(untraced, traced) walls {[(round(u.wall_s, 3), round(t.wall_s, 3)) for u, t in pairs]}")
        if not pairs:
            raise RuntimeError("no iteration succeeded")
        mismatches = w.check()
        layers = dict.fromkeys(per_layer, 0.0)
        layers.update(w.layers([t for _, t in pairs]))
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.overhead_s"] = median(t.wall_s - u.wall_s for u, t in pairs)
        layers["error_rate"] = (failed + len(mismatches)) / attempted
        log("layers measured")
        if args.workload == "pipeline_hot":
            spark, layers["scaling.efficiency_1_to_4"] = run_scaling(spark, args.seed, work_dir)
        hwm_kb = stop_jvm()
        layers["peak_rss_mb"] = (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
        unknown = set(layers) - set(per_layer)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {k: (layers[k], per_layer[k]) for k in per_layer}
    for m in mismatches:
        print(f"output mismatch: {m}", file=sys.stderr)
    return {
        "correct": failed + len(mismatches) == 0,
        "attempted": attempted,
        "failed": failed + len(mismatches),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_units() -> dict[str, str]:
    """Name → unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("fluent_plugin_record_reformer_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"run from the repository root: {need} not found in {ROOT}", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT]
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    isolate_environment(work_dir)
    try:
        result = run(args, work_dir, per_layer_units())
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
