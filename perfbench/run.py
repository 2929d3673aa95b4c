#!/usr/bin/env python3
"""Benchmark entry point: runs one workload of the full-text engine.

    python3 perfbench/run.py --workload serve_hot --seed 7 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It generates the
seeded inputs, runs the workload through the engine's public API in one
``local[nproc]`` Spark session, checks every output, prints a table of
named metrics with units and sample counts, and prints as its LAST line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are its per-layer ones, from a run whose layer entry
points are wrapped in spans (written to ``.perfbench_out/``).

Everything the run writes (Spark scratch, corpus, index dirs) lives under
``.perfbench_run/<pid>/`` in the checkout and is removed at exit.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _children_of(pids: set[int]) -> set[int]:
    """Every live process descending from ``pids`` (read from /proc)."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out: set[int] = set()
    frontier = set(pids)
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return pids


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait until every
    process the session started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    started = _children_of({os.getpid()})
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = _wait_gone(started, 30)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(left, 10)


def session_env(work: str) -> None:
    """Keep Spark's and Python's scratch inside the checkout and pin the
    session shape, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    ]))


def print_table(rows) -> None:
    """rows: (name, value, unit, sample count or "")."""
    print(f"{'metric':<36} {'value':>16} {'unit':<12} n")
    for name, value, unit, n in rows:
        print(f"{name:<36} {value:>16.6g} {unit:<12} {n}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if not os.path.isdir(os.path.join(ROOT, "montezuma_spark")):
        print("perfbench: no montezuma_spark package in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    session_env(work)
    spark = None
    try:
        from montezuma_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setJobGroup("perfbench", "benchmark")
        session_s = time.perf_counter() - t0
        run = Run(spark, args.seed, args.seconds, work,
                  Tracer() if args.trace else None)
        run.log(f"session up in {session_s:.1f} s")
        e2e = WORKLOADS[args.workload](run, session_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.log("stopped")
    if run.tracer is not None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.write(os.path.join(
            out, f"trace-{args.workload}-{args.seed}.jsonl"))
    metrics = ({k: (v, "") for k, v in run.layers.items()}
               if args.trace else e2e)
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(metrics)} do not match "
              f"BENCHMARK.json {kind} {sorted(units)}", file=sys.stderr)
        return 1
    error_rate = run.failed / run.attempted
    print_table(run.table + [("error_rate", error_rate, "ratio", run.attempted)]
                + [(k, v, units[k], n) for k, (v, n) in metrics.items()])
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, (v, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
