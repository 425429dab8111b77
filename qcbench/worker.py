"""One benchmark run inside its own process session (started by run.py).

Starts Spark through ``qctimeseries_spark.session.get_spark``, sets the
workload up, runs it for the given seconds, checks its outputs and
writes the result to ``<tmp>/result.json``.  Spark is stopped on every
path out, SIGTERM included.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))  # the checkout's library package

import qctimeseries_spark  # noqa: E402,F401 — fail fast without the library


class Ctx:
    def __init__(self, spark, tracer, tmp: Path, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.inputs_s = 0.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes), so no JVM outlives this process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def _stop(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--tmp", type=Path, required=True)
    p.add_argument("--out", type=Path, required=True)
    a = p.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    t_process = float(os.environ["QCBENCH_T0"])

    from qctimeseries_spark.session import get_spark
    from spans import StatusWindow, Tracer
    from workloads import WORKLOADS

    workload = WORKLOADS[a.workload]()
    t0 = time.perf_counter()
    spark = get_spark("qcbench")
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, bool(a.trace))
        ctx = Ctx(spark, tracer, a.tmp, a.seed, a.seconds)
        workload.setup(ctx)
        tracer.spans.clear()  # the warm-up's spans are not the run's
        setup_s = time.time() - t_process
        print(f"phase spark start {start_s:.1f} s, setup until first op {setup_s:.1f} s")
        window = StatusWindow(spark) if a.trace else None
        t0 = time.perf_counter()
        workload.run(ctx)
        print(f"phase timed {time.perf_counter() - t0:.1f} s")
        totals = window.totals() if window else None
        t0 = time.perf_counter()
        fails = workload.check(ctx)
        print(f"phase checks {time.perf_counter() - t0:.1f} s")
        for f in fails:
            print("CHECK FAILED:", f)
        if a.trace:
            metrics = {
                "session.start_s": start_s,
                "setup.inputs_s": ctx.inputs_s,
                "spark.jobs": totals["jobs"],
                "spark.tasks": totals["tasks"],
                "spark.shuffle_bytes": totals["shuffle_bytes"],
                "spark.gc_s": totals["gc_ms"] / 1000.0,
                **workload.layer_metrics(tracer, totals),
            }
            a.out.mkdir(parents=True, exist_ok=True)
            trace_file = a.out / f"trace-{a.workload}-seed{a.seed}.json"
            tracer.write(trace_file, workload=a.workload, seed=a.seed)
            print(f"spans: {len(tracer.spans)} written to {trace_file}")
            print("traced end-to-end", json.dumps(workload.metrics()))
            for name, s in sorted(tracer.self_times().items(), key=lambda x: -x[1]):
                print(f"self time {name:28s} {s:9.3f} s")
        else:
            metrics = {"setup_s": setup_s, **workload.metrics()}
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"phase spark stop {time.perf_counter() - t0:.1f} s", flush=True)
    if not a.trace:
        # peak resident set of this process plus that of the largest
        # reaped child (the JVM, whose own children fold into it);
        # kernel-kept peaks, so a clone sharing the JVM's memory before
        # its exec is never counted twice, as /proc sampling would
        kb = sum(resource.getrusage(who).ru_maxrss
                 for who in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN))
        metrics["peak_rss_mb"] = kb / 1024.0
    result = {
        "correct": not fails,
        "attempted": workload.attempted,
        "failed": 0,
        "metrics": metrics,
    }
    (a.tmp / "result.json").write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
