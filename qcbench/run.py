"""QC benchmark entry point.

    python3 qcbench/run.py --workload review_session --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Starts ``worker.py`` in a process
session of its own with Spark on ``local[N]`` (N = min(2, CPUs) via
``SPARK_GRAFT_CPUS``) and every temp directory under
``.qcbench_tmp/<run>``; on exit — normal, failed check, crash, SIGTERM
or the deadline — stops every process in that session and removes the
temp root.  The last line of standard output is
the result JSON; a run that cannot produce one exits non-zero without it.
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
from pathlib import Path

T0 = time.time()
HERE = Path(__file__).resolve().parent
DEADLINE_S = 170  # a run must end within 180 s
HEAP = "1g"  # driver JVM heap


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; return once
    none is left."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + wait
        while pids and time.time() < end:
            time.sleep(0.1)
            pids = session_pids(sid)
        if not pids:
            return
    raise RuntimeError(f"processes {session_pids(sid)} survived SIGKILL")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = Path.cwd()
    tmp = root / ".qcbench_tmp" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    (tmp / "t").mkdir()
    # two task slots leave the other CPUs to the driver's own threads
    # (planning, code generation, GC, the Python side): on a 4-CPU host
    # local[2] ran as fast as local[4], with less run-to-run spread
    cpus = min(2, len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        QCBENCH_T0=repr(T0),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=HEAP,
        TMPDIR=str(tmp / "t"),
        # no hsperfdata files in /tmp from any JVM, no bytecode caches
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 't'}",
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # the whole heap is committed and touched at start, so the
            # memory reading does not depend on when G1 grows the heap
            f"--driver-java-options '-Xms{HEAP} -XX:+AlwaysPreTouch'",
            f"--conf spark.sql.warehouse.dir={tmp / 'warehouse'}",
            "pyspark-shell",
        ]),
    )
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--tmp", str(tmp), "--out", str(root / ".qcbench_out"),
    ]
    got_signal: list[int] = []

    def on_signal(signum, frame):
        got_signal.append(signum)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, on_signal)
    proc = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
    try:
        while proc.poll() is None:
            if got_signal or time.time() - T0 > DEADLINE_S:
                proc.terminate()  # the worker stops Spark on SIGTERM
                try:
                    proc.wait(timeout=5)
                except subprocess.TimeoutExpired:
                    pass
                break
            time.sleep(0.5)
    finally:
        t_stop = time.time()
        stop_session(proc.pid)
        proc.wait()
        result_file = tmp / "result.json"
        result = json.loads(result_file.read_text()) if result_file.exists() else None
        shutil.rmtree(tmp)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass  # another run's temp root is still there
        print(f"phase worker exit -> session gone {time.time() - t_stop:.1f} s,"
              f" run total {time.time() - T0:.1f} s")
    if got_signal:
        return 128 + got_signal[0]
    if proc.returncode != 0 or result is None:
        print(f"worker exited with {proc.returncode} and no result", file=sys.stderr)
        return 1
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = result["metrics"]
    # a layer a workload never enters reads 0; an end-to-end metric
    # every workload must measure
    result["metrics"] = {
        m["name"]: {
            "value": measured.get(m["name"], 0.0) if a.trace else measured[m["name"]],
            "unit": m["unit"],
        }
        for m in names
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
