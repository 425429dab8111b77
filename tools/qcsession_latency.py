"""QcSession interactive latency budget (VERDICT r8 task 7 /
SURVEY §7.4 risk 6; artifact form VERDICT r12 task 8).

Measures the per-EVENT cost of the reference's review loop — brush →
flag_selection → redraw slices → next window — on the sf events
table, with Spark job counts per event (``job_audit``), as the
overlay stack deepens, and across a :meth:`QcSession.checkpoint`
compaction.  Each U-op is sampled over several interactive cycles
(the working-session profile: the overlay stack deepens as samples
accrue, exactly as it would under a human reviewer) and reported as
p50/p95.  The output is the BENCHNOTES "event → jobs → wall" table,
and with ``--record [path]`` a committed JSON artifact
(``QCSESSION_LATENCY.json``) pinned for freshness by
``tests/test_example.py::test_qcsession_latency_artifact_current``.

Usage: python tools/qcsession_latency.py [sf_dir] [events_per_cycle]
       [--record [path]]
(defaults /root/testdata/sf0.1, 10, QCSESSION_LATENCY.json)
"""

from __future__ import annotations

import hashlib
import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

REPO = Path(__file__).resolve().parents[1]

#: interactive cycles sampled per U-op (first one cold)
SAMPLES = 6

#: the U-ops every record must price (pinned by the freshness test)
REQUIRED_OPS = (
    "flag_selection_50",
    "redraw_slices",
    "approve_selection_50",
    "flag_window",
    "approve_unflagged",
    "next_redraw",
)

#: the package modules the U-ops above run through
TIMED_MODULES = ("app.py", "updates.py", "viz.py", "windows.py", "state.py")


def _pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    i = max(0, min(len(s) - 1, int(round(q * (len(s) - 1)))))
    return round(s[i], 3)


def sources_sha256() -> str:
    """SHA-256 over the modules the timed U-ops run through, in
    ``TIMED_MODULES`` order — the record is stale once it changes."""
    h = hashlib.sha256()
    for name in TIMED_MODULES:
        h.update((REPO / "qctimeseries_spark" / name).read_bytes())
    return h.hexdigest()


def main() -> int:
    argv = list(sys.argv[1:])
    record_path = None
    if "--record" in argv:
        i = argv.index("--record")
        argv.pop(i)
        if i < len(argv) and not argv[i].startswith("-"):
            record_path = Path(argv.pop(i))
        else:
            record_path = REPO / "QCSESSION_LATENCY.json"
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    cycle = int(argv[1]) if len(argv) > 1 else 10

    from pyspark.sql import functions as F  # noqa: F401

    import qctimeseries_spark as qc
    from qctimeseries_spark.app import QcSession
    from qctimeseries_spark.plans import job_audit
    from qctimeseries_spark.session import get_spark
    from qctimeseries_spark.sources import read_table

    spark = get_spark("qcsession_latency")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    qc_df = qc.add_flags(ev, "value")
    sess = QcSession(qc_df, "value", time_col="ts", win_hours=24.0,
                     id_col="event_id")
    n_rows = ev.count()
    print(f"# sf_dir={sf_dir} rows={n_rows:,} windows={sess.n_windows}")

    def event(tag, fn):
        t0 = time.time()
        audit = job_audit(spark, fn)
        dt = time.time() - t0
        print(f"{tag}: jobs={audit['jobs']} wall={dt:.2f}s")
        return audit["jobs"], dt

    def redraw():
        # the three slices a front-end pulls after any update
        sess.main_trace().write.format("noop").mode("overwrite").save()
        sess.approved_overlay().write.format("noop").mode(
            "overwrite"
        ).save()
        sess.flagged_overlay().write.format("noop").mode(
            "overwrite"
        ).save()

    ids = [int(r[0]) for r in
           ev.select("event_id").limit(50).collect()]

    # ---- per-U-op p50/p95 over SAMPLES interactive cycles.  The
    # overlay stack deepens as the cycles accrue (one flag + one
    # approve layer each) — the honest working-session profile, not a
    # cold-start microbenchmark.  Job counts are taken on the first
    # (cold) cycle.
    walls: dict[str, list[float]] = {op: [] for op in REQUIRED_OPS}
    jobs: dict[str, int] = {}
    op_fns = {
        "flag_selection_50": lambda: sess.flag_selection(ids),
        "redraw_slices": redraw,
        "approve_selection_50": lambda: sess.approve_selection(ids),
        "flag_window": sess.flag_window,
        "approve_unflagged": sess.approve_unflagged,
        "next_redraw": lambda: (sess.next(), redraw()),
    }
    for rep in range(SAMPLES):
        for op in REQUIRED_OPS:
            if rep == 0:
                j, w = event(op, op_fns[op])
                jobs[op] = j
            else:
                t0 = time.time()
                op_fns[op]()
                w = time.time() - t0
            walls[op].append(w)
    rows = [(op, jobs[op], walls[op][0]) for op in REQUIRED_OPS]

    # overlay-stack growth: run `cycle` more flag+redraw events, then
    # checkpoint and measure the same event again
    print(f"# stacking {cycle} more flag_selection+redraw events ...")
    stack_walls = []
    for i in range(cycle):
        t0 = time.time()
        sess.flag_selection(ids[: 10 + i])
        redraw()
        stack_walls.append(time.time() - t0)
    print("# per-event wall while stacking:",
          [round(w, 2) for w in stack_walls])
    depth = cycle + 2 * SAMPLES
    deep_jobs, deep_wall = event(
        f"flag+redraw @ depth {depth}",
        lambda: (sess.flag_selection(ids), redraw()),
    )
    ckpt = tempfile.mkdtemp() + "/ckpt"
    t0 = time.time()
    sess.checkpoint(ckpt)
    ck_wall = time.time() - t0
    print(f"checkpoint: wall={ck_wall:.2f}s")
    shallow_jobs, shallow_wall = event(
        "flag+redraw after checkpoint",
        lambda: (sess.flag_selection(ids), redraw()),
    )
    print("\n=== BENCHNOTES table ===")
    print("| event | jobs | wall cold (s) | p50 (s) | p95 (s) |")
    print("|---|---|---|---|---|")
    for tag, j, w in rows:
        print(f"| {tag} | {j} | {w:.2f} | {_pct(walls[tag], 0.5):.2f}"
              f" | {_pct(walls[tag], 0.95):.2f} |")
    print(f"| flag+redraw @ overlay depth {depth} | {deep_jobs} "
          f"| {deep_wall:.2f} | | |")
    print(f"| checkpoint() compaction | — | {ck_wall:.2f} | | |")
    print(f"| flag+redraw after checkpoint | {shallow_jobs} "
          f"| {shallow_wall:.2f} | | |")
    stack_growth = (
        (stack_walls[-1] / stack_walls[0]) if stack_walls[0]
        else float("nan")
    )
    print(f"# stack growth over {cycle} events: {stack_growth:.2f}x; "
          f"post-checkpoint event {shallow_wall:.2f}s")

    if record_path is not None:
        record = {
            "sf_dir": sf_dir,
            "rows": n_rows,
            "windows": sess.n_windows,
            # the timed code this record prices; the freshness test
            # fails once any of those modules changes
            "sources_sha256": sources_sha256(),
            "samples_per_op": SAMPLES,
            "ops": {
                op: {
                    "jobs_cold": jobs[op],
                    "wall_cold": round(walls[op][0], 3),
                    "p50": _pct(walls[op], 0.5),
                    "p95": _pct(walls[op], 0.95),
                }
                for op in REQUIRED_OPS
            },
            "overlay_depth_probe": {
                "depth": depth,
                "jobs": deep_jobs,
                "wall": round(deep_wall, 3),
            },
            "checkpoint_wall": round(ck_wall, 3),
            "post_checkpoint": {
                "jobs": shallow_jobs,
                "wall": round(shallow_wall, 3),
            },
            "stack_growth_over_cycle": round(stack_growth, 3),
        }
        record_path.write_text(json.dumps(record, indent=1) + "\n")
        print(f"# record written: {record_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
