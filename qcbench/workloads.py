"""The three QC workloads: an interactive review session, a batch QC run
over a fleet of stations, and a stream ingest into the state table.

Each workload has ``setup`` (inputs and a warm-up; counted in
``setup_s``), ``run`` (the timed loop: whole operations until the run's
seconds are spent), ``check`` (outputs read back apart from the program
and compared with numpy, self-tests included; returns failure strings),
``metrics`` (end to end) and ``layer_metrics`` (per layer, traced runs).
Every call into the library goes through ``ctx.tracer.call``, with the
span named ``<module>.<call>`` after the library module it enters.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
from spans import StatusWindow
from inputs import DAY_ROWS, RULES, VARS, sensor_table, to_arrow

import qctimeseries_spark as qc
from qctimeseries_spark.app import QcSession
from qctimeseries_spark.exports import write_exports
from qctimeseries_spark.pipeline import qc_pipeline
from qctimeseries_spark.state import MANIFEST, PART_COL, load_state, save_state
from qctimeseries_spark.streaming import stream_to_state
from qctimeseries_spark.summary import consistency_check, flag_domain_check

PART_HOURS = 24  # state tables are partitioned by day, like the QC windows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def last_commit_bytes(path: str) -> int:
    """Bytes of the partitions the state table's latest commit rewrote,
    read from the table's own commit manifest."""
    with open(os.path.join(path, MANIFEST)) as fh:
        m = json.load(fh)
    return sum(
        dir_bytes(os.path.join(path, f"{PART_COL}={p}"))
        for p, v in m["parts"].items() if v == m["version"]
    )


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


# -- review_session ----------------------------------------------------------


class ReviewSession:
    """One simulated analyst — a closed loop: each action waits for the
    previous redraw — pages through the daily windows of ``temp`` in a
    30-day, 4-variable, one-minute state table.

    A session opens the saved state table, jumps to the first window not
    yet reviewed and reviews ``WINDOWS`` windows: brush-flag the planted
    faults, approve the rest, advance; a ``checkpoint`` every
    ``SAVE_EVERY`` windows and at the end.  Every action is followed by
    the three-slice redraw, collected to Python.  Sessions repeat, each
    resuming where the last one saved, until the run's time is spent.
    """

    DAYS = 30
    VAR = "temp"
    WINDOWS = 3
    SAVE_EVERY = 2

    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        self.tab = sensor_table(ctx.seed, self.DAYS)
        src = str(ctx.tmp / "review_input.parquet")
        pq.write_table(to_arrow(self.tab), src)
        ctx.inputs_s = time.perf_counter() - t0
        self.state = str(ctx.tmp / "review_state")
        flagged = qc.add_flags(ctx.spark.read.parquet(src), list(VARS))
        save_state(flagged, self.state, time_col="ts", part_hours=PART_HOURS)
        # warm-up: a short session on a copy, so the timed part starts
        # with the JVM's code paths compiled
        warm = str(ctx.tmp / "review_warm")
        shutil.copytree(self.state, warm)
        self._reset()
        self._session(ctx, warm, start=0, windows=1, tag="warm")
        self._reset()

    def _reset(self) -> None:
        self.lat: list[float] = []
        self.redraws: list[tuple[int, int]] = []
        self.sessions: list[float] = []
        self.ckpt_bytes: list[int] = []
        self.reviewed: set[int] = set()

    def _redraw(self, ctx, s: QcSession, op) -> None:
        def draw():
            frames = ctx.tracer.call(
                "viz.redraw_build", op,
                lambda: (s.main_trace(), s.approved_overlay(), s.flagged_overlay()),
            )
            return ctx.tracer.call(
                "viz.redraw_collect", op, lambda: [f.collect() for f in frames]
            )

        main, _, _ = ctx.tracer.call("viz.redraw", op, draw)
        self.redraws.append((s.current_win_id, len(main)))

    def _interact(self, ctx, name: str, op, s: QcSession, fn) -> None:
        def both():
            ctx.tracer.call(name, op, fn)
            self._redraw(ctx, s, op)

        t0 = time.perf_counter()
        ctx.tracer.call("app.interaction", op, both, audit=False)
        self.lat.append(time.perf_counter() - t0)

    def _session(self, ctx, path: str, *, start: int, windows: int, tag: str) -> int:
        def open_():
            df = load_state(ctx.spark, path).drop(PART_COL)
            return QcSession(df, self.VAR, time_col="ts", win_hours=24.0,
                             id_col="rowid")

        s = ctx.tracer.call("app.open", f"{tag}.open", open_)
        s.jump(start)
        faults = self.tab["rowid"][self.tab["faults"][self.VAR]]
        fault_win = (faults - 1) // DAY_ROWS
        for k in range(windows):
            win = s.current_win_id
            op = f"{tag}.w{win}"
            ids = [int(i) for i in faults[fault_win == win]]
            self._interact(ctx, "app.flag_selection", op + ".flag", s,
                           lambda: s.flag_selection(ids))
            self._interact(ctx, "app.approve_unflagged", op + ".approve", s,
                           s.approve_unflagged)
            self.reviewed.add(win)
            last = k == windows - 1
            if last or (k + 1) % self.SAVE_EVERY == 0:
                self._interact(
                    ctx, "app.checkpoint", op + ".save", s,
                    lambda: s.checkpoint(path, part_hours=PART_HOURS),
                )
                if ctx.tracer.enabled:
                    self.ckpt_bytes.append(last_commit_bytes(path))
            if not last:
                self._interact(ctx, "app.next", op + ".next", s, s.next)
        return s.n_windows

    def run(self, ctx) -> None:
        deadline = time.perf_counter() + ctx.seconds
        start = 0
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            n_windows = self._session(
                ctx, self.state, start=start, windows=self.WINDOWS,
                tag=f"s{len(self.sessions)}",
            )
            self.sessions.append(time.perf_counter() - t0)
            start = (start + self.WINDOWS) % n_windows

    @property
    def attempted(self) -> int:
        return len(self.lat)

    def check(self, ctx) -> list[str]:
        got = checks.read_table(self.state)
        args = (self.tab, self.VAR, self.reviewed, self.redraws)
        fails = checks.check_review(got, *args)
        return fails + checks.selftest("review", checks.check_review, got, *args)

    def metrics(self) -> dict:
        rows = len(self.sessions) * self.WINDOWS * DAY_ROWS
        return {"op_p50_s": median(self.lat), "rows_per_s": rows / sum(self.sessions)}

    def layer_metrics(self, tr, totals) -> dict:
        return {
            "app.open_s": median(tr.durations("app.open")),
            "app.open_jobs": mean(tr.jobs("app.open")),
            "app.session_s": median(self.sessions),
            "viz.redraw_build_s": median(tr.durations("viz.redraw_build")),
            "viz.redraw_collect_s": median(tr.durations("viz.redraw_collect")),
            "viz.redraw_jobs": mean(tr.jobs("viz.redraw")),
            "app.flag_selection_s": median(tr.durations("app.flag_selection")),
            "app.flag_selection_jobs": mean(tr.jobs("app.flag_selection")),
            "app.approve_unflagged_s": median(tr.durations("app.approve_unflagged")),
            "app.approve_unflagged_jobs": mean(tr.jobs("app.approve_unflagged")),
            "app.checkpoint_s": median(tr.durations("app.checkpoint")),
            "state.checkpoint_bytes": median(self.ckpt_bytes),
        }


# -- batch_qc ----------------------------------------------------------------


BATCH_VARS = ("temp", "rh")
RULE_KW = {v: dict(lo=lo, hi=hi, max_step=step)
           for v, (lo, hi, step) in RULES.items() if v in BATCH_VARS}


class BatchQc:
    """The reference's batch workflow over a fleet of 10-day, two-variable
    station tables, one station per operation: ``qc_pipeline`` with range
    and spike rules on every variable, ``progress``, the consistency and domain
    checks, ``write_exports`` (CSV.gz, Parquet, checksums) and
    ``save_state``.  Stations run one after another until the run's time
    is spent."""

    DAYS = 10
    FLEET = 4

    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        self.tabs, self.srcs = [], []
        for s in range(self.FLEET + 1):  # the last one is the warm-up's
            tab = sensor_table(ctx.seed, self.DAYS if s < self.FLEET else 1,
                               stream=1 + s, vars_=BATCH_VARS)
            src = str(ctx.tmp / f"station{s}.parquet")
            pq.write_table(to_arrow(tab), src)
            self.tabs.append(tab)
            self.srcs.append(src)
        ctx.inputs_s = time.perf_counter() - t0
        self.done: list[dict] = []
        # warm-up: the whole operation once on a one-day station, which
        # compiles the same generated code the timed stations reuse
        self._station(ctx, self.FLEET, "warm")
        self.done = []

    def _station(self, ctx, s: int, op: str) -> None:
        tr, spark = ctx.tracer, ctx.spark
        out_dir = str(ctx.tmp / "exports" / op)
        state = str(ctx.tmp / "state" / op)
        vars_ = list(BATCH_VARS)
        t0 = time.perf_counter()
        src = spark.read.parquet(self.srcs[s])
        flagged, _, prog = tr.call(
            "pipeline.construct", op,
            lambda: qc_pipeline(src, vars_, time_col="ts", rules=RULE_KW),
        )
        prog_rows = tr.call(
            "summary.progress", op, lambda: [tuple(r) for r in prog.collect()]
        )
        cons, dom = tr.call("summary.checks", op, lambda: (
            [tuple(r) for r in consistency_check(flagged, vars_).collect()],
            [tuple(r) for r in flag_domain_check(flagged, vars_).collect()],
        ))
        window = StatusWindow(spark) if tr.enabled else None
        tr.call("exports.write", op,
                lambda: write_exports(flagged, out_dir, op, time_col="ts"))
        source_reads = window.sql_metric_sum("number of files read") if window else 0
        tr.call("state.save", op, lambda: save_state(
            flagged, state, time_col="ts", part_hours=PART_HOURS))
        wall = time.perf_counter() - t0
        rec = {"station": s, "op": op, "out_dir": out_dir, "state": state,
               "progress": prog_rows, "consistency": cons, "domain": dom,
               "wall": wall, "rows": len(self.tabs[s]["rowid"]),
               "source_reads": source_reads}
        if tr.enabled:
            plan = flagged._jdf.queryExecution().analyzed().toString()
            rec["plan_lines"] = len(plan.splitlines())
        self.done.append(rec)

    def run(self, ctx) -> None:
        deadline = time.perf_counter() + ctx.seconds
        while time.perf_counter() < deadline:
            i = len(self.done)
            self._station(ctx, i % self.FLEET, f"op{i}")

    @property
    def attempted(self) -> int:
        return len(self.done)

    def _outputs(self, rec: dict) -> dict:
        out = checks.read_exports(rec["out_dir"], rec["op"])
        out.update(progress=rec["progress"], consistency=rec["consistency"],
                   domain=rec["domain"])
        return out

    def check(self, ctx) -> list[str]:
        fails = []
        for rec in self.done:
            tab = self.tabs[rec["station"]]
            fails += [f"{rec['op']}: {m}"
                      for m in checks.check_batch(self._outputs(rec), tab)]
        first = self.done[0]
        return fails + checks.selftest(
            "batch", checks.check_batch, self._outputs(first),
            self.tabs[first["station"]],
        )

    def metrics(self) -> dict:
        walls = [r["wall"] for r in self.done]
        return {"op_p50_s": median(walls),
                "rows_per_s": sum(r["rows"] for r in self.done) / sum(walls)}

    def layer_metrics(self, tr, totals) -> dict:
        return {
            "pipeline.construct_s": median(tr.durations("pipeline.construct")),
            "pipeline.plan_lines": median([r["plan_lines"] for r in self.done]),
            "summary.progress_s": median(tr.durations("summary.progress")),
            "summary.checks_s": median(tr.durations("summary.checks")),
            "exports.write_s": median(tr.durations("exports.write")),
            "exports.bytes": median([dir_bytes(r["out_dir"]) for r in self.done]),
            "exports.source_reads": median([r["source_reads"] for r in self.done]),
            "state.save_s": median(tr.durations("state.save")),
            "state.save_bytes": median([dir_bytes(r["state"]) for r in self.done]),
        }


# -- stream_ingest -----------------------------------------------------------


STREAM_SCHEMA = "rowid bigint, ts timestamp, " + ", ".join(f"{v} double" for v in VARS)


class StreamIngest:
    """New readings arrive as ordered parquet files, one micro-batch each
    (``maxFilesPerTrigger=1``): ``BATCH_ROWS`` new one-minute rows per
    file, and every ``REDELIVER_EVERY``-th file also re-delivers
    ``REDELIVER_ROWS`` corrected earlier rows (a tenth of them now NULL).
    ``add_flags`` + ``stream_to_state`` drain the files into a daily
    partitioned state table.  One round is one drain into a fresh table;
    rounds repeat until the run's time is spent."""

    BATCHES = 7
    BATCH_ROWS = 180
    REDELIVER_EVERY = 3
    REDELIVER_ROWS = 36

    def setup(self, ctx) -> None:
        t0 = time.perf_counter()
        tab = sensor_table(ctx.seed, 2, stream=100)
        rng = np.random.default_rng([ctx.seed, 101])
        self.deliveries = []
        for b in range(self.BATCHES):
            new = np.arange(b * self.BATCH_ROWS, (b + 1) * self.BATCH_ROWS)
            old = np.array([], dtype=np.int64)
            if b % self.REDELIVER_EVERY == self.REDELIVER_EVERY - 1:
                old = np.sort(rng.choice(b * self.BATCH_ROWS, self.REDELIVER_ROWS,
                                         replace=False))
            rows = np.concatenate((old, new))
            batch = {"rowid": tab["rowid"][rows], "ts_us": tab["ts_us"][rows],
                     "vars": VARS}
            for v in VARS:
                vals = tab[v][rows].copy()
                fix = np.arange(old.size)
                vals[fix] = np.round(np.nan_to_num(vals[fix]) + 0.25, 3)
                vals[fix[rng.random(fix.size) < 0.1]] = np.nan
                batch[v] = vals
                batch["null_" + v] = np.isnan(vals)
            self.deliveries.append(batch)
        self.src = ctx.tmp / "stream_src"
        self.src.mkdir()
        for b, batch in enumerate(self.deliveries):
            f = self.src / f"batch{b:03d}.parquet"
            pq.write_table(to_arrow(batch), f)
            os.utime(f, (1_700_000_000 + 100 * b,) * 2)
        self.delivered_bytes = dir_bytes(str(self.src))
        self.rows_per_round = sum(len(b["rowid"]) for b in self.deliveries)
        ctx.inputs_s = time.perf_counter() - t0
        self.rounds: list[dict] = []
        self._drain(ctx, self.src, "warm")  # warm-up: one whole round
        self.rounds = []

    def _drain(self, ctx, src, tag: str) -> None:
        spark, tr = ctx.spark, ctx.tracer
        state = str(ctx.tmp / "stream_state" / tag)
        t0 = time.perf_counter()

        def start():
            stream = (
                spark.readStream.schema(STREAM_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            return stream_to_state(
                qc.add_flags(stream, list(VARS)), state,
                key_col="rowid", time_col="ts", part_hours=PART_HOURS,
                checkpoint_dir=str(ctx.tmp / "stream_ckpt" / tag),
            )

        def drain():
            q = tr.call("streaming.start", tag, start)
            q.awaitTermination()
            # the micro-batches ran on the query's threads: record them as
            # child spans from their progress reports
            clock = time.time() - time.perf_counter()
            for p in q.recentProgress:
                t = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                begin = t.timestamp() - clock
                end = begin + p.durationMs.get("triggerExecution", 0) / 1000.0
                tr.add("streaming.micro_batch", f"{tag}.b{p.batchId}", begin, end,
                       rows=p.numInputRows, **p.durationMs)
            return q

        q = tr.call("streaming.drain", tag, drain, audit=False)
        wall = time.perf_counter() - t0
        batches = [p.durationMs for p in q.recentProgress if p.numInputRows > 0]
        self.rounds.append({"state": state, "wall": wall, "batches": batches})

    def run(self, ctx) -> None:
        deadline = time.perf_counter() + ctx.seconds
        while time.perf_counter() < deadline:
            self._drain(ctx, self.src, f"r{len(self.rounds)}")

    @property
    def attempted(self) -> int:
        return sum(len(r["batches"]) for r in self.rounds)

    def check(self, ctx) -> list[str]:
        exp = checks.stream_expected(self.deliveries)
        fails = []
        for r in self.rounds:
            if len(r["batches"]) != self.BATCHES:
                fails.append(f"{r['state']}: {len(r['batches'])} micro-batches,"
                             f" expected {self.BATCHES}")
            got = checks.read_table(r["state"])
            fails += [f"{r['state']}: {m}" for m in checks.check_stream(got, exp)]
        got = checks.read_table(self.rounds[0]["state"])
        return fails + checks.selftest("stream", checks.check_stream, got, exp)

    def _phase(self, *keys) -> list[float]:
        return [
            sum(d.get(k, 0) for k in keys) / 1000.0
            for r in self.rounds for d in r["batches"]
        ]

    def metrics(self) -> dict:
        return {
            "op_p50_s": median(self._phase("triggerExecution")),
            "rows_per_s": self.rows_per_round * len(self.rounds)
            / sum(r["wall"] for r in self.rounds),
        }

    def layer_metrics(self, tr, totals) -> dict:
        return {
            "streaming.trigger_s": median(self._phase("triggerExecution")),
            "streaming.add_batch_s": median(self._phase("addBatch")),
            "streaming.planning_s": median(self._phase("queryPlanning")),
            "streaming.commit_s": median(self._phase("walCommit", "commitOffsets")),
            "state.merge_write_amplification":
                totals["output_bytes"] / (self.delivered_bytes * len(self.rounds)),
            "state.partitions_rewritten": totals["dynamic_parts"] / self.attempted,
        }


WORKLOADS = {
    "review_session": ReviewSession,
    "batch_qc": BatchQc,
    "stream_ingest": StreamIngest,
}
