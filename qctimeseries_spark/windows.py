"""Anchored tumbling time-windows — the reference's central operator.

Reference semantics (SURVEY.md §2.4; ``make_windows``
``R/qc_window_app.R:67-79``): a window is a fixed-width bucket of
``hours`` hours, anchored at the SERIES MINIMUM time (not the epoch):

    win_id = floor((t - min(t)) / (hours * 3600s))

Two-pass implementation (§4): a tiny ``agg(min(t))`` job computes the
anchor, then bucket assignment is a narrow projection.  We deliberately
do NOT use epoch-anchored ``F.window`` — the anchor offset differs per
dataset.  At scale the anchor is one cheap columnar-stats scan
(min/max from Parquet footers where possible) and the assignment adds
no shuffle; window slicing (`filter(win_id == k)`) prunes partitions
when the table is written partitioned/sorted by time.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qctimeseries_spark.schema import (
    DEFAULT_SUFFIX,
    flag_col,
    validate_flag_exists,
    validate_time_col,
)

ROWID_COL = "rowid"
WIN_COL = "win_id"

#: bucket id for NULL timestamps in :func:`with_rowid` — sorts before
#: every real time bucket so NULL-time rows take the first rowids.
_NULL_BUCKET = -(1 << 62)


def _floor_div_sql(num_sql: str, den: int) -> str:
    """Exact integer floor division as a SQL fragment.

    ``DIV`` truncates toward zero, which equals floor only for
    non-negative numerators; float ``floor(a / b)`` is inexact near
    bucket boundaries for µs-scale integers.  This adjusts ``DIV`` by 1
    for negative non-exact quotients — exact at any magnitude and
    mirrored by Python ``//`` on the driver side.
    """
    return (
        f"((({num_sql}) DIV {den}L) - (CASE WHEN (({num_sql}) % {den}L) != 0"
        f" AND ({num_sql}) < 0 THEN 1 ELSE 0 END))"
    )


def with_rowid(
    df: DataFrame,
    time_col: str,
    col: str = ROWID_COL,
    *,
    bucket_hours: float = 24.0,
    ties: list[str] | None = None,
) -> DataFrame:
    """F2 stable row identity: ``row_number() OVER (ORDER BY t)``
    (reference ``.rowid := .I``, ``R/qc_window_app.R:65``) — computed
    distributed, never through one task.

    Two-phase plan: rows are bucketed by a fixed time width (monotone
    in the sort key, so per-bucket order concatenates to the global
    order); one tiny aggregation counts rows per bucket and a prefix
    sum over that (one row per bucket) yields each bucket's starting
    offset; rowid = offset + row_number within the bucket.  Both heavy
    stages shuffle on the bucket key across all executors — the naive
    ``row_number() OVER (ORDER BY t)`` funnels the entire table through
    a single task.  Time-derived bucketing (vs ``repartitionByRange``)
    keeps the assignment deterministic under recomputation: range
    sampling could place boundaries differently between the count job
    and the numbering job.

    Still an *ingest-time, run-once* operator: materialize the result
    to Parquet and treat ``rowid`` as an immutable primary key
    thereafter (SURVEY.md §7.4).  For sources that already carry a
    unique ordered id (e.g. ``event_id``), pass that column around
    instead and skip this entirely.  ``bucket_hours`` tunes
    parallelism: aim for ≥ cluster cores buckets over the series span.

    ``ties`` names the tie-break columns for equal timestamps; the
    default (every other column) is total but forces the scan to read
    the full row — pass a unique key (e.g. ``["event_id"]``) so column
    pruning reaches the Parquet scan.

    NULL timestamps are kept (the reference's ``.rowid := .I`` numbers
    every row): they fall into a sentinel bucket that sorts before all
    real buckets, matching Spark's NULLS FIRST ascending order, and are
    tie-broken by ``ties``.
    """
    validate_time_col(df, time_col)
    tie_cols = ties if ties is not None else [c for c in df.columns if c != time_col]
    ties = [F.col(c) for c in tie_cols]
    width_us = round(float(bucket_hours) * 3600.0 * 1_000_000)
    bucket = F.coalesce(
        F.expr(_floor_div_sql(f"unix_micros(`{time_col}`)", width_us)),
        F.lit(_NULL_BUCKET),
    )
    bucketed = df.withColumn("_rid_bucket", bucket)
    counts = bucketed.groupBy("_rid_bucket").count()
    cum = Window.orderBy("_rid_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_rid_bucket",
        F.coalesce(F.sum("count").over(cum), F.lit(0)).alias("_rid_offset"),
    )
    return _number_from_offsets(bucketed, offsets, time_col, ties, col)


def _number_from_offsets(
    bucketed: DataFrame,
    offsets: DataFrame,
    time_col: str,
    ties: list,
    col: str,
) -> DataFrame:
    """Final phase of :func:`with_rowid`: join each row to its bucket's
    starting offset and number within the bucket.

    The sum is BIGINT end-to-end — ``offsets`` carries ``sum(count)``
    (already long) and the result is cast to ``long``, never ``int``:
    at the 100 TB design point the row count exceeds 2^31 and an int
    cast would silently wrap rowids negative (R's integer ``.I`` errors
    at overflow; a silent wrap corrupts the primary key).  Factored out
    so tests can drive it with synthetic offsets straddling 2^31.
    """
    within = Window.partitionBy("_rid_bucket").orderBy(
        F.col(time_col).asc_nulls_first(), *ties
    )
    return (
        bucketed.join(F.broadcast(offsets), "_rid_bucket")
        .withColumn(
            col,
            (F.col("_rid_offset") + F.row_number().over(within)).cast("long"),
        )
        .drop("_rid_bucket", "_rid_offset")
    )


def window_anchor(df: DataFrame, time_col: str) -> _dt.datetime:
    """A4 global ``min(t)`` — the window anchor ``t0``
    (``R/qc_window_app.R:68``)."""
    validate_time_col(df, time_col)
    row = df.agg(F.min(time_col).alias("t0")).collect()[0]
    if row["t0"] is None:
        raise ValueError(f"cannot anchor windows: {time_col!r} is all NULL")
    return row["t0"]


def window_id_expr(time_col: str, hours: float, anchor: _dt.datetime):
    """W1/F3 bucket expression: floor(time-since-anchor / width).

    Computed in exact integer MICROSECONDS (``unix_micros``), not float
    seconds: float rounding at a bucket boundary could shift a row —
    including the anchor row itself — into the wrong window, and makes
    results engine-dependent.  Integer division is exact and portable
    (the DuckDB oracle mirrors it with ``epoch_us(ts) // width``).
    """
    t0_us = round(anchor.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    width_us = round(float(hours) * 3600.0 * 1_000_000)
    # True floor (not DIV): callers may pass an anchor later than
    # min(t), and rows before the anchor must land in NEGATIVE windows
    # rather than collapsing into window 0.
    div = _floor_div_sql(f"unix_micros(`{time_col}`) - {t0_us}L", width_us)
    return F.expr(f"CAST({div} AS INT)")


def assign_windows(
    df: DataFrame,
    time_col: str,
    hours: float,
    *,
    anchor: _dt.datetime | None = None,
    col: str = WIN_COL,
) -> DataFrame:
    """W1 window assignment (``R/qc_window_app.R:69-70``).

    ``anchor=None`` runs the two-pass min(t); pass a precomputed anchor
    to keep the plan fully lazy (e.g. from table stats).
    """
    if anchor is None:
        anchor = window_anchor(df, time_col)
    return df.withColumn(col, window_id_expr(time_col, hours, anchor))


def admitted_windows(
    df: DataFrame,
    var: str,
    suffix: str = DEFAULT_SUFFIX,
    *,
    include: tuple[int, ...] | None = (-2, 0, 1),
    win_col: str = WIN_COL,
) -> DataFrame:
    """W3–W5: which windows are shown, densely renumbered.

    QC-app admission (``R/qc_window_app.R:74-75``): a window is admitted
    iff it has ≥1 non-NULL ``var`` AND ≥1 row with flag in ``include``
    (the UI's "show windows containing" set).  The default matches the
    reference's ``include = c(-2, 0, 1)`` (all UI states checked,
    ``R/qc_window_app.R:67``); pass ``include=(0,)`` for the
    unchecked-only view.  Viewer admission (``R/ts_viewer.R:67-68``):
    pass ``include=None`` for the value-only condition (W4).

    Returns (win_id, win_index) with ``win_index`` = 0..n-1 dense over
    admitted windows in win_id order (W5, ``R/qc_window_app.R:76``).
    The result is tiny (one row per admitted window) — cache it per
    width/filter change, as the reference rebuilds its index (W6).
    """
    conds = [F.max(F.col(var).isNotNull().cast("int")).alias("has_y")]
    if include is not None:
        f = validate_flag_exists(df, var, suffix)
        conds.append(F.max(F.col(f).isin(*include).cast("int")).alias("has_incl"))
    agg = df.groupBy(win_col).agg(*conds)
    admitted = agg.filter(F.col("has_y") == 1)
    if include is not None:
        admitted = admitted.filter(F.col("has_incl") == 1)
    w = Window.orderBy(win_col)
    return admitted.select(
        win_col, (F.dense_rank().over(w) - 1).alias("win_index")
    )


def window_slice(df: DataFrame, win_id: int, win_col: str = WIN_COL) -> DataFrame:
    """W2 per-window row retrieval — partition pruning does the indexing."""
    return df.filter(F.col(win_col) == win_id)


def window_range(
    df: DataFrame, time_col: str, win_col: str = WIN_COL
) -> DataFrame:
    """W8 per-window actual time range + row count
    (``R/qc_window_app.R:337``)."""
    return (
        df.groupBy(win_col)
        .agg(
            F.min(time_col).alias("t_min"),
            F.max(time_col).alias("t_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(win_col)
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    time_col: str,
    *,
    gap_minutes: float = 30.0,
    col: str = "session_id",
    ties: list[str] | None = None,
) -> DataFrame:
    """Per-key session assignment: a new session starts after a gap of
    more than ``gap_minutes`` between consecutive events.

    One shuffle on the key; within each key the session id is the
    running count of gap-exceeding steps (lag + cumulative sum over the
    same sorted window, so the sort is done once).  ``ties`` break
    equal timestamps deterministically.  NULL timestamps sort first
    within their key and EACH starts its own session (ids 1..k for k
    NULL rows — the lag is NULL at every one of them, and a NULL gap is
    treated as a break, same as the first real row after the NULL run);
    :func:`sessionize_salted` behaves identically.  Filter NULL
    timestamps upstream if they should not count as sessions.
    """
    validate_time_col(df, time_col)
    gap_us = round(gap_minutes * 60.0 * 1_000_000)
    order = [F.col(time_col), *(F.col(c) for c in ties or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    t_us = F.unix_micros(F.col(time_col))
    prev = F.lag(t_us).over(w)
    new_sess = F.when(prev.isNull() | ((t_us - prev) > gap_us), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(col, F.sum(new_sess).over(run).cast("int"))


def hot_keys(
    df: DataFrame,
    key_col: str,
    *,
    threshold_frac: float = 0.2,
    sample_frac: float = 0.01,
    seed: int = 7,
) -> DataFrame:
    """Estimate which keys dominate the table: one cheap
    ``sample → groupBy(key).count()`` pass, returning keys whose sampled
    share exceeds ``threshold_frac`` with their estimated share.

    Per-key ordered operators (:func:`sessionize`,
    :func:`~qctimeseries_spark.joins.asof_join`) put each key's rows
    through one sort task; at 100 TB a power-law key (one device/user
    holding half the events) makes that task the straggler that
    dominates the stage.  Run this on ingest samples and route flagged
    corpora through :func:`sessionize_salted`.
    """
    s = df.sample(False, sample_frac, seed=seed).select(key_col)
    total = s.count()
    if total == 0:
        s, total = df.select(key_col), df.count()
    if total == 0:
        return df.sparkSession.createDataFrame(
            [], f"`{key_col}` string, est_share double"
        )
    return (
        s.groupBy(key_col)
        .agg((F.count(F.lit(1)) / F.lit(float(total))).alias("est_share"))
        .filter(F.col("est_share") >= threshold_frac)
    )


def sessionize_salted(
    df: DataFrame,
    key_col: str,
    time_col: str,
    *,
    gap_minutes: float = 30.0,
    col: str = "session_id",
    ties: list[str] | None = None,
    block_hours: float = 24.0,
) -> DataFrame:
    """Skew-hardened :func:`sessionize`: identical session ids, no
    single-task-per-key sort.

    Two phases.  (1) Rows are split into coarse time blocks
    (``block_hours``) and sessions are computed per (key, block) — the
    sort window partitions on (key, block), so a hot key's rows spread
    over #blocks tasks instead of one.  (2) A per-(key, block) summary
    (first/last event, session count — #keys × #blocks rows, tiny)
    decides for each block boundary whether the first session of block
    b continues the last session of block b−1 (boundary gap ≤ the
    threshold); a running offset (Σ prior session counts − Σ bridges)
    renumbers intra-block ids into exactly the global ids the unsalted
    path produces — pinned by a property test against :func:`sessionize`
    on a corpus where one key holds half the rows.

    Merging is transitive: a session spanning many blocks bridges every
    intermediate boundary and each bridge decrements the offset by one.
    NULL timestamps land in a NULL block that sorts first and never
    bridges — the same per-row new-session behavior the unsalted lag
    formulation gives them.  Cost vs :func:`sessionize`: one extra
    small aggregation and a broadcast-sized join back on (key, block).
    """
    validate_time_col(df, time_col)
    gap_us = round(gap_minutes * 60.0 * 1_000_000)
    width_us = round(block_hours * 3600.0 * 1_000_000)
    t_us = F.unix_micros(F.col(time_col))
    # NULL timestamps get a smallest-sorting sentinel block: a NULL _blk
    # would fall out of the equi-join back and sort ambiguously
    d = df.withColumn(
        "_blk",
        F.coalesce(
            F.expr(_floor_div_sql(f"unix_micros(`{time_col}`)", width_us)),
            F.lit(-(2**63)).cast("long"),
        ),
    )
    order = [F.col(time_col), *(F.col(c) for c in ties or [])]
    w = Window.partitionBy(key_col, "_blk").orderBy(*order)
    prev = F.lag(t_us).over(w)
    new_sess = F.when(prev.isNull() | ((t_us - prev) > gap_us), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    d = d.withColumn("_s", F.sum(new_sess).over(run))

    summ = d.groupBy(key_col, "_blk").agg(
        F.min(t_us).alias("_first"),
        F.max(t_us).alias("_last"),
        F.max("_s").alias("_n"),
    )
    wb = Window.partitionBy(key_col).orderBy(F.col("_blk").asc())
    prev_last = F.lag(F.col("_last")).over(wb)
    # NULL boundary gap (first block, or a NULL-time block before) never
    # bridges — mirroring the unsalted lag: a NULL prev starts a session
    bridge = F.when((F.col("_first") - prev_last) <= gap_us, 1).otherwise(0)
    summ = summ.withColumn("_bridge", bridge)
    wrun = wb.rowsBetween(Window.unboundedPreceding, 0)
    offset = (F.sum("_n").over(wrun) - F.col("_n")) - F.sum("_bridge").over(
        wrun
    )
    summ = summ.select(key_col, "_blk", offset.alias("_off"))

    return (
        d.join(summ, [key_col, "_blk"])
        .withColumn(col, (F.col("_s") + F.col("_off")).cast("int"))
        .drop("_blk", "_s", "_off")
    )


def window_extent(
    anchor: _dt.datetime, win_id: int, hours: float, pad: float = 0.02
) -> tuple[_dt.datetime, _dt.datetime]:
    """W7 nominal bucket bounds ±pad for display
    (``window_xr0`` ``R/qc_window_app.R:215-226``). Pure driver math."""
    width = _dt.timedelta(hours=hours)
    lo = anchor + win_id * width
    hi = lo + width
    margin = _dt.timedelta(seconds=width.total_seconds() * pad)
    return lo - margin, hi + margin


def regularize(
    df: DataFrame,
    time_col: str = "ts",
    *,
    step_minutes: float,
    lo: _dt.datetime | None = None,
    hi: _dt.datetime | None = None,
) -> DataFrame:
    """Materialize a fixed-cadence time grid over the series extent and
    left-join the data onto it: every grid instant becomes a row, with
    NULL data columns and ``is_gap = 1`` where no observation exists.

    The preparation step the reference leaves to the user — its
    workflow requires a regular, NA-time-free series
    (`vignettes/overall_workflow.Rmd:57-58`); real loggers drop rows.
    Composes directly with ``add_flags``: materialized gaps get value
    NULL, which F1 marks as flag −1 (original-NA) — so "missing
    timestamp" and "missing value" flow through one QC vocabulary.

    Only EXACT on-grid timestamps match (pre-aggregate jittered data to
    the grid cadence first — e.g. groupBy a time bucket); off-grid rows
    are dropped from the output, by design.

    Scale shape: grid bounds come from one min/max stats scan (or pass
    ``lo``/``hi``); the grid itself is ``spark.range`` — generated
    DISTRIBUTED, never a single sequence array in one task — and the
    join is a plain equi-join on the timestamp, which AQE broadcasts
    when the data side is small or shuffles on a uniform key otherwise.
    """
    step_us = int(round(step_minutes * 60 * 1_000_000))
    if step_us <= 0:
        raise ValueError("step_minutes must be positive")
    if lo is None or hi is None:
        # the bounds scan below and the grid join both read ``df`` —
        # unmaterialized, the caller's upstream pipeline (typically a
        # scan + filter + bucket aggregation) ran twice per call
        df = df.localCheckpoint(eager=True)
        b = df.agg(
            F.min(time_col).alias("lo"), F.max(time_col).alias("hi")
        ).collect()[0]
        lo = lo if lo is not None else b["lo"]
        hi = hi if hi is not None else b["hi"]
    if lo is None or hi is None:
        raise ValueError("cannot derive grid bounds from an empty series")
    lo_us = int(lo.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    hi_us = int(hi.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    if hi_us < lo_us:
        raise ValueError("hi precedes lo")
    n = (hi_us - lo_us) // step_us
    spark = df.sparkSession
    grid = spark.range(n + 1).select(
        F.timestamp_micros(
            F.lit(lo_us) + F.col("id") * F.lit(step_us)
        ).alias("grid_ts")
    )
    j = grid.join(
        df.withColumnRenamed(time_col, "_obs_ts"),
        F.col("grid_ts") == F.col("_obs_ts"),
        "left",
    )
    return j.withColumn(
        "is_gap", F.col("_obs_ts").isNull().cast("int")
    ).drop("_obs_ts")


def fill_forward(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    block_hours: float = 24.0,
    out_col: str | None = None,
    key_col: str | None = None,
    max_gap_seconds: float | None = None,
) -> DataFrame:
    """Last-observation-carried-forward over a single global series —
    the imputation step after :func:`regularize` (fill the gap rows
    from the last real observation).

    ``max_gap_seconds`` bounds how far a value carries: gap rows more
    than that far from the observation stay NULL — the QC-integrity
    knob that keeps imputation from inventing data across day-long
    holes.

    The naive formulation — ``last(value, ignorenulls) OVER (ORDER BY
    t)`` with no partitioning — funnels the whole series through ONE
    task, the same scale-killer the salted sessionizer avoids.  This is
    the two-phase version, exact at any size:

    1. per time-block (``block_hours``-wide buckets, parallel): the
       running last non-null within the block;
    2. block boundaries: each block's final non-null value (one tiny
       frame, #blocks rows) cumulated in block order, then broadcast
       back — a row whose block has no earlier non-null in-block value
       takes the carry from the latest preceding block.

    Rows before the first observation stay NULL.  Requires unique
    ``time_col`` values (regularized series satisfy this).
    """
    out_col = out_col or f"{value_col}_filled"

    def _cap(frame: DataFrame, t_src) -> DataFrame:
        if max_gap_seconds is None:
            return frame
        age = F.unix_micros(F.col(time_col)) - F.unix_micros(t_src)
        return frame.withColumn(
            out_col,
            F.when(
                age <= int(max_gap_seconds * 1_000_000), F.col(out_col)
            ),
        )

    if key_col is not None:
        # keys partition naturally: one plain partitioned window
        w = (
            Window.partitionBy(key_col)
            .orderBy(time_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        obs = F.when(
            F.col(value_col).isNotNull(),
            F.struct(
                F.col(time_col).alias("t"), F.col(value_col).alias("v")
            ),
        )
        got = F.last(obs, ignorenulls=True).over(w)
        out = df.withColumn("_ff", got).withColumn(
            out_col, F.col("_ff")["v"]
        )
        out = _cap(out, F.col("_ff")["t"])
        return out.drop("_ff")
    d = _directional_carry(
        df, time_col, value_col,
        block_hours=block_hours, forward=True, t_out="_ft", v_out="_fv",
    )
    out = d.withColumn(out_col, F.col("_fv"))
    out = _cap(out, F.col("_ft"))
    return out.drop("_ft", "_fv")

def cusum(
    df: DataFrame,
    value_col: str,
    time_col: str,
    *,
    target,
    slack=0,
    threshold=None,
    key_col: str | None = None,
    ties: list[str] | None = None,
    pos_col: str = "cusum_pos",
    neg_col: str = "cusum_neg",
    alarm_col: str = "cusum_alarm",
) -> DataFrame:
    """Two-sided CUSUM drift statistics per series — the classic
    change-point screen (Page 1954): ``s⁺`` accumulates excursions
    above ``target + slack``, ``s⁻`` below ``target − slack``, each
    resetting at 0; ``alarm`` fires while either exceeds
    ``threshold``.  Catches slow sensor drift that per-point range and
    spike rules (``rules.apply_qc_rules``) never see.

    Scale shape: the textbook recurrence ``s⁺_i = max(0, s⁺_{i-1} +
    x_i − k)`` looks inherently sequential, but it unrolls to prefix
    sums — ``s⁺_i = P_i − min(0, min_{j≤i} P_j)`` and mirrored for
    ``s⁻`` with a running max — so the whole computation is two
    partitioned window passes (cumsum, then running min/max of it):
    one shuffle on the key, no per-row Python, no single-task stage.

    Cross-engine determinism: feed an INTEGER-unit value column (e.g.
    centi-units via ``round(x * 100)``) with integer target/slack —
    integer prefix sums are exact under any summation association, so
    results hash bit-equal vs the SQL mirror (the ``st6``/``a14``
    discipline).  Raw doubles work but windowed float sums may differ
    in the last bits across engines.  NULL values contribute nothing
    (the statistic carries through); rows before the first non-NULL
    value have NULL statistics.
    """
    part = [key_col] if key_col else []
    order = [F.col(time_col), *(F.col(c) for c in ties or [])]
    w = Window.partitionBy(*part).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    x = F.col(value_col)
    p = F.sum(x - (F.lit(target) + F.lit(slack))).over(w)
    m = F.sum(x - (F.lit(target) - F.lit(slack))).over(w)
    staged = df.withColumn("_cu_p", p).withColumn("_cu_m", m)
    w2 = Window.partitionBy(*part).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = staged.withColumn(
        pos_col,
        F.col("_cu_p")
        - F.least(F.lit(0).cast("double"), F.min("_cu_p").over(w2)),
    ).withColumn(
        neg_col,
        F.greatest(F.lit(0).cast("double"), F.max("_cu_m").over(w2))
        - F.col("_cu_m"),
    )
    if threshold is not None:
        out = out.withColumn(
            alarm_col,
            F.coalesce(
                (F.col(pos_col) > threshold) | (F.col(neg_col) > threshold),
                F.lit(False),
            ),
        )
    return out.drop("_cu_p", "_cu_m")


def rolling_stats(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    window_seconds: float,
    block_hours: float | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Trailing time-range rolling mean / sample-stddev / count: for
    each row, aggregates of ``value_col`` across ``[t - window_seconds,
    t]`` of its series.

    The basis for automated QC candidate flagging (rolling z-score
    outliers) — the step the reference leaves to the reviewer's eye.

    With ``key_col`` the window partitions naturally per key (a plain
    partitioned range window — scale-safe when no single key dominates;
    for a dominant hot key, run the keyless path on that key's slice).
    Without a key — ONE global series — the naive ``RANGE BETWEEN``
    window is a single task, so halo blocks apply: rows are bucketed
    into blocks ≥ the window radius; each row is ALSO copied into the
    next block when it lies within the radius of its block's end (the
    halo), so every trailing window is fully contained in one block's
    partition.  The range window then runs per block in parallel, and
    only center copies are kept — row-identical to the global
    formulation, at a duplication cost of radius/block ≪ 1.

    Emits ``roll_mean`` / ``roll_std`` / ``roll_n`` (6-dp rounded so
    cross-engine float comparisons are stable).
    """
    r_us = int(round(window_seconds * 1_000_000))
    if r_us <= 0:
        raise ValueError("window_seconds must be positive")
    us = F.unix_micros(F.col(time_col))
    if key_col is not None:
        w = (
            Window.partitionBy(key_col)
            .orderBy(us.alias("_us"))
            .rangeBetween(-r_us, 0)
        )
        return (
            df.withColumn("roll_mean", F.round(F.avg(value_col).over(w), 6))
            .withColumn(
                "roll_std", F.round(F.stddev_samp(value_col).over(w), 6)
            )
            .withColumn("roll_n", F.count(value_col).over(w))
        )
    if block_hours is None:
        block_hours = max(4 * window_seconds / 3600.0, 24.0)
    b_us = int(round(block_hours * 3600 * 1_000_000))
    if b_us < r_us:
        raise ValueError("block_hours must cover the window radius")
    blk = F.expr(_floor_div_sql(f"unix_micros(`{time_col}`)", b_us))
    center = df.withColumn("_blk", blk).withColumn("_ctr", F.lit(True))
    halo = (
        df.withColumn("_blk", blk + 1)
        .withColumn("_ctr", F.lit(False))
        # within the radius of the block end: the next block's early
        # rows reach back to it
        .filter(us - (blk * F.lit(b_us)) >= F.lit(b_us - r_us))
    )
    u = center.unionByName(halo)
    w = (
        Window.partitionBy("_blk")
        .orderBy(us.alias("_us"))
        .rangeBetween(-r_us, 0)
    )
    out = (
        u.withColumn("roll_mean", F.round(F.avg(value_col).over(w), 6))
        .withColumn("roll_std", F.round(F.stddev_samp(value_col).over(w), 6))
        .withColumn("roll_n", F.count(value_col).over(w))
        .filter(F.col("_ctr"))
        .drop("_blk", "_ctr")
    )
    return out


def seasonal_baseline(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    by: list[str] | None = None,
    season: str = "hour",
    iqr_mult: float = 1.5,
    season_col: str = "season",
) -> DataFrame:
    """Seasonal-profile anomaly screen: each row is compared to the
    robust baseline of its OWN seasonal bucket (hour-of-day by
    default) instead of a trailing window — the screen that catches a
    3 a.m. reading that is normal at 3 p.m. (`rolling_stats` cannot:
    its trailing window mixes all phases of the daily cycle).

    Baseline per ``(by…, season)`` group = exact DISCRETE median
    (``percentile_disc`` picks a data element, so both engines pick
    the SAME element — interpolated medians differ in last-ulp
    arithmetic); spread = the discrete inter-quartile range.  A row is
    anomalous when ``|value − median| > iqr_mult · IQR`` — the classic
    Tukey fence on robust statistics, immune to the outliers it is
    hunting (a z-score baseline inflates its own stddev).

    Scale shape: the profile aggregation shuffles only the projected
    ``(by…, season, value)`` columns (percentile_disc is sort-based —
    no partial agg — so project BEFORE aggregating; Catalyst prunes
    the rest of the row), and the profile itself is tiny (|by-domain|
    × 24 rows), so the join back is a broadcast — the full-width rows
    never shuffle.  Emits ``season_col`` / ``seasonal_med`` /
    ``seasonal_iqr`` / ``seasonal_dev`` / ``is_anomaly``; all derived
    values are IEEE ops over engine-identical inputs, so results are
    bit-reproducible cross-engine with no rounding.  NULL values get
    NULL deviation and NULL flag (and are ignored by the profile, the
    percentile convention in both engines).
    """
    if season == "hour":
        s_expr = F.hour(F.col(time_col))
    elif season == "dow":
        # 0=Sunday..6=Saturday (dayofweek is 1-based in Spark)
        s_expr = F.dayofweek(F.col(time_col)) - 1
    elif season == "month":
        s_expr = F.month(F.col(time_col))
    else:
        raise ValueError(f"unknown season {season!r}")
    by = list(by or [])
    tagged = df.withColumn(season_col, s_expr.cast("int"))
    qd = "percentile_disc({q}) WITHIN GROUP (ORDER BY `" + value_col + "`)"
    profile = (
        tagged.select(*by, season_col, value_col)
        .groupBy(*by, season_col)
        .agg(
            F.expr(qd.format(q=0.5)).alias("seasonal_med"),
            (
                F.expr(qd.format(q=0.75)) - F.expr(qd.format(q=0.25))
            ).alias("seasonal_iqr"),
        )
    )
    dev = F.col(value_col) - F.col("seasonal_med")
    return (
        tagged.join(F.broadcast(profile), by + [season_col], "left")
        .withColumn("seasonal_dev", dev)
        .withColumn(
            "is_anomaly",
            F.abs(dev) > F.lit(iqr_mult) * F.col("seasonal_iqr"),
        )
    )


def flag_outlier_candidates(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    window_seconds: float,
    z: float = 4.0,
    min_n: int = 5,
    key_col: str | None = None,
) -> DataFrame:
    """Rolling z-score outlier candidates: ``is_outlier = 1`` where the
    value sits more than ``z`` rolling sample deviations from the
    trailing-window mean (windows with fewer than ``min_n``
    observations or zero spread never flag).

    Candidates, not verdicts: feed the result's predicate into the
    U-op vocabulary (e.g. ``flag_rows``) so a reviewer approves or
    confirms — automation proposes, the QC workflow disposes.  The
    z-test uses the ROUNDED rolling stats so the decision boundary is
    reproducible cross-engine.
    """
    s = rolling_stats(
        df, time_col, value_col,
        window_seconds=window_seconds, key_col=key_col,
    )
    ok = (F.col("roll_n") >= min_n) & (F.col("roll_std") > 0)
    dev = F.abs(F.col(value_col) - F.col("roll_mean"))
    return s.withColumn(
        "is_outlier",
        F.when(ok & (dev > F.lit(z) * F.col("roll_std")), 1)
        .otherwise(0)
        .cast("int"),
    )


def _directional_carry(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    block_hours: float,
    forward: bool,
    t_out: str,
    v_out: str,
) -> DataFrame:
    """Nearest non-null observation (time, value) at-or-before
    (``forward=True``) or at-or-after each row — the two-phase
    block + boundary-carry pattern of :func:`fill_forward`, carrying a
    (t, v) STRUCT so interpolation can use the observation time too.
    """
    block_us = int(round(block_hours * 3600 * 1_000_000))
    b = F.expr(_floor_div_sql(f"unix_micros(`{time_col}`)", block_us))
    src = df.withColumn("_blk", b)
    obs = F.when(
        F.col(value_col).isNotNull(),
        F.struct(
            F.col(time_col).alias("t"), F.col(value_col).alias("v")
        ),
    )
    if forward:
        frame = (Window.unboundedPreceding, Window.currentRow)
        order = F.col(time_col).asc()
        bound_pick = F.max_by  # block's LAST non-null
        carry_frame = (Window.unboundedPreceding, -1)
        blk_order = F.col("_blk").asc()
    else:
        frame = (Window.currentRow, Window.unboundedFollowing)
        order = F.col(time_col).asc()
        bound_pick = F.min_by  # block's FIRST non-null
        carry_frame = (1, Window.unboundedFollowing)
        blk_order = F.col("_blk").asc()
    w_in = Window.partitionBy("_blk").orderBy(order).rowsBetween(*frame)
    pick = F.last(obs, ignorenulls=True) if forward else F.first(
        obs, ignorenulls=True
    )
    src = src.withColumn("_within", pick.over(w_in))
    block_bound = (
        src.filter(F.col(value_col).isNotNull())
        .groupBy("_blk")
        .agg(
            bound_pick(
                F.struct(
                    F.col(time_col).alias("t"), F.col(value_col).alias("v")
                ),
                F.col(time_col),
            ).alias("_bv")
        )
    )
    all_blocks = src.select("_blk").distinct()
    carry_pick = F.last(F.col("_bv"), ignorenulls=True) if forward else (
        F.first(F.col("_bv"), ignorenulls=True)
    )
    carry = (
        all_blocks.join(block_bound, "_blk", "left")
        .withColumn(
            "_carry",
            carry_pick.over(
                Window.orderBy(blk_order).rowsBetween(*carry_frame)
            ),
        )
        .select("_blk", "_carry")
    )
    got = F.coalesce(F.col("_within"), F.col("_carry"))
    return (
        src.join(F.broadcast(carry), "_blk")
        .withColumn(t_out, got["t"])
        .withColumn(v_out, got["v"])
        .drop("_blk", "_within", "_carry")
    )


def interpolate_linear(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    block_hours: float = 24.0,
    out_col: str | None = None,
    key_col: str | None = None,
    max_gap_seconds: float | None = None,
) -> DataFrame:
    """Linear interpolation across gap rows of a single global series:
    each NULL value takes the time-weighted blend of the nearest
    observations before and after; one-sided edges carry the single
    neighbor (LOCF before the last obs / NOCB after the first); real
    observations pass through unchanged.

    Completes the imputation trio with :func:`fill_forward` — same
    two-phase halo-free block + boundary-carry scale shape, run once
    forward and once backward, so nothing ever funnels through a
    single task.  Results round to 6 dp for cross-engine stability.
    """
    out_col = out_col or f"{value_col}_interp"
    if key_col is not None:
        # per-key: plain partitioned windows both directions
        obs = F.when(
            F.col(value_col).isNotNull(),
            F.struct(
                F.col(time_col).alias("t"), F.col(value_col).alias("v")
            ),
        )
        wf = (
            Window.partitionBy(key_col)
            .orderBy(time_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wb = (
            Window.partitionBy(key_col)
            .orderBy(time_col)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        d = (
            df.withColumn("_p", F.last(obs, ignorenulls=True).over(wf))
            .withColumn("_n", F.first(obs, ignorenulls=True).over(wb))
            .withColumn("_pt", F.col("_p")["t"])
            .withColumn("_pv", F.col("_p")["v"])
            .withColumn("_nt", F.col("_n")["t"])
            .withColumn("_nv", F.col("_n")["v"])
            .drop("_p", "_n")
        )
    else:
        # fused two-direction carry: ONE block sort serves both window
        # frames, ONE groupBy yields each block's first+last observation,
        # ONE pass over the tiny block frame cumulates both carries —
        # half the shuffles of two independent directional passes
        block_us = int(round(block_hours * 3600 * 1_000_000))
        blk = F.expr(
            _floor_div_sql(f"unix_micros(`{time_col}`)", block_us)
        )
        src = df.withColumn("_blk", blk)
        obs = F.when(
            F.col(value_col).isNotNull(),
            F.struct(
                F.col(time_col).alias("t"), F.col(value_col).alias("v")
            ),
        )
        wf = (
            Window.partitionBy("_blk")
            .orderBy(time_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wb = (
            Window.partitionBy("_blk")
            .orderBy(time_col)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        src = src.withColumn(
            "_pw", F.last(obs, ignorenulls=True).over(wf)
        ).withColumn("_nw", F.first(obs, ignorenulls=True).over(wb))
        bounds = (
            src.filter(F.col(value_col).isNotNull())
            .groupBy("_blk")
            .agg(
                F.max_by(
                    F.struct(
                        F.col(time_col).alias("t"),
                        F.col(value_col).alias("v"),
                    ),
                    F.col(time_col),
                ).alias("_bl"),
                F.min_by(
                    F.struct(
                        F.col(time_col).alias("t"),
                        F.col(value_col).alias("v"),
                    ),
                    F.col(time_col),
                ).alias("_bf"),
            )
        )
        carry = (
            src.select("_blk").distinct()
            .join(bounds, "_blk", "left")
            .withColumn(
                "_cp",
                F.last(F.col("_bl"), ignorenulls=True).over(
                    Window.orderBy("_blk").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
            )
            .withColumn(
                "_cn",
                F.first(F.col("_bf"), ignorenulls=True).over(
                    Window.orderBy("_blk").rowsBetween(
                        1, Window.unboundedFollowing
                    )
                ),
            )
            .select("_blk", "_cp", "_cn")
        )
        prev = F.coalesce(F.col("_pw"), F.col("_cp"))
        nxt = F.coalesce(F.col("_nw"), F.col("_cn"))
        d = (
            src.join(F.broadcast(carry), "_blk")
            .withColumn("_pt", prev["t"])
            .withColumn("_pv", prev["v"])
            .withColumn("_nt", nxt["t"])
            .withColumn("_nv", nxt["v"])
            .drop("_blk", "_pw", "_nw", "_cp", "_cn")
        )
    t = F.unix_micros(F.col(time_col)).cast("double")
    t0 = F.unix_micros(F.col("_pt")).cast("double")
    t1 = F.unix_micros(F.col("_nt")).cast("double")
    lerp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * (t - t0) / (
        t1 - t0
    )
    interp = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(
            F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
            F.round(lerp, 6),
        )
        .when(F.col("_pv").isNotNull(), F.col("_pv"))
        .otherwise(F.col("_nv"))
    )
    if max_gap_seconds is not None:
        # only bridge holes narrower than the horizon; one-sided edge
        # carries obey the same distance bound from their single anchor
        gap_us = int(max_gap_seconds * 1_000_000)
        span = F.unix_micros(F.col("_nt")) - F.unix_micros(F.col("_pt"))
        ok_two = span <= gap_us
        ok_prev = (
            F.unix_micros(F.col(time_col)) - F.unix_micros(F.col("_pt"))
        ) <= gap_us
        ok_next = (
            F.unix_micros(F.col("_nt")) - F.unix_micros(F.col(time_col))
        ) <= gap_us
        interp = (
            F.when(F.col(value_col).isNotNull(), F.col(value_col))
            .when(
                F.col("_pv").isNotNull() & F.col("_nv").isNotNull() & ok_two,
                F.round(lerp, 6),
            )
            .when(
                F.col("_pv").isNotNull() & F.col("_nv").isNull() & ok_prev,
                F.col("_pv"),
            )
            .when(
                F.col("_nv").isNotNull() & F.col("_pv").isNull() & ok_next,
                F.col("_nv"),
            )
        )
    return d.withColumn(out_col, interp).drop("_pt", "_pv", "_nt", "_nv")


def shift_global(
    df: DataFrame,
    time_col: str,
    cols: list[str],
    *,
    block_hours: float = 24.0,
    suffix: str = "_prev",
) -> DataFrame:
    """Exact global ``lag(1)`` over a single time-ordered series for
    each of ``cols`` — without the single-task global window.

    Within a time block the lag is a partitioned window; the FIRST row
    of each block takes the last row of the nearest earlier non-empty
    block, carried over the tiny #blocks frame and broadcast back.
    Unlike :func:`fill_forward` this shifts ROWS (nulls included), so
    ``v != v_prev``-style change detection sees real previous values.
    Requires unique ``time_col`` values.
    """
    block_us = int(round(block_hours * 3600 * 1_000_000))
    b = F.expr(_floor_div_sql(f"unix_micros(`{time_col}`)", block_us))
    src = df.withColumn("_blk", b)
    w = Window.partitionBy("_blk").orderBy(time_col)
    row_struct = F.struct(*[F.col(c).alias(c) for c in cols])
    src = (
        src.withColumn("_lag", F.lag(row_struct).over(w))
        .withColumn("_rn", F.row_number().over(w))
    )
    block_last = src.groupBy("_blk").agg(
        F.max_by(row_struct, F.col(time_col)).alias("_bl")
    )
    # block_last holds only non-empty blocks, so the previous row is
    # the nearest earlier non-empty block's last row
    carry = block_last.select(
        "_blk", F.lag("_bl").over(Window.orderBy("_blk")).alias("_carry")
    )
    out = src.join(F.broadcast(carry), "_blk")
    prev = F.when(F.col("_rn") == 1, F.col("_carry")).otherwise(
        F.col("_lag")
    )
    for c in cols:
        out = out.withColumn(f"{c}{suffix}", prev[c])
    return out.drop("_blk", "_lag", "_rn", "_carry")


def fill_backward(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    block_hours: float = 24.0,
    out_col: str | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Next-observation-carried-backward (NOCB) — the mirror of
    :func:`fill_forward`, same two-phase block + boundary-carry shape
    run in the reverse direction (or a plain per-key window with
    ``key_col``).  Rows after the last observation stay NULL."""
    out_col = out_col or f"{value_col}_bfilled"
    if key_col is not None:
        w = (
            Window.partitionBy(key_col)
            .orderBy(time_col)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        return df.withColumn(
            out_col, F.first(F.col(value_col), ignorenulls=True).over(w)
        )
    d = _directional_carry(
        df, time_col, value_col,
        block_hours=block_hours, forward=False, t_out="_nt", v_out="_nv",
    )
    return d.withColumn(
        out_col, F.coalesce(F.col(value_col), F.col("_nv"))
    ).drop("_nt", "_nv")


#: aggregate functions resample() accepts — commutative/associative
#: only, so map-side partial aggregation applies at any scale
RESAMPLE_AGGS = ("avg", "min", "max", "sum", "count")


def resample(
    df: DataFrame,
    time_col: str,
    *,
    step_minutes: float,
    aggs: dict[str, str | list[str]],
    key_cols: list[str] | None = None,
    out_time_col: str = "bucket_ts",
) -> DataFrame:
    """Downsample to a fixed cadence: epoch-anchored ``step_minutes``
    buckets, one output row per (keys…, bucket) with the requested
    aggregates — the inverse of :func:`regularize` (which densifies;
    this coarsens).

    ``aggs`` maps column → an agg name or list of names from
    ``avg/min/max/sum/count``; outputs are named ``{col}_{fn}``
    (``avg`` rounded to 6 dp for cross-engine stability).  Restricted to commutative aggregates so the groupBy
    runs with map-side partial aggregation — one shuffle on (keys,
    bucket), uniform by construction.  Bucket ids use exact integer µs
    floor division (float bucketing misplaces boundary rows).
    """
    step_us = int(round(step_minutes * 60 * 1_000_000))
    if step_us <= 0:
        raise ValueError("step_minutes must be positive")
    norm: list[tuple[str, str]] = []
    for col, fns in aggs.items():
        for fn in [fns] if isinstance(fns, str) else list(fns):
            if fn not in RESAMPLE_AGGS:
                raise ValueError(
                    f"unsupported agg {fn!r} for {col!r}; use {RESAMPLE_AGGS}"
                )
            norm.append((col, fn))
    bucket = F.expr(
        f"timestamp_micros(({_floor_div_sql(f'unix_micros(`{time_col}`)', step_us)})"
        f" * {step_us}L)"
    ).alias(out_time_col)
    keys = [F.col(k) for k in (key_cols or [])]
    exprs = []
    for col, fn in norm:
        e = getattr(F, fn)(F.col(col))
        if fn == "avg":
            e = F.round(e, 6)
        exprs.append(e.alias(f"{col}_{fn}"))
    return df.groupBy(*keys, bucket).agg(*exprs)


def time_weighted_resample(
    df: DataFrame,
    time_col: str = "ts",
    value_col: str = "value",
    *,
    step_minutes: float,
    key_cols: list[str] | None = None,
    ties: list[str] | None = None,
    out_time_col: str = "bucket_ts",
    carry_in: bool = False,
    value_scale: int = 2,
) -> DataFrame:
    """Time-WEIGHTED average per epoch-anchored bucket — the correct
    downsample for irregularly sampled step signals (sensor readings,
    prices, configuration levels), where :func:`resample`'s plain
    ``avg`` over-weights whichever regime happened to log more rows.

    Each observation's value HOLDS from its timestamp until the next
    observation, and the bucket average weights every value by its
    held microseconds.  All accumulation is EXACT: weights are
    integer µs, values ``value_scale``-dp scaled integers, the
    weighted sum a ``DECIMAL(38,0)`` — and the final 9-dp HALF_UP
    quotient resolves as an exact INTEGER division too
    (``(2·|num|·10⁹ + den·scale) div (2·den·scale)`` nanodigits), so
    no float participates until the closing nanos→double conversion
    (exact below 2⁵³) and a DuckDB oracle hash-matches bit-exactly.
    (r11 shipped ``round(double, 9)`` here; a carry-in fixture cell
    landed on a ···049999 boundary where Spark's BigDecimal round and
    DuckDB's multiply-based round disagree by 1 ulp — exact integer
    rounding closes that class of divergence for good.)

    ``value_scale`` (default 2) is a HARD precondition on the input
    domain: values are snapped to that many decimal places by an
    exact decimal cast, so inputs with more fractional digits are
    silently rounded and magnitudes beyond 10^(18−scale) overflow
    (r11 advisor).  Raise it (≤ 9) for finer-grained signals.

    ``carry_in`` selects the cross-bucket semantic:

    * ``False`` (default): holds stop at the bucket boundary — the
      next observation in the same (keys, bucket) or the bucket end
      for the last one.  The span from bucket start to the first
      in-bucket observation carries no value and is excluded from
      the denominator, and a bucket with no observations emits no
      row.  (The original w15 semantic — unchanged.)
    * ``True``: each value holds until the key's next observation
      REGARDLESS of boundaries (the kdb/Influx TWA semantic); a
      slow-moving signal fills every intermediate bucket with its
      held value (``n_obs = 0`` rows — observations physically in
      the bucket), and the key's LAST observation still holds only
      to its own bucket's end (the series asserts nothing beyond
      that).

    NULL values are dropped first (QC-masked rows); the previous
    value then holds across them.  Same-instant observations are
    ordered by ``ties`` (REQUIRED for determinism if (keys, time) can
    collide): the earlier row gets zero weight.

    Scale shape: one shuffle + sort on the window partition for the
    lead() carry, then a map-side-combinable groupBy.  With
    ``carry_in=False`` the window partition IS the groupBy key
    ((keys, bucket)) — one exchange total.  With ``carry_in=True``
    the window must partition on the bare keys, so the bucket groupBy
    adds a second (narrow, post-explode) exchange; the explode emits
    one row per (observation, bucket spanned) — exactly the output's
    own cardinality — through chunked 1,024-step sequences, so no
    single row materializes a year-long gap as one giant array.
    """
    from qctimeseries_spark.schema import validate_time_col

    validate_time_col(df, time_col)
    step_us = int(round(step_minutes * 60 * 1_000_000))
    if step_us <= 0:
        raise ValueError("step_minutes must be positive")
    if not 0 <= int(value_scale) <= 9:
        raise ValueError("value_scale must be in [0, 9]")
    value_scale = int(value_scale)
    keys = list(key_cols or [])
    tie_cols = list(ties or [])
    # every internal alias either path introduces (r12 advisor: a user
    # key or tie named e.g. "_b" would silently corrupt the carry_in
    # bucket split rather than erroring)
    reserved = {
        "_us", "_y", "_bk", "_w", "_num", "_den",
        "_end", "_hi", "_c", "_j", "_b", "_is_obs",
    }
    clash = reserved & set(keys + tie_cols)
    if clash:
        raise ValueError(
            f"key_cols/ties must not use reserved names {sorted(clash)}"
        )
    src = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.expr(
            _floor_div_sql(f"unix_micros(`{time_col}`)", step_us)
        ).alias("_bk"),
        F.unix_micros(F.col(time_col)).alias("_us"),
        (
            F.col(value_col).cast(f"decimal(18,{value_scale})")
            * F.lit(10**value_scale)
        )
        .cast("decimal(20,0)")
        .alias("_y"),
        *tie_cols,
    )
    # exact 9-dp HALF_UP: integer nanodigit division, sign split out
    # (den > 0 always — every bucket's last slice has positive span)
    m = 10**value_scale
    nanos = F.expr(
        f"(2 * abs(_num) * 1000000000 + _den * {m})"
        f" div (2 * _den * {m})"
    )
    twa = (
        (
            F.when(F.col("_num") < 0, F.lit(-1)).otherwise(F.lit(1))
            * nanos
        ).cast("double")
        / F.lit(1e9)
    ).alias("twa_value")
    bucket_ts = F.expr(f"timestamp_micros(_bk * {step_us}L)").alias(
        out_time_col
    )
    if not carry_in:
        w = Window.partitionBy(*keys, "_bk").orderBy(
            F.col("_us").asc(), *[F.col(c).asc() for c in tie_cols]
        )
        bucket_end = (F.col("_bk") + 1) * F.lit(step_us)
        held = (
            F.coalesce(F.lead("_us").over(w), bucket_end) - F.col("_us")
        ).cast("decimal(20,0)")
        weighted = src.withColumn("_w", held)
        agg = weighted.groupBy(*keys, "_bk").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum(F.col("_w") * F.col("_y")).alias("_num"),
            F.sum("_w").alias("_den"),
        )
        return agg.select(*keys, bucket_ts, "n_obs", twa)
    # carry_in: the hold span [_us, _end) may cross buckets — split it
    # per bucket and weight each slice by its in-bucket overlap.
    w = Window.partitionBy(*keys).orderBy(
        F.col("_us").asc(), *[F.col(c).asc() for c in tie_cols]
    )
    own_end = (F.col("_bk") + 1) * F.lit(step_us)
    end = F.coalesce(F.lead("_us").over(w), own_end)
    # last bucket the span touches (end-exclusive); zero-length tie
    # spans stay in their own bucket (weight 0, still counted in n_obs)
    hi = F.when(
        F.col("_end") > F.col("_us"),
        F.expr(_floor_div_sql("(_end - 1)", step_us)),
    ).otherwise(F.col("_bk"))
    chunk = 1024  # buckets per coarse chunk — bounds per-row array size
    spans = (
        src.withColumn("_end", end)
        .withColumn("_hi", hi)
        .withColumn(
            "_c",
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.col("_hi") - F.col("_bk")) / chunk).cast("long"),
                )
            ),
        )
        .withColumn("_j", F.explode(F.sequence(F.lit(0), F.lit(chunk - 1))))
        .withColumn("_b", F.col("_bk") + F.col("_c") * chunk + F.col("_j"))
        .filter(F.col("_b") <= F.col("_hi"))
    )
    overlap = (
        F.least(F.col("_end"), (F.col("_b") + 1) * F.lit(step_us))
        - F.greatest(F.col("_us"), F.col("_b") * F.lit(step_us))
    )
    contrib = spans.select(
        *keys,
        F.col("_b"),
        F.when(F.col("_b") == F.col("_bk"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_is_obs"),
        F.greatest(overlap, F.lit(0)).cast("decimal(20,0)").alias("_w"),
        "_y",
    )
    agg = contrib.groupBy(*keys, F.col("_b").alias("_bk")).agg(
        F.sum("_is_obs").cast("bigint").alias("n_obs"),
        F.sum(F.col("_w") * F.col("_y")).alias("_num"),
        F.sum("_w").alias("_den"),
    )
    return agg.select(*keys, bucket_ts, "n_obs", twa)


def ohlc_resample(
    df: DataFrame,
    time_col: str = "ts",
    value_col: str = "value",
    *,
    step_minutes: float,
    key_cols: list[str] | None = None,
    ties: list[str] | None = None,
    out_time_col: str = "bucket_ts",
) -> DataFrame:
    """OHLC (open/high/low/close) per epoch-anchored bucket — the
    kdb/Influx candlestick downsample: per (keys, bucket) the FIRST
    value by (time, ties), the max, the min, the LAST value by
    (time, ties), and the observation count.  Values pass through
    untouched (no arithmetic at all), so the result is bit-exact
    against any correct implementation by construction.

    ``ties`` orders same-instant observations (REQUIRED for a
    deterministic open/close when (keys, time) can collide).  NULL
    values are dropped first (QC-masked rows), matching
    :func:`time_weighted_resample`.

    Scale shape: ONE map-side-combinable groupBy on (keys, bucket) —
    open/close resolve as min/max over a (time, ties, value) struct
    (lexicographic struct comparison; no window, no sort, no second
    exchange), so partial aggregation handles any per-bucket row
    count and skew is bounded by the busiest (key, bucket) like any
    grouped aggregate.
    """
    from qctimeseries_spark.schema import validate_time_col

    validate_time_col(df, time_col)
    step_us = int(round(step_minutes * 60 * 1_000_000))
    if step_us <= 0:
        raise ValueError("step_minutes must be positive")
    keys = list(key_cols or [])
    tie_cols = list(ties or [])
    reserved = {"_us", "_y", "_bk", "_first", "_last"}
    clash = reserved & set(keys + tie_cols)
    if clash:
        raise ValueError(
            f"key_cols/ties must not use reserved names {sorted(clash)}"
        )
    src = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.expr(
            _floor_div_sql(f"unix_micros(`{time_col}`)", step_us)
        ).alias("_bk"),
        F.unix_micros(F.col(time_col)).alias("_us"),
        F.col(value_col).alias("_y"),
        *tie_cols,
    )
    # (time, ties) is the total order; _y rides along for extraction
    # and never decides (unique prefix when ties are supplied)
    ostruct = F.struct(
        F.col("_us"), *[F.col(c) for c in tie_cols], F.col("_y")
    )
    agg = src.groupBy(*keys, "_bk").agg(
        F.min(ostruct).alias("_first"),
        F.max(ostruct).alias("_last"),
        F.max("_y").alias("high"),
        F.min("_y").alias("low"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    return agg.select(
        *keys,
        F.expr(f"timestamp_micros(_bk * {step_us}L)").alias(out_time_col),
        F.col("_first").getField("_y").alias("open"),
        "high",
        "low",
        F.col("_last").getField("_y").alias("close"),
        "n_obs",
    )


def regularize_by_key(
    df: DataFrame,
    time_col: str = "ts",
    *,
    step_minutes: float,
    key_cols: list[str] | str,
) -> DataFrame:
    """Per-key :func:`regularize`: materialize each key's fixed-cadence
    grid over ITS OWN [min(t), max(t)] extent and left-join the
    observations — the multi-sensor form of gap materialization
    (every sensor gets rows for its silent stretches, none for times
    before it existed).

    Scale shape: per-key bounds are one groupBy; the grid generates via
    a TWO-LEVEL sequence explode (coarse chunks of 1,024 steps, then
    intra-chunk offsets), so no single row ever holds more than
    max(span/1024·step, 1024) array elements — a one-level
    ``sequence(lo, hi, step)`` would build a multi-million-element
    array in one row for a long series.  The final join is an
    equi-join on (keys, grid instant).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    step_us = int(round(step_minutes * 60 * 1_000_000))
    if step_us <= 0:
        raise ValueError("step_minutes must be positive")
    chunk = 1024  # steps per coarse chunk
    bounds = df.groupBy(*keys).agg(
        F.unix_micros(F.min(time_col)).alias("_lo_us"),
        F.unix_micros(F.max(time_col)).alias("_hi_us"),
    )
    n = (F.col("_hi_us") - F.col("_lo_us")) / F.lit(step_us)
    grid = (
        bounds.withColumn("_n", n.cast("long"))
        .withColumn(
            "_c", F.explode(F.sequence(F.lit(0), (F.col("_n") / chunk).cast("long")))
        )
        .withColumn("_k", F.explode(F.sequence(F.lit(0), F.lit(chunk - 1))))
        .withColumn("_i", F.col("_c") * chunk + F.col("_k"))
        .filter(F.col("_i") <= F.col("_n"))
        .select(
            *keys,
            F.timestamp_micros(
                F.col("_lo_us") + F.col("_i") * F.lit(step_us)
            ).alias("grid_ts"),
        )
    )
    obs = df.withColumnRenamed(time_col, "grid_ts").withColumn(
        "_present", F.lit(1)
    )
    j = grid.join(obs, [*keys, "grid_ts"], "left")
    return j.withColumn(
        "is_gap", F.col("_present").isNull().cast("int")
    ).drop("_present")


def ewma(
    df: DataFrame,
    time_col: str,
    value_col: str,
    *,
    alpha: float,
    block_hours: float = 24.0,
    out_col: str | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Exponentially weighted moving average over a single non-null,
    time-ordered series: ``s_0 = v_0``, then
    ``s_i = alpha·v_i + (1−alpha)·s_{i−1}`` (pandas ``ewm(adjust=False)``
    semantics).  Impute first (:func:`fill_forward` /
    :func:`interpolate_linear`) — NULL values raise.

    A sequential recurrence has no Catalyst window form, but it is
    AFFINE in the carried state, so it distributes exactly: each block
    emits ``(A_i, B_i)`` with ``s_i = A_i + B_i · S_in`` (A = zero-state
    local recurrence, B = accumulated decay); block end-states fold
    sequentially on the driver — O(#blocks) scalar arithmetic, the only
    sequential work — and broadcast back.  The first block's incoming
    state is the series' first value, which reproduces the ``s_0 = v_0``
    init through the same affine path.  The in-block recurrence is a
    per-block loop inside an Arrow batch; blocks are bounded by
    ``block_hours``, so the loop never sees more than one block of
    rows.  Output rounds to 6 dp (cross-engine float stability).
    """
    import pandas as pd  # noqa: F401 — worker-side dependency

    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    out_col = out_col or f"{value_col}_ewma"
    one_minus = 1.0 - alpha
    if key_col is not None:
        # per-key: keys parallelize naturally; one sequential fold per
        # key inside an Arrow batch (a dominant hot key is the caveat —
        # EWMA is inherently sequential per series, so split such a key
        # out and run the keyless block-fold path on it)
        fields = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
        schema_out = f"{fields}, `{out_col}` double"

        def fold(pdf):
            import numpy as np

            pdf = pdf.sort_values(time_col).copy()
            v = pdf[value_col].to_numpy(dtype="float64")
            if np.isnan(v).any():
                raise ValueError(
                    "ewma requires a non-null series; impute first"
                )
            out = np.empty(len(v))
            cur = None
            for i in range(len(v)):
                cur = v[i] if cur is None else (
                    alpha * v[i] + one_minus * cur
                )
                out[i] = cur
            # ROUND-HALF-AWAY to match SQL ROUND (numpy's np.round is
            # half-to-even; dyadic alphas like 0.5 make exact decimal
            # halves common and the two conventions then diverge)
            pdf[out_col] = np.copysign(
                np.floor(np.abs(out) * 1e6 + 0.5) / 1e6, out
            )
            return pdf

        return df.groupBy(key_col).applyInPandas(fold, schema_out)
    block_us = int(round(block_hours * 3600 * 1_000_000))
    blk = F.expr(_floor_div_sql(f"unix_micros(`{time_col}`)", block_us))
    src = df.withColumn("_blk", blk).repartition(F.col("_blk"))
    in_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema.fields
    )
    out_schema = f"{in_fields}, _A double, _B double"

    def coeffs(pdf_iter):
        import numpy as np
        import pandas as pd

        for pdf in pdf_iter:
            for _, g in pdf.groupby("_blk", sort=False):
                g = g.sort_values(time_col).copy()
                v = g[value_col].to_numpy(dtype="float64")
                if np.isnan(v).any():
                    raise ValueError(
                        "ewma requires a non-null series; impute first"
                    )
                A = np.empty(len(v))
                B = np.empty(len(v))
                a_acc, b_acc = 0.0, 1.0
                for i in range(len(v)):
                    a_acc = alpha * v[i] + one_minus * a_acc
                    b_acc = one_minus * b_acc
                    A[i] = a_acc
                    B[i] = b_acc
                g["_A"] = A
                g["_B"] = B
                yield g

    # materialize the Arrow coefficient pass once: the per-block ends
    # collect below and the final composition both read it — without
    # this the mapInPandas pass over the whole series ran twice
    with_ab = src.mapInPandas(coeffs, out_schema).localCheckpoint(eager=True)
    # per-block end coefficients + the global first value, folded on the
    # driver into each block's incoming state
    ends = (
        with_ab.groupBy("_blk")
        .agg(
            F.max_by(
                F.struct(F.col("_A").alias("A"), F.col("_B").alias("B")),
                F.col(time_col),
            ).alias("_end"),
            F.min_by(F.col(value_col), F.col(time_col)).alias("_vfirst"),
        )
        .orderBy("_blk")
        .collect()
    )
    if not ends:
        return df.withColumn(out_col, F.lit(None).cast("double"))
    s_in = float(ends[0]["_vfirst"])  # reproduces s_0 = v_0
    states = []
    for r in ends:
        states.append((int(r["_blk"]), s_in))
        s_in = r["_end"]["A"] + r["_end"]["B"] * s_in
    spark = df.sparkSession
    state_df = spark.createDataFrame(states, "_blk long, _sin double")
    return (
        with_ab.join(F.broadcast(state_df), "_blk")
        .withColumn(
            out_col, F.round(F.col("_A") + F.col("_B") * F.col("_sin"), 6)
        )
        .drop("_blk", "_A", "_B", "_sin")
    )


def change_intervals(
    df: DataFrame,
    time_col: str,
    key_col: str,
    value_col: str,
    *,
    tiebreak_col: str,
) -> DataFrame:
    """Compress a change log into validity intervals — the SCD-type-2
    history build every warehouse runs on dimension feeds: per key,
    consecutive rows with the SAME value collapse into one row carrying
    ``valid_from`` (first observation of the run) and ``valid_to``
    (start of the NEXT run; NULL for the current run), plus a dense
    per-key ``version`` number.

    Ordering within a key is ``(time_col, tiebreak_col)`` — pass a
    unique tiebreak (an event id) so equal timestamps order
    deterministically; with a unique tiebreak the output is total-order
    stable and engine-reproducible.  Value comparison is null-safe
    (NULL→x and x→NULL are changes; NULL→NULL is not).

    Scale shape: one shuffle on the key, two per-key window passes
    (lag on the raw rows, lead + row_number on the surviving
    changepoints — the second pass runs on the already-collapsed rows,
    typically a tiny fraction).  No driver collection, no join.
    """
    order = [F.col(time_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(value_col)).over(w)
    first = F.row_number().over(w) == 1
    changed = df.withColumn(
        "_chg",
        first | ~F.col(value_col).eqNullSafe(prev),
    ).filter(F.col("_chg"))
    wc = Window.partitionBy(key_col).orderBy(*order)
    return changed.select(
        key_col,
        F.col(value_col),
        F.row_number().over(wc).cast("int").alias("version"),
        F.col(time_col).alias("valid_from"),
        F.lead(F.col(time_col)).over(wc).alias("valid_to"),
    )
