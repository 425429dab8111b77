"""Automated QC screening rules: range, spike, flatline.

The reference relies on a reviewer's eye to spot bad stretches
(`R/qc_window_app.R:251-297` renders them; nothing detects them).
These rules produce per-row violation columns that compose with the
existing update vocabulary — ``set_flag(df, var, -2,
selection=F.col("any_rule") == 1)`` turns detections into guarded
manual flags, and :meth:`QcSession.suggest_outliers` covers the
statistical tier.

Scale shape: the only non-trivial input is the previous-row value,
computed by :func:`~qctimeseries_spark.windows.shift_global` (block
windows + boundary carry) — never a single-task global window.  All
rule predicates are narrow codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qctimeseries_spark.windows import shift_global


def _present(c: Column) -> Column:
    """Observed value: neither NULL nor NaN — the reference's
    ``!is.na()``, which counts NaN as missing."""
    return c.isNotNull() & ~F.isnan(c)


def _add_lags(
    df: DataFrame, time_col: str, depths: dict[str, int], *, block_hours: float
) -> tuple[DataFrame, list[str]]:
    """Add ``{var}_prev1`` .. ``{var}_prev{depth}`` for each entry of
    ``depths`` (var → depth); returns the frame and the added names.

    Lag level ``i`` of every variable deep enough rides in ONE
    :func:`shift_global` pass over the column list, so the passes
    number the largest depth, not the sum of the depths — each pass
    reads its input twice, and a chain of passes compounds that.
    """
    out = df
    added: list[str] = []
    for i in range(1, max(depths.values(), default=0) + 1):
        src = {
            v: v if i == 1 else f"{v}_prev{i - 1}"
            for v, d in depths.items()
            if d >= i
        }
        out = shift_global(
            out, time_col, list(src.values()),
            block_hours=block_hours, suffix="_lag",
        )
        out = out.withColumnsRenamed(
            {f"{c}_lag": f"{v}_prev{i}" for v, c in src.items()}
        )
        added += [f"{v}_prev{i}" for v in src]
    return out, added


def _rule_checks(
    var: str,
    *,
    lo: float | None = None,
    hi: float | None = None,
    max_step: float | None = None,
    flatline_n: int | None = None,
) -> tuple[int, dict[str, Column]]:
    """The lag depth the rules need and their predicates over ``var``
    and its ``{var}_prev{i}`` columns (see :func:`_add_lags`).  A NULL
    or NaN value, current or previous, never violates a rule."""
    depth = 0
    if max_step is not None:
        depth = 1
    if flatline_n is not None:
        if flatline_n < 2:
            raise ValueError("flatline_n must be >= 2")
        depth = max(depth, flatline_n - 1)

    v = F.col(var)
    checks: dict[str, Column] = {}
    if lo is not None or hi is not None:
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (v < F.lit(lo))
        if hi is not None:
            cond = cond | (v > F.lit(hi))
        checks["rule_range"] = _present(v) & cond
    if max_step is not None:
        p = F.col(f"{var}_prev1")
        checks["rule_spike"] = (
            _present(v) & _present(p) & (F.abs(v - p) > F.lit(max_step))
        )
    if flatline_n is not None:
        cond = _present(v)
        for i in range(1, flatline_n):
            p = F.col(f"{var}_prev{i}")
            cond = cond & _present(p) & (p == v)
        checks["rule_flatline"] = cond
    return depth, checks


def apply_qc_rules(
    df: DataFrame,
    var: str,
    time_col: str,
    *,
    lo: float | None = None,
    hi: float | None = None,
    max_step: float | None = None,
    flatline_n: int | None = None,
    block_hours: float = 24.0,
) -> DataFrame:
    """Add integer violation columns for the requested rules:

    - ``rule_range`` — value outside ``[lo, hi]`` (either bound
      optional);
    - ``rule_spike`` — jump from the previous observation larger than
      ``max_step``;
    - ``rule_flatline`` — value equal to each of the previous
      ``flatline_n - 1`` observations (flags the tail rows of a
      constant run — a stuck sensor);
    - ``any_rule`` — any of the above.

    NULL and NaN values are missing and violate nothing.  Runs on a
    single time-ordered series with unique timestamps
    (regularize/pre-aggregate first).  Lagged values come from
    ``flatline_n - 1`` (or 1) chained :func:`shift_global` passes.
    """
    depth, checks = _rule_checks(
        var, lo=lo, hi=hi, max_step=max_step, flatline_n=flatline_n
    )
    out, prev_cols = _add_lags(
        df, time_col, {var: depth}, block_hours=block_hours
    )
    any_rule = F.lit(False)
    for name, cond in checks.items():
        out = out.withColumn(name, cond.cast("int"))
        any_rule = any_rule | (F.col(name) == 1)
    out = out.withColumn("any_rule", any_rule.cast("int"))
    return out.drop(*prev_cols)
