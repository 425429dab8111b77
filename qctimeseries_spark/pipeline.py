"""The canonical end-to-end batch QC pipeline.

Reference workflow (``vignettes/overall_workflow.Rmd:329-350``,
SURVEY.md §3.1): read → add flags → (flag rows) → progress → apply
flags → write clean + qc.  Expressed as one DataFrame chain: Catalyst
fuses the flag init, update overlays, and masking into a single
projection stage.

Materialize rule: checkpoint only a frame that has a shuffle in its
lineage AND more than one reader.  The ``rules`` stage puts windows
and shuffles in the flagged frame's lineage, and ``progress``, the
checks, the export writes and the state save each read it, so that
stage ends in one lazy ``localCheckpoint``: the first action computes
the rules once, every later one reads the blocks, and the blocks live
as long as the frame (nothing enters the SQL CacheManager).  Without
``rules`` the frame stays lazy — re-scanning a narrow projection costs
less than writing a copy of the table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from pyspark.sql import functions as F

from qctimeseries_spark.flags import add_flags, apply_flags
from qctimeseries_spark.schema import (
    DEFAULT_SUFFIX,
    FLAG_MANUAL,
    validate_time_col,
)
from qctimeseries_spark.summary import progress
from qctimeseries_spark.updates import set_flag


def qc_pipeline(
    df: DataFrame,
    vars: list[str] | str,
    *,
    time_col: str,
    flag_predicates: dict[str, Column] | None = None,
    rules: dict[str, dict] | None = None,
    suffix: str = DEFAULT_SUFFIX,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the §3.1 pipeline; returns (qc_df, clean_df, progress_df).

    ``flag_predicates`` maps variable → predicate marking rows to flag
    -2 (the batch generalization of interactive brushing, U1).
    ``rules`` maps variable → kwargs for
    :func:`~qctimeseries_spark.rules.apply_qc_rules` (``lo``/``hi``/
    ``max_step``/``flatline_n``): violations are flagged -2 the same
    way, and the helper columns are stripped afterwards — automated
    screening as a first-class pipeline stage.
    """
    # the same POSIXct-style front-door validation the window/app
    # paths run (R/qc_window_app.R:52-57) — a non-timestamp time_col
    # otherwise sails through flag init and only misbehaves downstream
    validate_time_col(df, time_col)
    flagged = add_flags(df, vars, suffix, time_col=time_col)
    if flag_predicates:
        for var, pred in flag_predicates.items():
            flagged = set_flag(flagged, var, FLAG_MANUAL, selection=pred, suffix=suffix)
    if rules:
        from qctimeseries_spark.rules import _add_lags, _rule_checks

        # one lag stage for every variable (grouped by block width),
        # then one guarded -2 overlay per variable
        depths: dict[float, dict[str, int]] = {}
        violated: dict[str, Column] = {}
        for var, kw in rules.items():
            kw = dict(kw)
            block_hours = kw.pop("block_hours", 24.0)
            depth, checks = _rule_checks(var, **kw)
            depths.setdefault(block_hours, {})[var] = depth
            violated[var] = F.lit(False)
            for cond in checks.values():
                violated[var] = violated[var] | cond
        screened, prev_cols = flagged, []
        for block_hours, d in depths.items():
            screened, added = _add_lags(
                screened, time_col, d, block_hours=block_hours
            )
            prev_cols += added
        for var, pred in violated.items():
            screened = set_flag(
                screened, var, FLAG_MANUAL, selection=pred, suffix=suffix
            )
        flagged = screened.drop(*prev_cols).localCheckpoint(eager=False)
    prog = progress(flagged, vars if isinstance(vars, list) else [vars], suffix)
    clean = apply_flags(flagged, suffix=suffix, drop_flags=True)
    return flagged, clean, prog
