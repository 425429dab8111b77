"""Per-variable QC progress aggregation + invariant checks.

Reference: ``qc_progress`` ``R/qc_summary.R:38-101`` (A1/A2/A3/A7/A8,
P11 in SURVEY.md §2).

Implementation: one ``stack()`` unpivot over only the (value, flag)
column pairs, then a single grouped conditional-count aggregation — one
shuffle whose input is two columns per variable regardless of table
width (column pruning reaches the Parquet scan), with map-side partial
aggregation, so it scales to arbitrary row counts.

Note the reference's two denominators (``R/qc_summary.R:24-27``):
``pct_checked`` is over NON-NA values; the per-flag percentages are
over ALL rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qctimeseries_spark.schema import (
    DEFAULT_SUFFIX,
    FLAG_APPROVED,
    FLAG_DOMAIN,
    FLAG_MANUAL,
    FLAG_MISSING,
    FLAG_UNCHECKED,
    flag_col,
    qc_vars,
    validate_flag_exists,
)


def _unpivot(df: DataFrame, vars: list[str], suffix: str) -> DataFrame:
    """(variable, value, flag) long form via stack — no shuffle.  A NaN
    value lands as NULL: R's ``is.na()`` counts NaN as missing."""
    pairs = []
    for v in vars:
        f = flag_col(v, suffix)
        pairs.append(
            f"'{v}', nanvl(cast(`{v}` as double), null), `{f}`"
        )
    n = len(vars)
    return df.selectExpr(
        f"stack({n}, {', '.join(pairs)}) as (variable, value, flag)"
    )


def progress(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
    *,
    hide_complete: bool = False,
) -> DataFrame:
    """A1 per-variable progress summary (``R/qc_summary.R:68-93``).

    Returns (variable, total, pct_checked, pct_approved, pct_unchecked,
    pct_missing, pct_flagged); percentages rounded to 2 dp (F9,
    ``R/qc_summary.R:87-91``).  ``hide_complete`` applies P11
    (``R/qc_summary.R:95-97``).
    """
    if isinstance(vars, str):
        vars = [vars]
    if vars is None:
        vars = qc_vars(df, suffix)
    if not vars:
        raise ValueError("no flagged variables found — run add_flags first")
    for v in vars:
        validate_flag_exists(df, v, suffix)

    long = _unpivot(df, vars, suffix)

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    flag = F.col("flag")
    value = F.col("value")
    agg = long.groupBy("variable").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(value).alias("n_valid"),  # count(col) skips nulls (A7)
        cnt(value.isNotNull() & ~flag.isin(FLAG_UNCHECKED, FLAG_MISSING)).alias(
            "n_checked"
        ),
        cnt(flag == FLAG_APPROVED).alias("n_approved"),
        cnt(flag == FLAG_UNCHECKED).alias("n_unchecked"),
        cnt(flag == FLAG_MISSING).alias("n_missing"),
        cnt(flag == FLAG_MANUAL).alias("n_flagged"),
    )

    def pct(num, den):
        # try_divide: an all-NULL variable has n_valid = 0; the reference's
        # R arithmetic yields NaN there — we surface NULL instead of an
        # ANSI divide-by-zero error.
        return F.round(F.try_divide(F.lit(100.0) * num, den), 2)

    out = agg.select(
        "variable",
        F.col("n_valid").alias("total"),
        pct(F.col("n_checked"), F.col("n_valid")).alias("pct_checked"),
        pct(F.col("n_approved"), F.col("n_all")).alias("pct_approved"),
        pct(F.col("n_unchecked"), F.col("n_all")).alias("pct_unchecked"),
        pct(F.col("n_missing"), F.col("n_all")).alias("pct_missing"),
        pct(F.col("n_flagged"), F.col("n_all")).alias("pct_flagged"),
    )
    if hide_complete:
        out = out.filter(F.col("pct_checked") < 100)
    return out.orderBy("variable")


def consistency_check(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
) -> DataFrame:
    """A2 NA/flag consistency (``R/qc_summary.R:51-58``): per variable,
    count of NULL values vs count of ``flag == -1``; ``consistent`` iff
    equal.  The reference warns on mismatch; we return the evidence."""
    if isinstance(vars, str):
        vars = [vars]
    if vars is None:
        vars = qc_vars(df, suffix)
    long = _unpivot(df, vars, suffix)
    return (
        long.groupBy("variable")
        .agg(
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_value"),
            F.sum(F.when(F.col("flag") == FLAG_MISSING, 1).otherwise(0)).alias(
                "n_flag_missing"
            ),
        )
        .withColumn("consistent", F.col("n_null_value") == F.col("n_flag_missing"))
        .orderBy("variable")
    )


def flag_domain_check(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
) -> DataFrame:
    """A3 flag-domain check (``R/qc_summary.R:60-66``): distinct flag
    values outside {-2,-1,0,1}, per variable.  Empty result = clean."""
    if isinstance(vars, str):
        vars = [vars]
    if vars is None:
        vars = qc_vars(df, suffix)
    long = _unpivot(df, vars, suffix)
    return (
        long.filter(~F.col("flag").isin(*FLAG_DOMAIN) & F.col("flag").isNotNull())
        .select("variable", "flag")
        .distinct()
        .orderBy("variable", "flag")
    )


def progress_by_window(
    df: DataFrame,
    var: str,
    suffix: str = DEFAULT_SUFFIX,
    *,
    win_col: str = "win_id",
    hide_complete: bool = False,
) -> DataFrame:
    """A1's dual-denominator accounting at WINDOW granularity: one row
    per window with the same total/percentage columns — the review
    dashboard a navigator pages through ("which windows still need
    eyes"), extending the reference's table-level summary
    (``R/qc_summary.R:68-93``) to its own window unit.

    One groupBy on the window id (uniform integer key); composes with
    ``assign_windows``.  ``hide_complete`` keeps windows with
    unfinished checking, mirroring P11.
    """
    validate_flag_exists(df, var, suffix)
    if win_col not in df.columns:
        raise ValueError(
            f"{win_col!r} not found — run assign_windows first"
        )
    flag = F.col(flag_col(var, suffix))
    value = F.col(var)

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    def pct(num, den):
        return F.round(F.try_divide(F.lit(100.0) * num, den), 2)

    agg = df.groupBy(win_col).agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(value).alias("n_valid"),
        cnt(
            value.isNotNull() & ~flag.isin(FLAG_UNCHECKED, FLAG_MISSING)
        ).alias("n_checked"),
        cnt(flag == FLAG_APPROVED).alias("n_approved"),
        cnt(flag == FLAG_UNCHECKED).alias("n_unchecked"),
        cnt(flag == FLAG_MISSING).alias("n_missing"),
        cnt(flag == FLAG_MANUAL).alias("n_flagged"),
    )
    out = agg.select(
        win_col,
        F.col("n_valid").alias("total"),
        pct(F.col("n_checked"), F.col("n_valid")).alias("pct_checked"),
        pct(F.col("n_approved"), F.col("n_all")).alias("pct_approved"),
        pct(F.col("n_unchecked"), F.col("n_all")).alias("pct_unchecked"),
        pct(F.col("n_missing"), F.col("n_all")).alias("pct_missing"),
        pct(F.col("n_flagged"), F.col("n_all")).alias("pct_flagged"),
    )
    if hide_complete:
        out = out.filter(
            F.col("pct_checked").isNull() | (F.col("pct_checked") < 100)
        )
    return out
