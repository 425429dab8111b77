"""Flag-column lifecycle: add / remove / transfer / apply.

Reference: ``R/qc_flags.R`` (U7/U8/U9, F1/F4, P1/P4 in SURVEY.md §2).
All ops are pure Catalyst projections — a chain of these fuses into a
single whole-stage-codegen stage with zero shuffles, so at 100 TB the
whole lifecycle costs one scan + one write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qctimeseries_spark.schema import (
    DEFAULT_SUFFIX,
    FLAG_MISSING,
    FLAG_UNCHECKED,
    flag_col,
    flag_metadata,
    is_numeric_col,
    numeric_cols,
    qc_vars,
    validate_flag_exists,
)


def _init_flag_expr(df: DataFrame, var: str) -> Column:
    """F1 flag init: -1 where value is missing else 0
    (``R/qc_flags.R:69-73``).  Missing is NULL, or NaN in a float
    column — R's ``is.na()`` is TRUE for NaN too."""
    missing = F.col(var).isNull()
    if isinstance(df.schema[var].dataType, (T.FloatType, T.DoubleType)):
        missing = missing | F.isnan(var)
    return (
        F.when(missing, F.lit(FLAG_MISSING))
        .otherwise(F.lit(FLAG_UNCHECKED))
        .cast("int")
    )


def add_flags(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
    *,
    require_numeric: bool = True,
    overwrite: bool = False,
    time_col: str | None = None,
) -> DataFrame:
    """Add one integer flag column per variable (U7; ``R/qc_flags.R:20-93``).

    ``vars=None`` selects every numeric column except ``time_col`` and
    existing flag columns (``R/qc_flags.R:31-35``).  Existing flag
    columns are preserved unless ``overwrite=True``
    (``R/qc_flags.R:59-66``).
    """
    if isinstance(vars, str):
        vars = [vars]
    existing_flags = {flag_col(v, suffix) for v in qc_vars(df, suffix)}
    if vars is None:
        vars = [
            c
            for c in numeric_cols(df)
            if c != time_col and c not in existing_flags and not c.endswith(suffix)
        ]
    if not vars:
        raise ValueError("no variables to flag")
    missing = [v for v in vars if v not in df.columns]
    if missing:
        raise ValueError(f"variables not in table: {missing}")
    if require_numeric:
        bad = [v for v in vars if not is_numeric_col(df, v)]
        if bad:
            raise TypeError(
                f"non-numeric variables {bad}; pass require_numeric=False to allow"
            )
    out = df
    meta = flag_metadata(suffix)
    for v in vars:
        f = flag_col(v, suffix)
        if f in out.columns and not overwrite:
            continue  # keep existing flags (reference skips with a message)
        out = out.withColumn(f, _init_flag_expr(out, v).alias(f, metadata=meta))
    return out


def remove_flags(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
) -> DataFrame:
    """Drop flag columns (U8/P1; ``R/qc_flags.R:107-145``).

    ``vars=None`` drops every column ending in ``suffix``
    (``R/qc_flags.R:112``).
    """
    if isinstance(vars, str):
        vars = [vars]
    if vars is None:
        drop = [c for c in df.columns if c.endswith(suffix)]
    else:
        drop = [flag_col(v, suffix) for v in vars]
        absent = [c for c in drop if c not in df.columns]
        if absent:
            raise ValueError(f"flag columns not in table: {absent}")
    return df.drop(*drop)


def transfer_flags(
    df: DataFrame,
    from_var: str,
    to_var: str,
    suffix: str = DEFAULT_SUFFIX,
    *,
    overwrite: bool = False,
) -> DataFrame:
    """Copy one variable's flag column onto another's flag slot
    (U9/F4; ``qc_transfer`` ``R/qc_flags.R:159-182``)."""
    src = validate_flag_exists(df, from_var, suffix)
    if to_var not in df.columns:
        raise ValueError(f"target variable {to_var!r} not in table")
    dst = flag_col(to_var, suffix)
    if dst in df.columns and not overwrite:
        raise ValueError(f"{dst!r} already exists; pass overwrite=True")
    return df.withColumn(dst, F.col(src).alias(dst, metadata=flag_metadata(suffix)))


def apply_flags(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
    *,
    drop_flags: bool = False,
) -> DataFrame:
    """Mask values to NULL where ``flag < 0`` (P4; ``qc_apply_flags``
    ``R/qc_flags.R:193-219``).  Unchecked (0) values are KEPT — compare
    :func:`strict_clean`."""
    return _mask(df, vars, suffix, threshold=0, drop_flags=drop_flags)


def strict_clean(
    df: DataFrame,
    vars: list[str] | str | None = None,
    suffix: str = DEFAULT_SUFFIX,
    *,
    drop_flags: bool = False,
) -> DataFrame:
    """Mask values to NULL where ``flag < 1`` (P5; ``R/qc_plots.R:51-53``).

    Stricter than :func:`apply_flags`: unchecked values are also masked.
    The two semantics intentionally differ in the reference.
    """
    return _mask(df, vars, suffix, threshold=1, drop_flags=drop_flags)


def _mask(
    df: DataFrame,
    vars: list[str] | str | None,
    suffix: str,
    *,
    threshold: int,
    drop_flags: bool,
) -> DataFrame:
    if isinstance(vars, str):
        vars = [vars]
    if vars is None:
        vars = qc_vars(df, suffix)
    if not vars:
        raise ValueError("no flagged variables found")
    out = df
    for v in vars:
        f = validate_flag_exists(out, v, suffix)
        out = out.withColumn(
            v, F.when(F.col(f) < threshold, F.lit(None)).otherwise(F.col(v))
        )
    if drop_flags:
        out = remove_flags(out, vars, suffix)
    return out
