"""The batch pipeline's rules stage: fused lags, one materialization,
NaN as missing."""

import datetime as dt
import gc
import random
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from qctimeseries_spark import (
    add_flags,
    apply_qc_rules,
    consistency_check,
    flag_domain_check,
    qc_pipeline,
    save_state,
    set_flag,
    write_exports,
)
from qctimeseries_spark.rules import _add_lags, _rule_checks
from qctimeseries_spark.windows import shift_global

T0 = dt.datetime(2024, 1, 1)
VARS = ("a", "b", "c", "d")


def _series(spark, n, null_val=None, seed=3):
    """Hourly four-variable series: small integer values (so flatline
    runs occur), planted spikes, NULL runs, and a 60 h gap — longer
    than two 24 h blocks — after hour 100."""
    rnd = random.Random(seed)
    hours = [h for h in range(n) if not 100 <= h < 160]
    rows = []
    for h in hours:
        vals = []
        for j in range(len(VARS)):
            if (h // 7 + j) % 9 == 0:  # NULL runs of 7 rows
                vals.append(null_val)
            elif rnd.random() < 0.05:
                vals.append(500.0)  # spike / out of range
            else:
                vals.append(float(rnd.randint(0, 2)))
        rows.append((T0 + dt.timedelta(hours=h), *vals))
    return spark.createDataFrame(
        rows, "ts timestamp, " + ", ".join(f"{v} double" for v in VARS)
    )


def _per_variable_chain(df, vars_, rules):
    """The per-variable rule chain ``qc_pipeline`` replaced:
    ``apply_qc_rules`` then ``set_flag`` for each variable in turn.  A
    checkpoint between variables keeps the chained plan small enough
    to build; it does not change a value."""
    flagged = add_flags(df, list(vars_), time_col="ts")
    for var, kw in rules.items():
        cols = flagged.columns
        screened = apply_qc_rules(flagged, var, "ts", **kw)
        flagged = (
            set_flag(screened, var, -2, selection=F.col("any_rule") == 1)
            .select(*cols)
            .localCheckpoint()
        )
    return flagged


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


_ALL = {
    "a": dict(lo=0.0, hi=100.0, max_step=50.0, flatline_n=2),
    "b": dict(max_step=50.0, flatline_n=3),
    "c": dict(lo=0.0, hi=100.0, flatline_n=4),  # no max_step
    "d": dict(hi=100.0, max_step=50.0, block_hours=6.0),
}


@pytest.mark.parametrize(
    "n,rules",
    [
        (300, {"a": dict(lo=0.0, hi=100.0, max_step=50.0)}),
        (300, {"a": _ALL["a"], "b": _ALL["b"]}),
        (300, _ALL),
        (300, {v: dict(max_step=50.0, flatline_n=4) for v in VARS}),
        (1, _ALL),
        (0, _ALL),
    ],
    ids=["1var", "2vars", "4vars-mixed", "4vars-flatline4", "one-row", "empty"],
)
def test_fused_rules_equal_per_variable_chain(spark, n, rules):
    df = _series(spark, n)
    vars_ = list(VARS)
    flagged, _, _ = qc_pipeline(df, vars_, time_col="ts", rules=rules)
    want = _per_variable_chain(df, vars_, rules)
    assert flagged.columns == want.columns
    got = flagged.collect()
    assert sorted(map(tuple, got)) == _rows(want)
    if n > 1:  # the rules flag something on every variable
        for v in rules:
            assert any(r[f"{v}_qcflag"] == -2 for r in got), v


def _n_windows(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-").startswith("Window ")
    )


def test_rule_lags_take_one_pass_per_depth(spark):
    """Four variables with ``flatline_n=4`` need lags 1..3: three
    ``shift_global`` passes over all four columns, not twelve."""
    df = _series(spark, 50)
    depths = {v: _rule_checks(v, max_step=50.0, flatline_n=4)[0] for v in VARS}
    lagged, added = _add_lags(df, "ts", depths, block_hours=24.0)
    assert len(added) == 12
    # the values are plain global lags (the 50 rows span three blocks)
    w = Window.orderBy("ts")
    naive = df.select(
        "ts", *[F.lag(v, i).over(w).alias(f"{v}_prev{i}")
                for v in VARS for i in (1, 2, 3)]
    )
    assert _rows(lagged.select("ts", *naive.columns[1:])) == _rows(naive)

    def chain(k):
        out, col = df, "a"
        for _ in range(k):
            out = shift_global(out, "ts", [col], suffix="_lag")
            col += "_lag"
        return _n_windows(out)

    assert _n_windows(lagged) == chain(3)
    assert chain(3) < chain(4)


def test_rules_checkpoint_is_read_by_every_consumer_and_self_cleans(
    spark, tmp_path
):
    """The rules stage ends in one lazy checkpoint: every consumer
    reads it (no Window left in the flagged frame's plan), nothing
    enters the SQL CacheManager, and its blocks drain once the frames
    are garbage-collected."""
    df = _series(spark, 120)
    vars_ = ["a", "b"]
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    pre_ids = {i.id() for i in sc.getRDDStorageInfo()}

    flagged, clean, prog = qc_pipeline(
        df, vars_, time_col="ts", rules={v: _ALL[v] for v in vars_}
    )
    plan = flagged._jdf.queryExecution().analyzed().toString()
    assert "Window" not in plan
    prog.collect()
    consistency_check(flagged, vars_).collect()
    flag_domain_check(flagged, vars_).collect()
    write_exports(flagged, str(tmp_path / "exports"), "st", time_col="ts")
    save_state(flagged, str(tmp_path / "state"), time_col="ts", part_hours=24)
    clean.collect()

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "the rules stage registered a plan in the CacheManager"

    def _new_ids():
        return {i.id() for i in sc.getRDDStorageInfo()} - pre_ids

    assert _new_ids(), "the flagged frame was never materialized"
    del flagged, clean, prog
    gc.collect()
    deadline = time.time() + 30
    while time.time() < deadline and _new_ids():
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
    assert not _new_ids(), "the rules checkpoint outlived its frames"


def test_nan_gaps_flag_and_count_like_null_gaps(spark):
    """NaN is missing, as R's ``is.na()`` says: flag init gives -1,
    no rule fires on a NaN value or a NaN previous value, and progress
    skips it — the same flags and progress as NULL gaps."""
    vars_ = list(VARS)
    rules = {v: dict(lo=0.0, hi=100.0, max_step=50.0, flatline_n=3)
             for v in vars_}
    out = {}
    for tag, gap in (("null", None), ("nan", float("nan"))):
        flagged, _, prog = qc_pipeline(
            _series(spark, 200, null_val=gap), vars_, time_col="ts", rules=rules
        )
        flags = flagged.select("ts", *[f"{v}_qcflag" for v in vars_])
        out[tag] = (_rows(flags), _rows(prog),
                    _rows(consistency_check(flagged, vars_)))
    assert out["nan"] == out["null"]
    assert all(r[-1] for r in out["nan"][2])  # consistent
    missing = [r for r in out["nan"][0] if -1 in r[1:]]
    assert missing
