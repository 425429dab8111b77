import datetime as dt

import pytest
from pyspark.sql import functions as F

from qctimeseries_spark import (
    add_flags,
    admitted_windows,
    assign_windows,
    window_anchor,
    window_extent,
    window_range,
    window_slice,
    with_rowid,
)


@pytest.fixture(scope="module")
def windowed(multivar):
    df = add_flags(multivar, ["temp"])
    return assign_windows(df, "DateTime", hours=24)


def test_anchor_is_min(multivar):
    assert window_anchor(multivar, "DateTime") == dt.datetime(2024, 1, 1)


def test_window_assignment_anchored(windowed):
    # 200 hourly rows, 24h windows anchored at min -> ids 0..8
    ids = [r.win_id for r in windowed.select("win_id").distinct().orderBy("win_id").collect()]
    assert ids == list(range(9))
    # row i belongs to window i//24
    rows = windowed.select("DateTime", "win_id").collect()
    t0 = dt.datetime(2024, 1, 1)
    for r in rows:
        hrs = (r.DateTime - t0).total_seconds() / 3600
        assert r.win_id == int(hrs // 24)


def test_anchor_not_epoch(spark):
    # series starting mid-day must anchor at its own min, not midnight
    t0 = dt.datetime(2024, 1, 1, 13, 30)
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(hours=i), float(i)) for i in range(30)],
        "DateTime timestamp, v double",
    )
    out = assign_windows(df, "DateTime", hours=24)
    first = out.filter(F.col("win_id") == 0).count()
    assert first == 24  # exactly the first 24 hours from 13:30


def test_rowid_stable_ordered(multivar):
    out = with_rowid(multivar, "DateTime")
    rows = out.orderBy("DateTime").select("rowid").collect()
    assert [r.rowid for r in rows] == list(range(1, 201))


def test_rowid_keeps_null_timestamps(spark):
    # reference numbers EVERY row (.rowid := .I); NULL times sort first
    t0 = dt.datetime(2024, 1, 1)
    rows = [(None, 100 + i) for i in range(3)] + [
        (t0 + dt.timedelta(hours=i), i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "DateTime timestamp, k int")
    out = with_rowid(df, "DateTime", ties=["k"]).collect()
    assert len(out) == 13  # nothing dropped
    by_rowid = sorted(out, key=lambda r: r.rowid)
    assert [r.rowid for r in by_rowid] == list(range(1, 14))  # starts at 1
    assert [r.k for r in by_rowid[:3]] == [100, 101, 102]  # NULLs first


def test_rowid_schema_is_long(multivar):
    # primary key must be BIGINT: at the 100 TB design point row counts
    # exceed 2^31 and an int rowid would silently wrap negative
    out = with_rowid(multivar, "DateTime")
    assert dict(out.dtypes)["rowid"] == "bigint"


def test_rowid_offsets_straddling_2_31_stay_monotone(spark):
    # drive the production numbering phase with synthetic bucket offsets
    # on both sides of 2^31: rowids must stay positive, collision-free
    # and monotone in (bucket, time) — i.e. no 32-bit wrap anywhere
    from qctimeseries_spark.windows import _number_from_offsets

    t0 = dt.datetime(2024, 1, 1)
    per_bucket = 5
    rows = [
        (b, t0 + dt.timedelta(days=b, hours=i), b * per_bucket + i)
        for b in range(4)
        for i in range(per_bucket)
    ]
    bucketed = spark.createDataFrame(
        rows, "_rid_bucket long, DateTime timestamp, k long"
    )
    base = 2**31 - 7  # offsets cross the int32 boundary mid-sequence
    offsets = spark.createDataFrame(
        [(b, base + b * per_bucket) for b in range(4)],
        "_rid_bucket long, _rid_offset long",
    )
    out = _number_from_offsets(bucketed, offsets, "DateTime", [F.col("k")], "rowid")
    got = sorted((r.k, r.rowid) for r in out.collect())
    ids = [rid for _, rid in got]
    assert ids == list(range(base + 1, base + 1 + 4 * per_bucket))
    assert all(i > 2**31 - 8 for i in ids)  # nothing wrapped negative
    assert len(set(ids)) == len(ids)


def test_pre_anchor_rows_get_negative_windows(spark):
    t0 = dt.datetime(2024, 1, 5)
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(hours=h), 1.0) for h in (-30, -1, 0, 10, 30)],
        "DateTime timestamp, v double",
    )
    out = assign_windows(df, "DateTime", hours=24, anchor=t0)
    got = [r.win_id for r in out.orderBy("DateTime").collect()]
    assert got == [-2, -1, 0, 0, 1]  # floor, not truncate-toward-zero


def test_admitted_windows_default_matches_reference(windowed):
    # default include must be (-2, 0, 1) — R/qc_window_app.R:67.  A
    # window whose rows are all approved stays admitted by default.
    df = windowed.withColumn(
        "temp_qcflag",
        F.when((F.col("win_id") == 3) & (F.col("temp_qcflag") == 0), 1).otherwise(
            F.col("temp_qcflag")
        ),
    )
    ids = [r.win_id for r in admitted_windows(df, "temp").collect()]
    assert 3 in ids


def test_admitted_windows_dense(windowed):
    # approve everything in window 3 -> excluded when include={0}
    df = windowed.withColumn(
        "temp_qcflag",
        F.when((F.col("win_id") == 3) & (F.col("temp_qcflag") == 0), 1).otherwise(
            F.col("temp_qcflag")
        ),
    )
    adm = admitted_windows(df, "temp", include=(0,)).collect()
    ids = [r.win_id for r in adm]
    assert 3 not in ids
    assert [r.win_index for r in adm] == list(range(len(ids)))  # dense

    viewer = admitted_windows(df, "temp", include=None).collect()
    assert [r.win_id for r in viewer] == list(range(9))


def test_admission_requires_nonnull_y(spark):
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(hours=i), None if i < 24 else 1.0) for i in range(48)],
        "DateTime timestamp, temp double",
    )
    df = add_flags(df, ["temp"])
    df = assign_windows(df, "DateTime", hours=24)
    adm = admitted_windows(df, "temp", include=(0,)).collect()
    assert [r.win_id for r in adm] == [1]  # window 0 all-NA -> not admitted


def test_window_slice_and_range(windowed):
    assert window_slice(windowed, 2).count() == 24
    rng = {r.win_id: r for r in window_range(windowed, "DateTime").collect()}
    assert rng[0].t_min == dt.datetime(2024, 1, 1)
    assert rng[0].n_rows == 24
    assert rng[8].n_rows == 8  # tail window partial


def test_sessionize_assigns_ids_per_gap(spark):
    from qctimeseries_spark import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),
        (1, t0 + dt.timedelta(minutes=50)),                # gap > 30m -> s2
        (2, t0 + dt.timedelta(minutes=5)),                 # other key -> s1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize(df, "user_id", "ts")
    got = {
        (r.user_id, r.ts): r.session_id for r in out.collect()
    }
    assert got[(1, t0)] == 1
    assert got[(1, t0 + dt.timedelta(minutes=10))] == 1
    assert got[(1, t0 + dt.timedelta(minutes=50))] == 2
    assert got[(2, t0 + dt.timedelta(minutes=5))] == 1


def test_window_extent_pad():
    lo, hi = window_extent(dt.datetime(2024, 1, 1), 1, 24, pad=0.0)
    assert lo == dt.datetime(2024, 1, 2) and hi == dt.datetime(2024, 1, 3)


def test_sessionize_salted_matches_unsalted_on_skewed_corpus(spark):
    """One key holds half the rows (the 100 TB straggler shape); the
    two-phase salted path must produce IDENTICAL session ids to the
    per-key-sort path — including sessions spanning block boundaries,
    ties, and NULL timestamps."""
    import datetime as dt

    from qctimeseries_spark.windows import sessionize, sessionize_salted

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    rid = 0
    # hot key 1: ~600 events over 6 days — bursts split by > gap,
    # including a session STRADDLING every midnight block edge
    for day in range(6):
        base = t0 + dt.timedelta(days=day)
        for burst_start_min in (-10, 300, 700):  # -10 crosses midnight
            for j in range(33):
                rows.append(
                    (1, rid, base + dt.timedelta(
                        minutes=burst_start_min + j))
                )
                rid += 1
    # tie pair on the hot key
    rows.append((1, rid, t0 + dt.timedelta(minutes=300))); rid += 1
    # NULL timestamps on the hot key
    rows.append((1, rid, None)); rid += 1
    rows.append((1, rid, None)); rid += 1
    # cold keys: ~1 event each
    for k in range(2, 500):
        rows.append((k, rid, t0 + dt.timedelta(minutes=7 * k))); rid += 1

    df = spark.createDataFrame(
        rows, "user_id long, rowid long, ts timestamp"
    )
    kw = dict(gap_minutes=30.0, ties=["rowid"])
    a = {
        (r.user_id, r.rowid): r.session_id
        for r in sessionize(df, "user_id", "ts", **kw).collect()
    }
    b = {
        (r.user_id, r.rowid): r.session_id
        for r in sessionize_salted(
            df, "user_id", "ts", block_hours=24.0, **kw
        ).collect()
    }
    assert a == b
    # sanity: the corpus really exercises multi-session structure
    assert max(v for (k, _), v in a.items() if k == 1) > 10


def test_hot_keys_flags_dominant_key(spark):
    from qctimeseries_spark.windows import hot_keys

    df = spark.range(0, 10_000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 42 ELSE id END AS user_id"
    )
    hot = hot_keys(df, "user_id", threshold_frac=0.3, sample_frac=0.2)
    got = {r.user_id: r.est_share for r in hot.collect()}
    assert list(got) == [42]
    assert 0.35 < got[42] < 0.65


def test_regularize_materializes_gaps_and_composes_with_flags(spark):
    """Missing grid instants appear as is_gap rows; add_flags then
    marks their NULL values as -1 — missing timestamp and missing
    value flow through one vocabulary."""
    import datetime as dt

    from qctimeseries_spark import add_flags
    from qctimeseries_spark.windows import regularize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0 + dt.timedelta(hours=h), float(h))
        for h in (0, 1, 2, 5, 6)  # hours 3 and 4 missing
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    reg = regularize(df, "ts", step_minutes=60.0)
    got = {r["grid_ts"].hour: (r["value"], r["is_gap"]) for r in reg.collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5, 6}
    assert got[3] == (None, 1) and got[4] == (None, 1)
    assert got[2] == (2.0, 0)

    flagged = add_flags(
        reg.withColumnRenamed("grid_ts", "ts"), "value", time_col="ts"
    )
    flags = {r["ts"].hour: r["value_qcflag"] for r in flagged.collect()}
    assert flags[3] == -1 and flags[4] == -1 and flags[2] == 0


def test_fill_forward_two_phase_equals_global_window(spark):
    """Block-partitioned LOCF + boundary carry must equal the naive
    global ignore-nulls window, including gaps spanning several
    entirely-empty blocks and a leading unobserved stretch."""
    import datetime as dt

    from pyspark.sql import Window as W

    from qctimeseries_spark.windows import fill_forward

    t0 = dt.datetime(2024, 1, 1)
    # hourly grid over 10 days; observations only at a few instants,
    # with a 4-day hole (≫ the 1-day block) and nothing before hour 30
    obs = {30: 1.0, 31: 2.0, 130: 3.0, 228: 4.0}
    rows = [
        (t0 + dt.timedelta(hours=h), obs.get(h)) for h in range(240)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    two_phase = fill_forward(df, "ts", "value", block_hours=24.0)
    naive = df.withColumn(
        "value_filled",
        F.last("value", ignorenulls=True).over(
            W.orderBy("ts").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    a = {r["ts"]: r["value_filled"] for r in two_phase.collect()}
    b = {r["ts"]: r["value_filled"] for r in naive.collect()}
    assert a == b
    assert a[t0 + dt.timedelta(hours=10)] is None  # before first obs
    assert a[t0 + dt.timedelta(hours=100)] == 2.0  # carried across blocks


def test_rolling_stats_halo_equals_global_window(spark):
    """Halo-block range windows must reproduce the naive global RANGE
    window exactly — including windows straddling block boundaries."""
    import datetime as dt

    from pyspark.sql import Window as W

    from qctimeseries_spark.windows import rolling_stats

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0 + dt.timedelta(hours=3 * h), float((h * 7) % 13)) for h in range(200)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    # 30h trailing window with 24h blocks forces every window to cross
    # a block boundary somewhere
    got = rolling_stats(
        df, "ts", "value", window_seconds=30 * 3600.0, block_hours=31.0
    )
    us = F.unix_micros(F.col("ts"))
    wnaive = W.orderBy(us).rangeBetween(-int(30 * 3600 * 1e6), 0)
    naive = (
        df.withColumn("roll_mean", F.round(F.avg("value").over(wnaive), 6))
        .withColumn("roll_std", F.round(F.stddev_samp("value").over(wnaive), 6))
        .withColumn("roll_n", F.count("value").over(wnaive))
    )
    a = {r["ts"]: (r["roll_mean"], r["roll_std"], r["roll_n"]) for r in got.collect()}
    b = {r["ts"]: (r["roll_mean"], r["roll_std"], r["roll_n"]) for r in naive.collect()}
    assert a == b
    assert len(a) == 200  # center rows only, no halo duplicates


def test_interpolate_linear_blends_and_handles_edges(spark):
    """Interior gaps get the time-weighted blend (across multi-block
    holes), leading gaps carry backward, trailing gaps carry forward,
    observations pass through."""
    import datetime as dt

    from qctimeseries_spark.windows import interpolate_linear

    t0 = dt.datetime(2024, 1, 1)
    obs = {5: 10.0, 8: 40.0, 100: 100.0}  # 92h hole spans 24h blocks
    rows = [(t0 + dt.timedelta(hours=h), obs.get(h)) for h in range(110)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    vals = {}
    for r in interpolate_linear(df, "ts", "value", block_hours=24.0).collect():
        h = int((r["ts"] - t0).total_seconds() // 3600)
        vals[h] = r["value_interp"]
    assert vals[3] == 10.0               # leading edge: backward carry
    assert vals[5] == 10.0 and vals[8] == 40.0  # observations unchanged
    assert vals[6] == 20.0 and vals[7] == 30.0  # interior blend
    # inside the 92 h hole: lerp between (8, 40) and (100, 100)
    assert abs(vals[54] - (40.0 + 60.0 * 46 / 92)) < 1e-6
    assert vals[105] == 100.0            # trailing edge: forward carry


def test_new_ops_edge_cases(spark):
    """Error contracts and degenerate inputs for the round-3 window
    extensions."""
    import datetime as dt

    import pytest

    from qctimeseries_spark.windows import (
        fill_forward,
        regularize,
        rolling_stats,
    )

    empty = spark.createDataFrame([], "ts timestamp, value double")
    with pytest.raises(ValueError, match="empty series"):
        regularize(empty, "ts", step_minutes=60.0)
    with pytest.raises(ValueError, match="positive"):
        regularize(empty, "ts", step_minutes=0.0)
    with pytest.raises(ValueError, match="cover"):
        rolling_stats(
            empty, "ts", "value", window_seconds=7 * 86400.0, block_hours=1.0
        )

    # single-row series: fill_forward and regularize degenerate cleanly
    one = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 5.0)], "ts timestamp, value double"
    )
    assert regularize(one, "ts", step_minutes=60.0).count() == 1
    got = fill_forward(one, "ts", "value").collect()
    assert got[0]["value_filled"] == 5.0


def test_token_budget_zero_and_split_overflow(spark):
    import pytest
    from pyspark.sql import functions as SF

    from qctimeseries_spark.datapipe import (
        sample_to_token_budget,
        split_corpus,
    )

    d = spark.range(10).select(
        SF.col("id").alias("doc_id"), SF.lit(7).alias("n_tokens")
    )
    assert sample_to_token_budget(d, "doc_id", "n_tokens", 0).count() == 0
    with pytest.raises(ValueError, match="> 1"):
        split_corpus(d, "doc_id", {"a": 0.9, "b": 0.2})


def test_shift_global_equals_naive_lag(spark):
    """Block + boundary-carry lag must equal the global window lag,
    including rows whose predecessor sits blocks away and NULL values
    (rows shift, not observations)."""
    import datetime as dt

    from pyspark.sql import Window as W

    from qctimeseries_spark.windows import shift_global

    t0 = dt.datetime(2024, 1, 1)
    dense = [
        (t0 + dt.timedelta(hours=h * 13), None if h % 5 == 0 else float(h))
        for h in range(150)
    ]
    # gaps of up to 10 days: many 24 h blocks between two rows are empty
    sparse = [
        (t0 + dt.timedelta(hours=h * 7 + 240 * (h // 6)),
         None if h % 4 == 0 else float(h))
        for h in range(60)
    ]
    for rows in (dense, sparse):
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        got = {
            r["ts"]: r["value_prev"]
            for r in shift_global(
                df, "ts", ["value"], block_hours=24.0
            ).collect()
        }
        naive = {
            r["ts"]: r["p"]
            for r in df.withColumn(
                "p", F.lag("value").over(W.orderBy("ts"))
            ).collect()
        }
        assert got == naive


def test_qc_rules_detect_planted_defects(spark):
    import datetime as dt

    from pyspark.sql import functions as SF

    from qctimeseries_spark import apply_qc_rules, add_flags, set_flag

    t0 = dt.datetime(2024, 1, 1)
    vals = [20.0 + (h % 7) for h in range(100)]
    vals[40] = 999.0        # range + spike violation
    vals[60] = vals[59]     # flatline pair
    vals[61] = vals[59]
    rows = [(t0 + dt.timedelta(hours=h), vals[h]) for h in range(100)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = apply_qc_rules(
        df, "value", "ts", lo=0.0, hi=500.0, max_step=100.0, flatline_n=2
    )
    r = {int((x["ts"] - t0).total_seconds() // 3600): x for x in out.collect()}
    assert r[40]["rule_range"] == 1 and r[40]["rule_spike"] == 1
    assert r[41]["rule_spike"] == 1  # the drop back down is also a spike
    assert r[60]["rule_flatline"] == 1 and r[61]["rule_flatline"] == 1
    assert r[39]["any_rule"] == 0
    # compose with the update vocabulary: violations become -2 flags
    flagged = set_flag(
        add_flags(out, "value", time_col="ts"),
        "value",
        -2,
        selection=SF.col("any_rule") == 1,
    )
    n = flagged.filter(SF.col("value_qcflag") == -2).count()
    assert n == out.filter(SF.col("any_rule") == 1).count()


def test_fill_backward_equals_global_window(spark):
    import datetime as dt

    from pyspark.sql import Window as W

    from qctimeseries_spark.windows import fill_backward

    t0 = dt.datetime(2024, 1, 1)
    obs = {30: 1.0, 130: 3.0}
    rows = [(t0 + dt.timedelta(hours=h), obs.get(h)) for h in range(240)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {
        r["ts"]: r["value_bfilled"]
        for r in fill_backward(df, "ts", "value", block_hours=24.0).collect()
    }
    naive = {
        r["ts"]: r["b"]
        for r in df.withColumn(
            "b",
            F.first("value", ignorenulls=True).over(
                W.orderBy("ts").rowsBetween(W.currentRow, W.unboundedFollowing)
            ),
        ).collect()
    }
    assert got == naive
    assert got[t0 + dt.timedelta(hours=10)] == 1.0   # leading carries back
    assert got[t0 + dt.timedelta(hours=200)] is None  # after last obs


def test_resample_buckets_and_aggregates(spark):
    import datetime as dt

    from qctimeseries_spark import resample

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=10 * i), float(i)) for i in range(12)
    ]  # two 60-min buckets of 6 rows each
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    out = {
        r["bucket_ts"]: r
        for r in resample(
            df, "ts", step_minutes=60.0,
            aggs={"value": ["avg", "min", "max", "count"]}, key_cols=["k"],
        ).collect()
    }
    assert len(out) == 2
    b0 = out[t0]
    assert b0["value_min"] == 0.0 and b0["value_max"] == 5.0
    assert b0["value_count"] == 6 and abs(b0["value_avg"] - 2.5) < 1e-9

    import pytest

    with pytest.raises(ValueError, match="unsupported agg"):
        resample(df, "ts", step_minutes=60.0, aggs={"value": "median"})


def test_regularize_by_key_per_key_extents(spark):
    """Each key's grid spans only its own extent; gaps materialize per
    key; the two-level explode reproduces the one-level grid."""
    import datetime as dt

    from qctimeseries_spark import regularize_by_key

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(hours=3), 2.0),   # key 1: 0..3h
        (2, t0 + dt.timedelta(hours=10), 5.0),
        (2, t0 + dt.timedelta(hours=12), 6.0),  # key 2: 10..12h
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    out = regularize_by_key(df, "ts", step_minutes=60.0, key_cols="k")
    got = {(r["k"], r["grid_ts"]): (r["value"], r["is_gap"]) for r in out.collect()}
    assert len([x for x in got if x[0] == 1]) == 4   # hours 0..3
    assert len([x for x in got if x[0] == 2]) == 3   # hours 10..12
    assert got[(1, t0 + dt.timedelta(hours=1))] == (None, 1)
    assert got[(2, t0 + dt.timedelta(hours=11))] == (None, 1)
    assert got[(2, t0 + dt.timedelta(hours=12))] == (6.0, 0)
    # key 2 has no rows before its own start
    assert (2, t0) not in got


def test_fill_per_key_matches_pandas_groupwise(spark):
    """Per-key LOCF/NOCB equal pandas groupby ffill/bfill."""
    import datetime as dt

    import pandas as pd

    from qctimeseries_spark.windows import fill_backward, fill_forward

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in (1, 2):
        for h in range(20):
            v = None if (h + k) % 3 else float(k * 100 + h)
            rows.append((k, t0 + dt.timedelta(hours=h), v))
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    f = {
        (r["k"], r["ts"]): r["value_filled"]
        for r in fill_forward(df, "ts", "value", key_col="k").collect()
    }
    b = {
        (r["k"], r["ts"]): r["value_bfilled"]
        for r in fill_backward(df, "ts", "value", key_col="k").collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"]).sort_values(["k", "ts"])
    pdf["ff"] = pdf.groupby("k")["value"].ffill()
    pdf["bf"] = pdf.groupby("k")["value"].bfill()
    for _, r in pdf.iterrows():
        want_f = None if pd.isna(r["ff"]) else r["ff"]
        want_b = None if pd.isna(r["bf"]) else r["bf"]
        assert f[(r["k"], r["ts"])] == want_f
        assert b[(r["k"], r["ts"])] == want_b


def test_interpolate_per_key_matches_pandas(spark):
    import datetime as dt

    import pandas as pd

    from qctimeseries_spark.windows import interpolate_linear

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in (1, 2):
        for h in range(15):
            v = None if h % 4 else float(k * 10 + h)
            rows.append((k, t0 + dt.timedelta(hours=h), v))
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    got = {
        (r["k"], r["ts"]): r["value_interp"]
        for r in interpolate_linear(df, "ts", "value", key_col="k").collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"]).sort_values(["k", "ts"])
    pdf["li"] = (
        pdf.set_index("ts").groupby("k")["value"]
        .apply(lambda g: g.interpolate(method="time", limit_direction="both"))
        .to_numpy()
    )
    for _, r in pdf.iterrows():
        want = None if pd.isna(r["li"]) else round(r["li"], 6)
        have = got[(r["k"], r["ts"])]
        assert (have is None and want is None) or abs(have - want) < 1e-9


def test_ewma_matches_pandas_across_blocks(spark):
    """The affine block fold reproduces pandas ewm(adjust=False)
    exactly (to the 6-dp output rounding), including across many block
    boundaries."""
    import datetime as dt

    import pandas as pd

    from qctimeseries_spark.windows import ewma

    t0 = dt.datetime(2024, 1, 1)
    vals = [20.0 + ((h * 13) % 29) for h in range(200)]
    rows = [(t0 + dt.timedelta(hours=3 * h), vals[h]) for h in range(200)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {
        r["ts"]: r["value_ewma"]
        for r in ewma(df, "ts", "value", alpha=0.3, block_hours=24.0).collect()
    }
    want = (
        pd.Series(vals, index=[t0 + dt.timedelta(hours=3 * h) for h in range(200)])
        .ewm(alpha=0.3, adjust=False)
        .mean()
    )
    for ts, w in want.items():
        assert abs(got[ts] - round(w, 6)) < 2e-6
    # error contracts
    import pytest

    with pytest.raises(ValueError, match="alpha"):
        ewma(df, "ts", "value", alpha=0.0)


def test_ewma_per_key_matches_pandas(spark):
    import datetime as dt

    import pandas as pd

    from qctimeseries_spark.windows import ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(hours=h), float(k * 50 + (h * 7) % 13))
        for k in (1, 2) for h in range(30)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    got = {
        (r["k"], r["ts"]): r["value_ewma"]
        for r in ewma(df, "ts", "value", alpha=0.4, key_col="k").collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"]).sort_values(["k", "ts"])
    for k, g in pdf.groupby("k"):
        want = g.set_index("ts")["value"].ewm(alpha=0.4, adjust=False).mean()
        for ts, w in want.items():
            assert abs(got[(k, ts)] - round(w, 6)) < 2e-6


def test_fill_forward_max_gap_bounds_carry(spark):
    """Values stop carrying past max_gap_seconds — long holes stay
    NULL in both the keyless and per-key paths."""
    import datetime as dt

    from qctimeseries_spark.windows import fill_forward

    t0 = dt.datetime(2024, 1, 1)
    obs = {0: 1.0, 50: 2.0}
    rows = [(1, t0 + dt.timedelta(hours=h), obs.get(h)) for h in range(60)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, value double")
    for kw in ({}, {"key_col": "k"}):
        got = {
            int((r["ts"] - t0).total_seconds() // 3600): r["value_filled"]
            for r in fill_forward(
                df, "ts", "value", max_gap_seconds=5 * 3600.0, **kw
            ).collect()
        }
        assert got[0] == 1.0 and got[3] == 1.0 and got[5] == 1.0
        assert got[6] is None          # beyond the 5h carry horizon
        assert got[49] is None         # deep in the hole
        assert got[50] == 2.0 and got[55] == 2.0
        assert got[56] is None


def test_interpolate_max_gap_leaves_wide_holes_null(spark):
    import datetime as dt

    from qctimeseries_spark.windows import interpolate_linear

    t0 = dt.datetime(2024, 1, 1)
    obs = {0: 0.0, 4: 4.0, 30: 30.0}   # 4h hole (bridgeable), 26h hole (not)
    rows = [(t0 + dt.timedelta(hours=h), obs.get(h)) for h in range(45)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {
        int((r["ts"] - t0).total_seconds() // 3600): r["value_interp"]
        for r in interpolate_linear(
            df, "ts", "value", max_gap_seconds=6 * 3600.0
        ).collect()
    }
    assert got[2] == 2.0               # inside the narrow hole: blended
    assert got[10] is None and got[20] is None  # wide hole: left NULL
    assert got[30] == 30.0
    assert got[33] == 30.0             # trailing carry within the bound
    assert got[40] is None             # trailing carry beyond the bound


def test_cusum_equals_sequential_recurrence(spark):
    """The prefix-sum closed form must reproduce Page's recurrence
    s+ = max(0, s+ + x - (t+k)), s- = max(0, s- - (x - (t-k))) exactly
    (integer units -> exact arithmetic), including alarm edges."""
    import random

    from qctimeseries_spark.windows import cusum

    rng = random.Random(11)
    rows = []
    for uid in (1, 2):
        base = 100
        for i in range(120):
            if 40 <= i < 80 and uid == 1:
                base = 103  # planted drift for user 1 only
            rows.append((uid, i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
                         base + rng.randint(-4, 4)))
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, x long"
    )
    out = cusum(df, "x", "ts", target=100, slack=1, threshold=30,
                key_col="user_id", ties=["event_id"])
    got = {
        (r.user_id, r.event_id): (r.cusum_pos, r.cusum_neg, r.cusum_alarm)
        for r in out.collect()
    }
    want = {}
    for uid in (1, 2):
        sp = sn = 0
        for u, i, _, x in [r for r in rows if r[0] == uid]:
            sp = max(0, sp + x - 101)
            sn = max(0, sn - (x - 99))
            want[(uid, i)] = (float(sp), float(sn), sp > 30 or sn > 30)
    assert got == want
    assert any(a for _, _, a in want.values())  # the drift fires
    assert not any(a for (u, _), (_, _, a) in want.items() if u == 2)


# ---------------------------------------------------------------------------
# seasonal baseline (a16)
# ---------------------------------------------------------------------------


def test_seasonal_baseline_tukey_fences(spark):
    from qctimeseries_spark.windows import seasonal_baseline

    # hour 3: values {1,2,3,4,100} -> med 3, IQR = q75 - q25 = 4 - 2 = 2
    # fence = 1.5*2 = 3 -> only 100 (dev 97) is anomalous at hour 3.
    # hour 15: values {99,100,101} -> med 100, IQR 2 -> 100 is NORMAL.
    rows = [
        (i, dt.datetime(2024, 1, 1 + i, 3, 0), float(v))
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])
    ] + [
        (10 + i, dt.datetime(2024, 1, 1 + i, 15, 0), float(v))
        for i, v in enumerate([99.0, 100.0, 101.0])
    ] + [(99, dt.datetime(2024, 1, 9, 3, 0), None)]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp, value double")
    out = seasonal_baseline(df, "ts", "value", iqr_mult=1.5)
    got = {r["id"]: r for r in out.collect()}
    assert got[4]["is_anomaly"] is True and got[4]["seasonal_dev"] == 97.0
    assert all(got[i]["is_anomaly"] is False for i in (0, 1, 2, 3))
    # the same value 100.0 is normal in its own seasonal phase
    assert got[11]["is_anomaly"] is False and got[11]["seasonal_med"] == 100.0
    assert got[0]["seasonal_med"] == 3.0 and got[0]["seasonal_iqr"] == 2.0
    # NULL value: ignored by the profile, NULL dev/flag for the row
    assert got[99]["seasonal_dev"] is None and got[99]["is_anomaly"] is None
    assert got[99]["seasonal_med"] == 3.0


def test_seasonal_baseline_by_key_and_dow(spark):
    from qctimeseries_spark.windows import seasonal_baseline

    rows = [
        ("a", dt.datetime(2024, 1, 7 * w + 1, 0, 0), float(w))  # Mondays
        for w in range(4)
    ] + [("b", dt.datetime(2024, 1, 1, 0, 0), 50.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = seasonal_baseline(df, "ts", "value", by=["k"], season="dow")
    a = out.filter(F.col("k") == "a").select("season").distinct().collect()
    assert [r["season"] for r in a] == [1]  # Monday = 1 (0=Sunday)
    b = out.filter(F.col("k") == "b").first()
    assert b["seasonal_med"] == 50.0 and b["seasonal_iqr"] == 0.0


def test_change_intervals_collapses_runs_null_safe(spark):
    """Consecutive equal values collapse into one validity interval;
    NULL→x and x→NULL are changes but NULL→NULL is not; versions are
    dense per key; valid_to chains to the next run's valid_from and is
    NULL for the current run; equal timestamps order by the tiebreak."""
    import datetime as dt

    from qctimeseries_spark.windows import change_intervals

    t0 = dt.datetime(2024, 1, 1)
    s = lambda m: t0 + dt.timedelta(minutes=m)
    rows = [
        # key 1: a a b b a  -> a, b, a
        (1, s(0), "a", 10), (1, s(1), "a", 11), (1, s(2), "b", 12),
        (1, s(3), "b", 13), (1, s(4), "a", 14),
        # key 2: NULL NULL x NULL  -> NULL, x, NULL
        (2, s(0), None, 20), (2, s(1), None, 21),
        (2, s(2), "x", 22), (2, s(3), None, 23),
        # key 3: same-ts tie broken by id: b (id 30) then a (id 31)
        (3, s(0), "b", 30), (3, s(0), "a", 31),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, v string, event_id long"
    )
    out = change_intervals(df, "ts", "user_id", "v", tiebreak_col="event_id")
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.user_id, []).append(r)
    for rs in by_key.values():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from
        assert rs[-1].valid_to is None
    assert [r.v for r in by_key[1]] == ["a", "b", "a"]
    assert by_key[1][0].valid_from == s(0)
    assert by_key[1][1].valid_from == s(2)
    assert [r.v for r in by_key[2]] == [None, "x", None]
    assert [r.v for r in by_key[3]] == ["b", "a"]
