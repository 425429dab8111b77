"""Seeded input generation for the QC benchmark (numpy + pyarrow only).

Every table is a one-minute sensor series with four variables, NULL gap
runs and planted faults.  The same seed gives identical tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VARS = ("temp", "rh", "wind", "pressure")
CADENCE_US = 60 * 1_000_000  # one minute
DAY_ROWS = 24 * 60
START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
GAP_RATE = 0.02  # share of rows that start a NULL run is GAP_RATE / 15.5
GAP_MAX = 30  # NULL runs are 1..GAP_MAX rows long
FAULTS_PER_DAY = 6  # planted faults per variable per day (fewer if adjacent)

#: (lo, hi, max_step) screening rules per variable — batch_qc's rule set
RULES = {
    "temp": (-30.0, 45.0, 4.0),
    "rh": (0.0, 100.0, 12.0),
    "wind": (0.0, 40.0, 8.0),
    "pressure": (950.0, 1050.0, 3.0),
}
_BASE = {  # (mean, diurnal amplitude, noise sd); steps stay far below max_step
    "temp": (12.0, 6.0, 0.2),
    "rh": (60.0, 15.0, 0.8),
    "wind": (12.0, 4.0, 0.5),
    "pressure": (1010.0, 2.0, 0.1),
}


def _gap_mask(rng: np.random.Generator, n: int) -> np.ndarray:
    mask = np.zeros(n, dtype=bool)
    runs = max(1, int(round(GAP_RATE * n / 15.5)))
    for s, k in zip(rng.integers(0, n, runs), rng.integers(1, GAP_MAX + 1, runs)):
        mask[s : s + k] = True
    return mask


def _plant_day(rng, vals, valid, day: int, var: str) -> np.ndarray:
    """Plant isolated faults in one day at rows whose neighbours are
    valid: spikes (+3 max_step) on odd days, range breaks on even days."""
    _, hi, step = RULES[var]
    a, b = day * DAY_ROWS + 2, (day + 1) * DAY_ROWS - 2
    ok = valid[a:b] & valid[a - 1 : b - 1] & valid[a + 1 : b + 1]
    pos = np.sort(rng.choice(np.flatnonzero(ok) + a, FAULTS_PER_DAY, replace=False))
    pos = pos[np.concatenate(([True], np.diff(pos) > 2))]
    if day % 2:
        vals[pos] += 3.0 * step
    else:
        vals[pos] = hi + 5.0 + np.round(rng.random(pos.size), 3)
    return pos


def sensor_table(seed: int, days: int, *, stream: int = 0, vars_=VARS) -> dict:
    """One station's table as numpy columns: ``rowid`` (1..n in time
    order), ``ts_us``, one float64 column per variable (NaN marks NULL),
    ``null_<var>`` masks, ``faults`` (planted positions per variable) and
    ``vars``."""
    rng = np.random.default_rng([seed, stream])
    n = days * DAY_ROWS
    t = np.arange(n, dtype=np.int64)
    out: dict = {"rowid": t + 1, "ts_us": START_US + t * CADENCE_US,
                 "faults": {}, "vars": tuple(vars_)}
    phase = 2 * np.pi * (t % DAY_ROWS) / DAY_ROWS
    for v in vars_:
        mean, amp, sd = _BASE[v]
        vals = mean + amp * np.sin(phase + rng.uniform(0, 2 * np.pi))
        vals = np.round(vals + rng.normal(0, sd, n), 3)
        null = _gap_mask(rng, n)
        out["faults"][v] = np.concatenate(
            [_plant_day(rng, vals, ~null, d, v) for d in range(days)]
        )
        vals[null] = np.nan
        out[v] = vals
        out["null_" + v] = null
    return out


def to_arrow(tab: dict, rows: slice | np.ndarray = slice(None)) -> pa.Table:
    """Arrow table (rowid, ts, vars) with NULL — not NaN — for the gaps,
    the way the reference's ``NA`` lands in Parquet."""
    cols = {
        "rowid": pa.array(tab["rowid"][rows]),
        "ts": pa.array(tab["ts_us"][rows], pa.timestamp("us", tz="UTC")),
    }
    for v in tab["vars"]:
        cols[v] = pa.array(tab[v][rows], mask=tab["null_" + v][rows])
    return pa.table(cols)
