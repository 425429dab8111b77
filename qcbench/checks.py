"""Correctness checks made apart from the program.

Each check takes the program's outputs as plain numpy/pyarrow data (read
back from disk with pyarrow, gzip and hashlib — never through Spark) and
the generated inputs, recomputes the expectation with numpy, and returns
a list of failure strings (empty = pass).  :func:`selftest` feeds every
check corrupted copies of a passing output — one flag flipped, one row
dropped, one value changed — and reports any corruption a check missed.
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from inputs import DAY_ROWS, RULES, VARS

FLAG_SUFFIX = "_qcflag"


def read_table(path: str) -> dict:
    """Parquet file or directory → {column: numpy array}, sorted by rowid;
    NULL floats become NaN, and ``null_<var>`` masks record where."""
    t = pq.read_table(path).sort_by("rowid")
    out = {}
    for name in t.column_names:
        col = t.column(name)
        if name in VARS:
            out["null_" + name] = col.is_null().to_numpy(zero_copy_only=False)
            out[name] = col.to_numpy(zero_copy_only=False).astype(np.float64)
        else:
            out[name] = col.to_numpy(zero_copy_only=False)
    return out


def _same_values(got: dict, exp: dict, var: str, where=None) -> bool:
    """Bit-identical values and identical NULL positions (on ``where``)."""
    gn, en = got["null_" + var], exp["null_" + var]
    gv, ev = got[var], exp[var]
    if where is not None:
        gn, en, gv, ev = gn[where], en[where], gv[where], ev[where]
    if not np.array_equal(gn, en):
        return False
    ok = ~en
    return np.array_equal(gv[ok].view(np.int64), ev[ok].view(np.int64))


def _rows_conserved(got: dict, exp: dict) -> list[str]:
    if len(got["rowid"]) != len(exp["rowid"]):
        return [f"row count {len(got['rowid'])} != {len(exp['rowid'])}"]
    if not np.array_equal(got["rowid"], exp["rowid"]):
        return ["rowids differ from the input's"]
    return []


# -- review_session -----------------------------------------------------------


def review_expected_flags(tab: dict, var: str, reviewed: set[int]) -> np.ndarray:
    """-1 NULL, -2 planted fault in a reviewed window, 1 rest of a
    reviewed window, 0 otherwise (daily windows from the first row)."""
    n = len(tab["rowid"])
    exp = np.zeros(n, dtype=np.int64)
    day = np.arange(n) // DAY_ROWS
    exp[np.isin(day, sorted(reviewed))] = 1
    faults = tab["faults"][var]
    exp[faults[np.isin(day[faults], sorted(reviewed))]] = -2
    exp[tab["null_" + var]] = -1
    return exp


def check_review(got: dict, tab: dict, var: str, reviewed: set[int],
                 redraws: list[tuple[int, int]]) -> list[str]:
    fails = _rows_conserved(got, tab)
    if fails:
        return fails
    for v in VARS:
        if not _same_values(got, tab, v):
            fails.append(f"{v}: values not bit-identical to the input")
        exp = (
            review_expected_flags(tab, var, reviewed) if v == var
            else np.where(tab["null_" + v], -1, 0)
        )
        bad = np.flatnonzero(got[v + FLAG_SUFFIX] != exp)
        if bad.size:
            fails.append(f"{v}: {bad.size} flags differ, first at rowid "
                         f"{got['rowid'][bad[0]]}")
    valid_per_day = np.bincount(
        np.arange(len(tab["rowid"]))[~tab["null_" + var]] // DAY_ROWS
    )
    for win, n_main in redraws:
        if n_main != valid_per_day[win]:
            fails.append(f"redraw of window {win}: {n_main} main-trace rows,"
                         f" expected {valid_per_day[win]}")
    return fails


# -- batch_qc ----------------------------------------------------------------


def batch_expected_flags(tab: dict, var: str) -> np.ndarray:
    """Range and spike rules in numpy: previous ROW's value (NULL if that
    row is NULL or absent), violations → -2, NULL → -1, rest 0."""
    lo, hi, step = RULES[var]
    v, null = tab[var], tab["null_" + var]
    prev = np.concatenate(([np.nan], v[:-1]))
    prev_null = np.concatenate(([True], null[:-1]))
    with np.errstate(invalid="ignore"):
        rng = ~null & ((v < lo) | (v > hi))
        spike = ~null & ~prev_null & (np.abs(v - prev) > step)
    exp = np.where(rng | spike, -2, 0)
    exp[null] = -1
    return exp


def _progress_expected(tab: dict) -> dict:
    """Per variable (total, pct_checked, pct_approved, pct_unchecked,
    pct_missing, pct_flagged) under the reference's two denominators:
    checked over non-NULL values, the rest over all rows."""
    out = {}
    n_all = len(tab["rowid"])
    for v in tab["vars"]:
        f = batch_expected_flags(tab, v)
        n_valid = int((~tab["null_" + v]).sum())
        n_flag = int((f == -2).sum())
        out[v] = (
            n_valid,
            100.0 * n_flag / n_valid,  # checked = flagged or approved
            0.0,
            100.0 * int((f == 0).sum()) / n_all,
            100.0 * int((f == -1).sum()) / n_all,
            100.0 * n_flag / n_all,
        )
    return out


def check_batch(out: dict, tab: dict) -> list[str]:
    """``out``: qc/clean export tables, progress/consistency/domain rows,
    CSV row counts, the checksum file's entries and the files' bytes."""
    fails = []
    qc, clean = out["qc"], out["clean"]
    for name, got in (("qc export", qc), ("clean export", clean)):
        fails += [f"{name}: {m}" for m in _rows_conserved(got, tab)]
    if fails:
        return fails
    vars_ = tab["vars"]
    for v in vars_:
        exp = batch_expected_flags(tab, v)
        bad = np.flatnonzero(qc[v + FLAG_SUFFIX] != exp)
        if bad.size:
            fails.append(f"{v}: {bad.size} flags differ from the rules")
        if not _same_values(qc, tab, v):
            fails.append(f"{v}: qc export values differ from the input")
        if v + FLAG_SUFFIX in clean:
            fails.append(f"{v}: clean export kept its flag column")
        masked = exp < 0
        if not np.array_equal(clean["null_" + v], masked):
            fails.append(f"{v}: clean export NULLs differ from flag < 0")
        elif not _same_values(clean, tab, v, where=~masked):
            fails.append(f"{v}: clean export values differ from the input")
    exp_prog = _progress_expected(tab)
    got_prog = {r[0]: r[1:] for r in out["progress"]}
    if sorted(got_prog) != sorted(vars_):
        fails.append(f"progress variables {sorted(got_prog)}")
    else:
        for v in vars_:
            g, e = got_prog[v], exp_prog[v]
            if g[0] != e[0]:
                fails.append(f"progress {v}: total {g[0]} != {e[0]}")
            # the program rounds to 2 dp; allow exactly that rounding
            for k, (gp, ep) in enumerate(zip(g[1:], e[1:]), 1):
                if gp is None or abs(gp - ep) > 0.005 + 1e-9:
                    fails.append(f"progress {v}[{k}]: {gp} vs {ep:.4f}")
    if [r for r in out["consistency"] if not r[-1]] or len(
        out["consistency"]
    ) != len(vars_):
        fails.append(f"consistency check not clean: {out['consistency']}")
    if out["domain"]:
        fails.append(f"flag domain check not clean: {out['domain']}")
    for name, n in out["csv_rows"].items():
        if n != len(tab["rowid"]):
            fails.append(f"{name}: {n} CSV rows, expected {len(tab['rowid'])}")
    listed = dict(out["checksums"])
    if sorted(listed) != sorted(out["files"]):
        fails.append("checksum file does not list exactly the exported files")
    for rel, data in out["files"].items():
        if listed.get(rel) != hashlib.md5(data).hexdigest():
            fails.append(f"checksum mismatch for {rel}")
    return fails


def read_exports(out_dir: str, stem: str) -> dict:
    """Everything :func:`check_batch` needs from one station's exports."""
    res = {
        "qc": read_table(os.path.join(out_dir, f"{stem}_qc_parquet")),
        "clean": read_table(os.path.join(out_dir, f"{stem}_clean_parquet")),
        "csv_rows": {},
        "files": {},
    }
    for tag in ("qc", "clean"):
        d = os.path.join(out_dir, f"{stem}_{tag}_csv")
        n = 0
        for f in sorted(os.listdir(d)):
            if f.endswith(".csv.gz"):
                with gzip.open(os.path.join(d, f), "rt", newline="") as fh:
                    rows = list(csv.reader(fh))
                n += max(len(rows) - 1, 0)  # one header per part file
        res["csv_rows"][tag] = n
    for tag in ("qc", "clean"):
        for kind in ("csv", "parquet"):
            d = f"{stem}_{tag}_{kind}"
            for f in sorted(os.listdir(os.path.join(out_dir, d))):
                if not f.startswith(("_", ".")):
                    with open(os.path.join(out_dir, d, f), "rb") as fh:
                        res["files"][f"{d}/{f}"] = fh.read()
    with open(os.path.join(out_dir, f"{stem}_checksums.md5")) as fh:
        res["checksums"] = [
            tuple(reversed(line.split("  ", 1)))
            for line in fh.read().splitlines() if line
        ]
    return res


# -- stream_ingest -----------------------------------------------------------


def stream_expected(deliveries: list[dict]) -> dict:
    """Last delivery per key, in delivery order."""
    last: dict[int, tuple[int, dict]] = {}
    for b, batch in enumerate(deliveries):
        for i, k in enumerate(batch["rowid"]):
            last[int(k)] = (b, i)
    keys = np.array(sorted(last), dtype=np.int64)
    exp = {"rowid": keys}
    for v in VARS:
        exp[v] = np.array([deliveries[last[k][0]][v][last[k][1]] for k in keys])
        exp["null_" + v] = np.isnan(exp[v])
    return exp


def check_stream(got: dict, exp: dict) -> list[str]:
    fails = []
    keys = got["rowid"]
    if keys.size != np.unique(keys).size:
        fails.append(f"{keys.size - np.unique(keys).size} duplicate keys")
    if keys.size != exp["rowid"].size:
        fails.append(f"{keys.size} rows, {exp['rowid'].size} distinct keys"
                     " delivered")
    if fails:
        return fails
    if not np.array_equal(keys, exp["rowid"]):
        return ["keys differ from the keys delivered"]
    for v in VARS:
        if not _same_values(got, exp, v):
            fails.append(f"{v}: values differ from each key's last delivery")
        exp_flag = np.where(exp["null_" + v], -1, 0)
        bad = np.flatnonzero(got[v + FLAG_SUFFIX] != exp_flag)
        if bad.size:
            fails.append(f"{v}: {bad.size} flags are not -1 NULL / 0 valid")
    return fails


# -- self-tests --------------------------------------------------------------


def _drop_row(t: dict, i: int = 0) -> dict:
    n = len(t["rowid"])
    return {
        k: (np.delete(a, i) if isinstance(a, np.ndarray) and len(a) == n else a)
        for k, a in t.items()
    }


def _flip_flag(t: dict, var: str, i: int) -> dict:
    t = dict(t)
    f = t[var + FLAG_SUFFIX].copy()
    f[i] = 1 if f[i] != 1 else -2
    t[var + FLAG_SUFFIX] = f
    return t


def _change_value(t: dict, var: str) -> dict:
    t = dict(t)
    v = t[var].copy()
    i = int(np.flatnonzero(~t["null_" + var])[len(v) // 2])
    v[i] += 0.5
    t[var] = v
    return t


def selftest(kind: str, check, good, *args) -> list[str]:
    """Run ``check`` on corrupted copies of a passing output ``good``;
    return the names of corruptions the check did NOT catch (plus a note
    if the uncorrupted output itself fails)."""
    if check(good, *args):
        return ["uncorrupted output fails the check"]
    var = VARS[0]
    if kind == "review":
        cases = {
            "flag flipped": _flip_flag(good, var, len(good["rowid"]) // 3),
            "row dropped": _drop_row(good),
            "value changed": _change_value(good, VARS[1]),
        }
        redraws = args[-1]
        if redraws:
            off = [(w, n + 1) for w, n in redraws[:1]] + list(redraws[1:])
            cases["redraw count off"] = (good, *args[:-1], off)
    elif kind == "batch":
        cases = {
            "flag flipped": {**good, "qc": _flip_flag(good["qc"], var, 7)},
            "row dropped": {**good, "clean": _drop_row(good["clean"])},
            "value changed": {**good, "clean": _change_value(good["clean"], var)},
            "progress value changed": {
                **good,
                "progress": [(r[0], r[1], r[2] + 0.05, *r[3:])
                             for r in good["progress"]],
            },
            "CSV row dropped": {
                **good, "csv_rows": {**good["csv_rows"],
                                     "qc": good["csv_rows"]["qc"] - 1},
            },
            "exported byte changed": _flip_byte(good),
        }
    else:
        n = len(good["rowid"])
        idx = np.concatenate((np.arange(n), [n - 1]))
        dup = {k: (a[idx] if isinstance(a, np.ndarray) and len(a) == n else a)
               for k, a in good.items()}
        cases = {
            "flag flipped": _flip_flag(good, var, n // 2),
            "row dropped": _drop_row(good),
            "value changed": _change_value(good, var),
            "row duplicated": dup,
        }
    missed = []
    for name, bad in cases.items():
        bad_args = bad[1:] if isinstance(bad, tuple) else args
        bad_out = bad[0] if isinstance(bad, tuple) else bad
        if not check(bad_out, *bad_args):
            missed.append(f"{kind}: {name}")
    return missed


def _flip_byte(good: dict) -> dict:
    files = dict(good["files"])
    rel = sorted(files)[0]
    data = bytearray(files[rel])
    data[len(data) // 2] ^= 0xFF
    files[rel] = bytes(data)
    return {**good, "files": files}
