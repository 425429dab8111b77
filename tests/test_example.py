"""Smoke test: the scripted data-checker example runs end-to-end —
plus the driver-contract guards (registry window coverage and
plan-shape regression pins for the headline set)."""

import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

#: the driver hash-checks only the FIRST 50 registry entries; every
#: operator family must keep at least one entry inside that window or
#: a careless insert silently downgrades it to replica-only checking
FAMILIES = {
    "s", "p", "f", "w", "a", "u", "v",  # SURVEY §2 QC core
    "d", "x", "t", "m", "c", "st", "h", "j", "e",  # extension surface
}


def _family(name: str) -> str:
    m = re.match(r"([a-z]+)\d", name)
    assert m, f"query name {name!r} does not follow <family><n>_<slug>"
    return m.group(1)


def _passes_by_round() -> dict[int, set[str]]:
    """The committed driver records: round -> entries that passed."""
    import json

    passed = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        passed[int(re.search(r"r(\d+)", p.name).group(1))] = {
            name
            for name, v in json.loads(p.read_text()).items()
            if v.get("rows_match")
            and v.get("schema_match") is not False
            and v.get("hash_match") in (True, None)
        }
    return passed


def test_driver_window_covers_every_family():
    from qctimeseries_spark.queries import (
        DECLARED, ORACLE, QUERIES, driver_window,
    )

    names = list(QUERIES)
    assert len(QUERIES) == len(ORACLE)
    assert set(QUERIES) == set(ORACLE)
    assert sorted(DECLARED) == sorted(names)
    assert {_family(n) for n in names} == FAMILIES  # no unknown family
    in_window = {_family(n) for n in names[:50]}
    missing = FAMILIES - in_window
    assert not missing, (
        f"families {sorted(missing)} fell out of the driver's 50-entry"
        f" hard-check window (see driver_window in"
        f" qctimeseries_spark/queries.py)"
    )
    # the registry leads with the window the committed records call for
    assert names[:50] == driver_window(DECLARED, _passes_by_round())


def test_driver_window_rule():
    """driver_window on synthetic records: oldest latest pass first,
    never-verified first, ties in declaration order, the family fill,
    and declaration order when there are no records."""
    from qctimeseries_spark.queries import driver_window

    names = ["a1_x", "a2_x", "a3_x", "b1_x", "b2_x", "c1_x"]
    assert driver_window(names, {}, 3) == ["a1_x", "a2_x", "a3_x"]
    # a3 never passed (round 0); b1 r1; a1/c1 tie at r2 in declaration
    # order; a2 r3, b2 r4
    passed = {1: {"b1_x", "a2_x"}, 2: {"a1_x", "c1_x"}, 3: {"a2_x"},
              4: {"b2_x"}, 9: {"gone1_x"}}
    assert driver_window(names, passed, 6) == [
        "a3_x", "b1_x", "a1_x", "c1_x", "a2_x", "b2_x",
    ]
    assert driver_window(names, passed, 4) == [
        "a3_x", "b1_x", "a1_x", "c1_x",
    ]
    # top 3 is a3, b1, a1: c is missing, so its oldest member (c1)
    # replaces the youngest pick of a shared family (a1)
    assert driver_window(names, passed, 3) == ["a3_x", "b1_x", "c1_x"]
    # two missing families fill in age order; fills never evict fills
    fam = ["a1_x", "a2_x", "a3_x", "a4_x", "c1_x", "b1_x"]
    got = driver_window(fam, {1: {"a1_x", "a2_x", "a3_x", "a4_x"},
                              2: {"c1_x"}, 3: {"b1_x"}}, 4)
    assert got == ["a1_x", "a2_x", "c1_x", "b1_x"]
    # no shared family left to evict: the window stays as ranked
    assert driver_window(fam, {1: set(fam)}, 1) == ["a1_x"]


def test_registry_staleness_slo():
    """Rotation discipline as CI, not prose (VERDICT r12 task 6).

    With a 200+-entry registry and a 50-slot driver hash window,
    worst-case verdict staleness is ~4 rounds.  This test turns that
    arithmetic into a hard SLO over the committed driver records:

    * no entry's latest passing driver verdict may be older than
      ``current - 4`` rounds unless the entry sits in the CURRENT
      window (about to be re-verified this round), and
    * no entry may stay driver-unverified beyond its birth round + 1:
      an entry with no verdict at all must either be in the current
      window or have been born this round (first replica-sweep
      appearance == the in-flight round, the e3/st27 deferral
      precedent).

    ``current`` = the latest committed ``CORRECTNESS_r*.json`` round
    + 1 — the round in flight while this suite runs.
    """
    import json

    from qctimeseries_spark.queries import QUERIES

    def _round(p: Path) -> int:
        return int(re.search(r"r(\d+)", p.name).group(1))

    passed = _passes_by_round()
    assert passed, "no committed driver correctness records"
    current = max(passed) + 1

    latest_pass: dict[str, int] = {}
    for r, names in passed.items():
        for name in names:
            latest_pass[name] = max(latest_pass.get(name, 0), r)

    # birth evidence: the earliest replica sweep an entry appears in
    # (full-registry sweeps are committed every round since r12)
    born_by: dict[str, int] = {}
    for p in sorted(REPO.glob("REPLICA_r*.json"), key=_round):
        r = _round(p)
        for name in json.loads(p.read_text())["results"]:
            born_by.setdefault(name, r)

    window = set(list(QUERIES)[:50])
    stale, unborn = [], []
    for name in QUERIES:
        if name in window:
            continue  # gets a fresh verdict this round
        if name in latest_pass:
            if latest_pass[name] < current - 4:
                stale.append((name, latest_pass[name]))
        elif born_by.get(name, current) < current:
            unborn.append((name, born_by[name]))
    assert not stale, (
        f"driver verdicts older than r{current - 4} outside the "
        f"window: {sorted(stale)} — rotate them in"
    )
    assert not unborn, (
        f"entries born before r{current} with no driver verdict and "
        f"not in the current window: {sorted(unborn)}"
    )


#: plan-shape pins for the bench headline set, measured at sf0.001.
#: global_windows: unpartitioned window operators — only BOUNDED frames
#: (per-window renumbering, #blocks boundary carries) may use one.
#: nested_loop_joins: only the broadcast-single-row centroid crossJoin
#: of the knn queries.  A pin failing means a full-size frame picked up
#: a single-task stage — audit before bumping the number.
_PLAN_PINS = {  # name -> (max_global_windows, max_nested_loop_joins)
    "w3_admitted_windows": (1, 0),
    "w11_interpolate": (1, 0),
    # w14: fill_backward's boundary carry cumulates over the tiny
    # #blocks frame (w10/w11's pattern) — that window is #blocks-sized,
    # never the series
    "w14_bfill": (1, 0),
    # w18: fill_forward's boundary carry — the same #blocks-sized
    # frame as w14 (w10 itself is out of HEADLINE, so the max-gap twin
    # carries the pin)
    "w18_ffill_maxgap": (1, 0),
    "x1_knn_bruteforce": (0, 1),
    "x6_quantized_knn": (0, 1),  # x1's broadcast != join over int8
    "x7_pq_knn": (0, 1),  # same broadcast-queries ADC scan over codes
    "t29_hybrid_rrf": (0, 1),  # the dense tier IS x1's broadcast != join
    # t30: rank is numbered AFTER limit(n) — the global window touches
    # n rows, never the corpus (docstring-pinned plan)
    "t30_weighted_sample": (1, 0),
    # x11: take_centroids' row_number over the limit-nlist frame (the
    # x2 seed-centroid pattern) — nlist rows, not the corpus
    "x11_cell_stats": (1, 0),
    # sketch tier: no windows, no NL joins — the Bloom probe is two
    # broadcast semi-joins, cms/hll are bounded-key aggregations
    "t32_bloom_prune": (0, 0),
    "t33_cms_heavyhitters": (0, 0),
    "t34_hll_distinct": (0, 0),
    # t38: the weight → normalizer → binding-T ladder crossJoins three
    # BROADCAST scalar frames (1 row / |groups| rows each) onto the
    # checkpointed groups frame — every NL join is over a frame the
    # size of the GROUP COUNT, never the corpus (the corpus is scanned
    # once into the checkpoint; see temperature_weights)
    "t38_temperature_mix": (0, 8),
    # x15 composes the brute (x1) and IVF candidate stages — both ride
    # x1's broadcast != join over the corpus scan
    "x15_recall_eval": (0, 2),
    # x16 reranks x1's candidate pool — x1's broadcast != join rides in
    "x16_mmr_rerank": (0, 1),
    # x18: the Hamming candidate scan is the x1 broadcast != join
    # shape over the packed signatures
    "x18_binary_knn": (0, 1),
    # x14: the seed-centroid row_number over the limit-nlist frame
    # (the x2/x11 pattern) — nlist rows, never the corpus
    "x14_kmeans": (1, 0),
    # h16/h17/h20: the Q11/Q15/Q22 global threshold/max/avg is a
    # single-row aggregate broadcast back over the per-group frame —
    # the t38 scalar-crossJoin pattern, a 1-row nested-loop join
    "h16_important_parts": (0, 1),
    "h17_top_supplier": (0, 1),
    "h20_balance_gate": (0, 1),
}
_MUST_BROADCAST = {"h3_segment_revenue", "h5_nation_revenue",
                   "d2_minhash_dedup", "t7_contamination", "j2_range_join"}


def _headline_names():
    sys.path.insert(0, str(REPO))
    from bench import HEADLINE

    return HEADLINE


def test_extensions_doc_totals_match_registry():
    """EXTENSIONS.md is the auditing surface — its totals line must
    track the live registry exactly (r6 verdict: doc drift)."""
    from qctimeseries_spark.queries import ORACLE, QUERIES

    doc = (REPO / "EXTENSIONS.md").read_text()
    claim = f"{len(QUERIES)} registered queries / {len(ORACLE)}\nDuckDB-oracle-paired"
    assert claim in doc, (
        f"EXTENSIONS.md totals drifted: expected {claim!r} "
        f"(registry={len(QUERIES)}, oracle={len(ORACLE)})"
    )
    # the sf1 paragraph: ALL queries verified at sf1 — 163 row-level
    # plus d3 via the engine-side aggregate-hash compare (its 108.8M
    # pairs OOM the row-materializing harness, not Spark; round 9
    # closed the former exclusion by pinning d3's 4x16 chunk layout
    # so the oracle mirrors it at every scale)
    assert "validate_d3_sf1_hash.py" in doc
    assert "validate_d3_sf1.py" in doc  # the planted-recall drill too
    # ... and the COUNT must track the registry (VERDICT r8 task 8):
    # adding queries without re-verifying sf1 (and updating this
    # sentence) fails here instead of silently staling the claim
    sf1_claim = (
        f"passes at sf1 for all {len(QUERIES)}\n"
        f"registered queries"
    )
    assert sf1_claim in doc, (
        f"EXTENSIONS.md sf1 coverage count drifted: expected "
        f"{sf1_claim!r} — re-run the sf1 verification for new queries "
        f"and update the paragraph"
    )
    # README carries the same totals in its verification section
    # (r9 verdict task 7: prose inventories drift as rounds add
    # entries; pin the README count the same way)
    readme = (REPO / "README.md").read_text()
    readme_claim = (
        f"**{len(QUERIES)} registered queries / {len(ORACLE)}\n"
        f"DuckDB-oracle-paired**"
    )
    assert readme_claim in readme, (
        f"README.md registry totals drifted: expected {readme_claim!r}"
    )
    # BENCHNOTES carries a generated-style "Current state" block that
    # must track the live registry (VERDICT r10 task 8: the
    # closing-paragraph prose counts drift per round; this block is
    # asserted instead)
    bn = (REPO / "BENCHNOTES.md").read_text()
    state = bn.split("## Current state")[-1]
    assert f"registry: {len(QUERIES)} queries / {len(ORACLE)} oracle-paired" in state, (
        "BENCHNOTES Current-state registry counts drifted"
    )


@pytest.mark.parametrize("name", _headline_names())
def test_headline_plan_shape(spark, name):
    from qctimeseries_spark.plans import plan_summary
    from qctimeseries_spark.queries import QUERIES

    ps = plan_summary(QUERIES[name](spark, "/root/testdata/sf0.001"))
    gw_max, nlj_max = _PLAN_PINS.get(name, (0, 0))
    assert ps["cartesian_products"] == 0, ps
    assert ps["global_windows"] <= gw_max, ps
    assert ps["nested_loop_joins"] <= nlj_max, ps
    if name in _MUST_BROADCAST:
        assert ps["broadcasts"] >= 1, ps  # dim side must broadcast


def test_qc_checker_example_runs(tmp_path):
    out = subprocess.run(
        [sys.executable, str(REPO / "examples" / "qc_checker.py"),
         "/root/testdata/sf0.001", str(tmp_path)],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "progress after rule-based flagging" in out.stdout
    assert "wrote [csv]" in out.stdout or "wrote [parquet]" in out.stdout
    # the exports actually landed
    assert any(tmp_path.iterdir())


def test_curate_corpus_example_runs():
    out = subprocess.run(
        [sys.executable, str(REPO / "examples" / "curate_corpus.py"),
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "curated" in out.stdout
    assert "token budget" in out.stdout
    assert "IVF recall@10" in out.stdout


def test_stream_ingest_example_runs():
    out = subprocess.run(
        [sys.executable, str(REPO / "examples" / "stream_ingest.py"),
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "re-crawls dropped against the store" in out.stdout
    assert "re-encodes" in out.stdout and "dropped at cosine" in out.stdout
    assert "from the grown index" in out.stdout
    assert "after compaction" in out.stdout


def test_pretraining_prep_example_runs():
    out = subprocess.run(
        [sys.executable, str(REPO / "examples" / "pretraining_prep.py"),
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "leaked spans cut" in out.stdout
    assert "mixed corpus" in out.stdout
    assert "straddle a 512-token boundary" in out.stdout
    assert "k-means cells" in out.stdout
    assert "diversified results" in out.stdout


def test_event_analytics_example_runs():
    out = subprocess.run(
        [sys.executable, str(REPO / "examples" / "event_analytics.py"),
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "trend:" in out.stdout and "steepest" in out.stdout
    assert "autocorrelation:" in out.stdout
    assert "nearest calibration:" in out.stdout
    assert "reconciled" in out.stdout  # stream == batch twin
    assert "funnel: signup" in out.stdout
    assert "retention: week-1 average" in out.stdout
    assert "time-weighted resample:" in out.stdout
    assert "last-touch credit:" in out.stdout
    assert "transitions: hottest path" in out.stdout
    assert out.stdout.count("DIVERGED") == 0


def test_replica_sweep_artifact_current():
    """VERDICT r11 task 8: the full-registry replica sweep is a
    COMMITTED ARTIFACT (REPLICA_r{N}.json), and this pin keeps it
    honest — the latest record must cover the LIVE registry exactly
    and be failure-free, so adding a query without re-sweeping (or
    committing a red sweep) fails here instead of silently staling
    the claim."""
    import json
    import re as _re

    from qctimeseries_spark.queries import QUERIES

    recs = sorted(
        REPO.glob("REPLICA_r*.json"),
        key=lambda p: int(_re.search(r"r(\d+)", p.name).group(1)),
    )
    assert recs, "no REPLICA_r*.json sweep artifact committed"
    latest = json.loads(recs[-1].read_text())
    assert latest["n_failures"] == 0, latest["n_failures"]
    assert latest["n_checked"] == latest["n_registry"] == len(QUERIES), (
        f"sweep record covers {latest['n_checked']} of "
        f"{len(QUERIES)} registered queries — re-run "
        f"tools/check_correctness.py --record after registry changes"
    )
    statuses = {v["status"] for v in latest["results"].values()}
    assert statuses <= {"PASS", "ROWS_ONLY"}, statuses


def test_qcsession_latency_artifact_current():
    """VERDICT r12 task 8: the QcSession interactivity budget (SURVEY
    §7.4 risk 6 — per-event sub-second response) is a COMMITTED
    artifact (QCSESSION_LATENCY.json, written by
    tools/qcsession_latency.py --record at sf0.1), not a tool a
    reader has to run.  This pin keeps it honest: the record must
    price every required U-op with p50/p95, carry the checkpoint
    compaction probe, and have been measured on the code it times (its
    digest of the timed modules must match the live sources)."""
    import json

    rec_path = REPO / "QCSESSION_LATENCY.json"
    assert rec_path.exists(), (
        "QCSESSION_LATENCY.json missing — run "
        "tools/qcsession_latency.py /root/testdata/sf0.1 10 --record"
    )
    rec = json.loads(rec_path.read_text())
    assert rec["sf_dir"].rstrip("/").endswith("sf0.1"), rec["sf_dir"]
    required = {
        "flag_selection_50", "redraw_slices", "approve_selection_50",
        "flag_window", "approve_unflagged", "next_redraw",
    }
    assert required <= set(rec["ops"]), (
        required - set(rec["ops"])
    )
    for op in required:
        entry = rec["ops"][op]
        assert {"p50", "p95", "jobs_cold", "wall_cold"} <= set(entry)
        assert entry["p50"] <= entry["p95"]
    assert "checkpoint_wall" in rec and "post_checkpoint" in rec
    sys.path.insert(0, str(REPO / "tools"))
    from qcsession_latency import TIMED_MODULES, sources_sha256

    assert rec["sources_sha256"] == sources_sha256(), (
        f"QCSESSION_LATENCY.json was measured on other code than the "
        f"live {', '.join(TIMED_MODULES)} — regenerate it "
        f"(tools/qcsession_latency.py /root/testdata/sf0.1 10 --record)"
    )


@pytest.mark.parametrize("unit", ["ms", "us", "ns"])
def test_events_anchor_reads_declared_timestamp_unit(tmp_path, unit):
    """The footer-statistics anchor converts by the column's declared
    parquet unit; a ``ts`` that is not a TIMESTAMP gives None."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from qctimeseries_spark.queries import _events_anchor

    lo = dt.datetime(2024, 1, 1, 0, 0, 7, 179000)
    ts = [lo + dt.timedelta(hours=h) for h in (3, 0, 5)]
    path = tmp_path / "events.parquet"
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp(unit))}), path)
    assert _events_anchor(str(tmp_path)) == lo
    pq.write_table(
        pa.table({"ts": pa.array([int(t.timestamp()) for t in ts], pa.int64())}),
        path,
    )
    assert _events_anchor(str(tmp_path)) is None
