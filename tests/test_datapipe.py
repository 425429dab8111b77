"""Tests for the training-data-pipeline operators (dedup, similarity,
text analysis, multimodal plumbing)."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qctimeseries_spark.datapipe import (
    attach_media,
    cosine,
    exact_dedup,
    extract_features,
    knn_bruteforce,
    knn_ivf,
    lang_id,
    lsh_candidates,
    media_summary,
    minhash_dedup_pairs,
    quality_score,
    simhash_dup_pairs,
    text_stats,
)
from qctimeseries_spark.datapipe.dedup import minhash_signatures, shingles

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2, "completely different content about database engines and columnar storage formats with vectorized execution"),
    (3, "THE  QUICK  BROWN  FOX jumps over the lazy dog near the river bank"),
    (4, "der hund und die katze sind nicht ein problem zu haben"),
    (5, "short text"),
]

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, DOC_SCHEMA)


@pytest.fixture(scope="module")
def vectors(spark):
    """32 deterministic 8-dim vectors; vec 100 ≈ vec 0 (near-dup)."""
    rows = []
    for i in range(32):
        v = [math.sin(i * 7 + d) for d in range(8)]
        rows.append((i, v))
    rows.append((100, [x * 1.001 + 0.001 for x in rows[0][1]]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_exact_dedup_normalizes_case_and_whitespace(docs, spark):
    groups = exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keeper"] == 0
    assert groups[0]["ids"] == [0, 3]


def test_shingles_short_doc_whole_text(docs, spark):
    out = docs.select(shingles(F.col("text"), 3).alias("s")).collect()
    short = out[5]["s"]
    assert short == ["short text"]


def test_minhash_similar_docs_share_signature_elements(docs):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", minhash_signatures(F.col("text"), 16, 3).alias("sig")
        ).collect()
    }
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert agree_near > agree_far
    assert agree_near >= 8  # J(0,1) ≈ 0.8 → expect most elements equal


def test_minhash_dedup_finds_planted_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(docs, k=15, bands=5, threshold=0.5).collect()
    }
    assert (0, 1) in pairs
    assert (0, 3) in pairs  # exact dup after normalization → jaccard 1.0
    assert pairs[(0, 3)] == 1.0
    assert all(a < b for a, b in pairs)


def test_lsh_candidates_exclude_dissimilar(docs):
    cands = {
        (r["id_a"], r["id_b"]) for r in lsh_candidates(docs, bands=5, k=15).collect()
    }
    assert (2, 4) not in cands


def test_simhash_pairs(docs):
    # chunks must exceed max_hamming (pigeonhole) — 8x4-bit over 32 bits
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(docs, max_hamming=6, chunks=8).collect()
    }
    assert pairs.get((0, 3)) == 0  # identical token sets
    assert (0, 1) in pairs


def test_simhash_planted_pair_recall(spark):
    """The planted-pair harness that validates d3 at sf1 scale
    (tools/validate_d3_sf1.py — the registered query's DuckDB oracle
    is infeasible there: the 31-token synthetic vocab makes the true
    pair set ~108.8M rows), pinned here at pytest scale: every planted
    twin pair whose TRUE 64-bit hamming is <= 3 must be recovered, and
    a 100k-token vocabulary keeps incidental pairs at zero.  Recall is
    the only open property — emitted pairs are exact-checked by the
    operator, so false positives are impossible by construction."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from validate_d3_sf1 import TWIN_BASE, build_corpus

    from qctimeseries_spark.datapipe.dedup import (
        simhash_dup_pairs,
        simhash_table,
    )

    n_docs, n_twins = 3000, 150
    corpus = build_corpus(spark, n_docs, n_twins)
    pairs = simhash_dup_pairs(corpus, bits=64, chunks=4, max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    st = simhash_table(corpus, bits=64)
    sig = {r.doc_id: r.simhash for r in st.collect()}
    want = {
        (i, TWIN_BASE + i)
        for i in range(n_twins)
        if bin(sig[i] ^ sig[TWIN_BASE + i]).count("1") <= 3
    }
    assert n_twins // 2 <= len(want) <= n_twins
    assert want <= got  # full recall on the planted pairs
    assert got == want  # and zero incidental pairs at 64 bits


def test_simhash_rejects_broken_pigeonhole(docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole needs chunks"):
        simhash_dup_pairs(docs, max_hamming=6)  # default chunks=4


def test_simhash_auto_widens_past_saturation(docs):
    import warnings as _warnings

    # cap for 8x4-bit at budget 1 is 2 docs; the fixture's 6 trip it and
    # the operator should widen to 4x16-bit (cap 16k) instead of raising
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in simhash_dup_pairs(
                docs, bits=32, max_hamming=3, chunks=8,
                max_candidates_per_doc=1,
            ).collect()
        }
    assert any("auto-widening" in str(w.message) for w in rec)
    assert (0, 3) in pairs  # identical token sets always collide


def test_cosine_identity(vectors):
    row = (
        vectors.filter(F.col("vec_id") == 0)
        .select(cosine(F.col("embedding"), F.col("embedding")).alias("c"))
        .collect()[0]
    )
    assert abs(row["c"] - 1.0) < 1e-12


def test_knn_bruteforce_finds_planted_neighbor(vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_bruteforce(vectors, queries, k=3).collect()
    assert out[0]["neighbor_id"] == 100  # the planted near-copy
    assert out[0]["rank"] == 1
    assert out[0]["cos"] > 0.999


def test_knn_bruteforce_ragged_queries_take_the_hof_tier(
    vectors, spark, monkeypatch
):
    """Query vectors of mixed dimension cannot form the Arrow tier's
    query matrix; they score on the HOF tier (NULL cosine for each
    mismatched pair) with the same output as that tier forced, and
    uniform queries keep the Arrow tier's values."""
    from qctimeseries_spark.datapipe import similarity

    schema = "query_id long, embedding array<double>"
    uniform = [(0, [math.sin(d) for d in range(8)]),
               (1, [math.cos(d) for d in range(8)])]
    ragged = uniform + [(200, [1.0, 0.0, 0.0, 1.0]), (201, None)]

    def run(rows):
        q = spark.createDataFrame(rows, schema)
        return sorted(
            tuple(r) for r in knn_bruteforce(vectors, q, k=3).collect()
        )

    got = run(ragged)
    arrow_uniform = run(uniform)
    monkeypatch.setattr(similarity, "BRUTE_ARROW_MAX_QUERIES", 0)
    assert got == run(ragged)  # the HOF tier, forced
    assert [r for r in got if r[0] in (0, 1)] == arrow_uniform
    assert {r[2] for r in got if r[0] in (200, 201)} == {None}


def test_knn_ivf_recall_vs_bruteforce(vectors):
    queries = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(vectors, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(vectors, queries, k=5, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # nprobe=4 of nlist=8 cells


def test_radius_search_brute_exact_and_ivf_subset(vectors):
    """Brute radius = the exact threshold filter over all pairs (no
    ranking window to get wrong); IVF radius ⊆ brute at the same τ
    (cell restriction can only drop pairs, never invent them) and
    still finds the planted near-copy at a high threshold."""
    from qctimeseries_spark.datapipe.similarity import radius_search

    queries = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = vectors.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in c.join(
            F.broadcast(
                queries.select("query_id", F.col("embedding").alias("qv"))
            ),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 9))
        .filter(F.col("cos") >= 0.2)
        .collect()
    }
    brute = radius_search(vectors, queries, threshold=0.2).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in brute} == want
    assert all(r["cos"] >= 0.2 for r in brute)
    ivf = radius_search(
        vectors, queries, threshold=0.2, strategy="ivf", nlist=8, nprobe=4
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in ivf} <= want
    # the planted near-copy (vec 100 ≈ vec 0) survives a 0.99 τ
    hits = radius_search(
        vectors,
        queries.filter(F.col("query_id") == 0),
        threshold=0.99,
        strategy="ivf",
        nlist=8,
        nprobe=4,
    ).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in hits] == [(0, 100)]
    with pytest.raises(ValueError, match="strategy"):
        radius_search(vectors, queries, strategy="nope")


def test_redact_pii(spark):
    from qctimeseries_spark.datapipe.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.org today"),
            (2, "server 192.168.10.7 went down, call +1555¬0100-22"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].text_redacted == "mail me at [PII] today"
    assert out[1].n_pii == 1
    assert "[PII]" in out[2].text_redacted
    assert "192.168" not in out[2].text_redacted
    assert out[3].text_redacted == "nothing sensitive here"
    assert out[3].n_pii == 0


def test_contamination_check_catches_leak(spark):
    from qctimeseries_spark.datapipe.text import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the bank")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog too"),
            (2, "completely unrelated content about storage engines and files"),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_shared_ngrams for r in
            contamination_check(corpus, bench, ngram=8).collect()}
    assert 1 in hits and hits[1] >= 1  # shares an 8-gram
    assert 2 not in hits


def test_hash_sample_deterministic_and_stratified(spark):
    from qctimeseries_spark.datapipe.sample import hash_sample
    from qctimeseries_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.25).select("doc_id").collect()}
    b = {r.doc_id for r in hash_sample(docs, "doc_id", 0.25).select("doc_id").collect()}
    assert a == b and 0 < len(a) < docs.count()  # reproducible, partial
    # a larger fraction with the same seed is a SUPERSET (nested samples)
    big = {r.doc_id for r in hash_sample(docs, "doc_id", 0.5).select("doc_id").collect()}
    assert a <= big
    # stratified: zh keeps more than en at these rates
    s = hash_sample(
        docs, "doc_id", strata_col="lang",
        fractions={"en": 0.1, "zh": 0.9}, default_fraction=0.0,
    )
    counts = {r.lang: r.n for r in
              s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"en", "zh"}  # default 0 drops other strata
    with pytest.raises(ValueError, match="exactly one"):
        hash_sample(docs, "doc_id")


def test_dup_clusters_transitive_closure(spark):
    """A≈B, B≈C (but no A-C pair) must land in ONE cluster labeled by
    the min id; disjoint pairs stay separate."""
    from qctimeseries_spark.datapipe.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (40, 41), (41, 40)],
        "id_a long, id_b long",
    )
    got = {
        (r.id, r.cluster_id) for r in dup_clusters(pairs).collect()
    }
    assert got == {
        (3, 3), (5, 3), (9, 3),      # chain closed transitively
        (20, 20), (21, 20),
        (40, 40), (41, 40),          # symmetric duplicate edge collapsed
    }


def test_dup_clusters_one_job_per_round(spark):
    """The convergence probe rides the round's own materializing action
    — a diameter-4 path graph (5 label rounds + 1 final collect) must
    not launch a second old-vs-new job per round."""
    from qctimeseries_spark.datapipe.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    # with AQE every shuffle stage surfaces as its own job id and every
    # broadcast exchange submits a side job, so pin the action count
    # with both off: one action == one job
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("cc_jobs", "dup_clusters job accounting")
    try:
        got = {
            r.id: r.cluster_id
            for r in dup_clusters(pairs, strategy="iterative").collect()
        }
    finally:
        sc.setJobGroup("cc_done", "")
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    assert got == {i: 1 for i in range(1, 6)}
    jobs = sc.statusTracker().getJobIdsForGroup("cc_jobs")
    # 5 propagation rounds (4 = diameter, +1 no-change detect) + the
    # final collect; the old two-actions-per-round shape would be ≥ 11
    assert len(jobs) <= 7, f"expected ≤7 jobs, got {len(jobs)}"


def test_dup_clusters_all_ids_includes_singletons(spark):
    from qctimeseries_spark.datapipe.dedup import dup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    out = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, all_ids=ids).collect()
    }
    assert out == {1: 1, 2: 1, 3: 3, 4: 4}


def test_embedding_dup_pairs_ivf_matches_bruteforce(spark):
    """The cell-bucketed strategy must reproduce brute force on the
    planted-duplicate corpus (VERDICT r1 item 5)."""
    from qctimeseries_spark.datapipe.dedup import embedding_dup_pairs
    from qctimeseries_spark.datapipe.queries import _emb_corpus

    corpus = _emb_corpus(spark, "/root/testdata/sf0.001")
    kw = dict(id_col="vec_id", vec_col="v", threshold=0.9)
    bf = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(corpus, **kw).collect()
    }
    ivf = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(
            corpus, **kw, strategy="ivf", nlist=8
        ).collect()
    }
    assert bf and ivf == bf  # identical pairs AND identical 9-dp scores


def test_dup_pairs_hot_cell_resplit(spark, monkeypatch):
    """r9 verdict task 3: a pathological hot cell (near-identical
    embedding pileup holding half the corpus) must NOT land its
    O(cell²) numpy scoring on one task.  Pins (a) the shard
    arithmetic — the hot cell splits into ceil(count/cap) scoring
    groups, each carrying the full cell as its B side and a disjoint
    A slice; small cells keep the unsharded one-group layout — and
    (b) end-to-end exactness: the sharded IVF pair set and every
    9-dp cosine equal brute force (sharding is per-pair, so it is
    free)."""
    import qctimeseries_spark.datapipe.dedup as dd
    from qctimeseries_spark.datapipe.dedup import (
        _shard_cells,
        embedding_dup_pairs,
    )

    # (a) shard arithmetic on a synthetic cell assignment: one hot
    # cell of 200 members, one healthy cell of 20, cap 32
    cells = spark.createDataFrame(
        [(0, i, [1.0]) for i in range(200)]
        + [(1, 1000 + i, [1.0]) for i in range(20)],
        "centroid_id int, vec_id long, u array<double>",
    )
    sh = _shard_cells(cells, "vec_id", cap=32, max_shards=32).collect()
    hot = [r for r in sh if r.centroid_id == 0]
    small = [r for r in sh if r.centroid_id == 1]
    hot_shards = {r._shard for r in hot}
    assert len(hot_shards) == 7  # ceil(200/32) scoring groups
    # every shard replicates the FULL cell as its B side...
    for s in hot_shards:
        assert sum(1 for r in hot if r._shard == s) == 200
    # ...and the A sides are a disjoint cover of the cell
    a_ids = [r.vec_id for r in hot if r._is_a]
    assert sorted(a_ids) == list(range(200))
    assert all(
        sum(1 for r in hot if r._shard == s and r._is_a) <= 64
        for s in hot_shards
    )  # no shard hoards the A side (64 = 2x the even split)
    # the healthy cell keeps the old one-group, everyone-is-A layout
    assert {r._shard for r in small} == {0}
    assert len(small) == 20 and all(r._is_a for r in small)
    # max_shards bounds the fan-out
    capped = _shard_cells(cells, "vec_id", cap=1, max_shards=4).collect()
    assert {r._shard for r in capped if r.centroid_id == 0} == {0, 1, 2, 3}

    # (b) end-to-end: 60 near-identical vectors (one hot cell) + 60
    # spread ones, cap forced down so the hot cell actually shards —
    # pair set and cosines must match brute force exactly
    monkeypatch.setattr(dd, "_SCORE_CELL_CAP", 16)
    dim = 8
    rows = []
    for i in range(60):  # hot pile: cosine ~1 pairwise
        v = [1.0] + [((i * 7 + d) % 13) * 1e-4 for d in range(dim - 1)]
        rows.append((i, v))
    for i in range(60):  # spread: rotating sparse directions, no dups
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i + 3) % dim] = 0.3 + 0.01 * (i % 7)
        rows.append((100 + i, v))
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    kw = dict(id_col="vec_id", vec_col="v", threshold=0.95)
    bf = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(
            corpus, **kw, strategy="broadcast_numpy"
        ).collect()
    }
    # nprobe = nlist: exhaustive probing isolates what this test pins
    # — SHARDED-SCORING exactness, not probe recall (the pile's
    # near-identical centroid affinities tie-break arbitrarily at
    # small nprobe, which test_embedding_dup_pairs_auto_nprobe_fixpoint
    # covers on the real corpus)
    ivf = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(
            corpus, **kw, strategy="ivf", nlist=8, nprobe=8
        ).collect()
    }
    assert len(bf) >= 60 * 59 // 2  # the hot pile really is a pile
    assert ivf == bf


def test_embedding_dup_pairs_auto_nprobe_fixpoint(spark):
    """nprobe='auto' on the IVF strategy is a probe-DOUBLING fixpoint
    (widen until one more doubling finds no new pair) — it must land
    on the exact brute-force pair set here and log its convergence.
    The knn-recall tuner is deliberately NOT used: on near-uniform
    embeddings it demands near-exhaustive probing (measured nprobe=128
    of 148 at sf1) while ≥-threshold pairs converge at single digits
    (sf1: nprobe=6, 2000/2000 planted re-encodes dropped in 19.4s)."""
    import warnings

    from qctimeseries_spark.datapipe.dedup import embedding_dup_pairs
    from qctimeseries_spark.datapipe.queries import _emb_corpus

    corpus = _emb_corpus(spark, "/root/testdata/sf0.001")
    kw = dict(id_col="vec_id", vec_col="v", threshold=0.9)
    bf = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(corpus, **kw).collect()
    }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        auto = {
            (r.id_a, r.id_b, r.cos)
            for r in embedding_dup_pairs(
                corpus, **kw, strategy="ivf", nlist=8, nprobe="auto"
            ).collect()
        }
    assert bf and auto == bf
    assert any(
        "nprobe='auto' converged at nprobe=" in str(w.message) for w in caught
    )


def test_embedding_dup_pairs_guard_fires(vectors):
    from qctimeseries_spark.datapipe.dedup import embedding_dup_pairs

    with pytest.raises(ValueError, match="ivf"):
        embedding_dup_pairs(
            vectors, strategy="broadcast_numpy", max_brute_rows=10
        )
    # the ivf strategy itself is exempt from the cap
    embedding_dup_pairs(
        vectors, strategy="ivf", nlist=4, max_brute_rows=10
    ).collect()


def test_embedding_dup_pairs_auto_cutover(spark):
    """auto = exact brute under the compute cutover, IVF above it —
    never a guard error, never O(n²) on a big corpus."""
    from qctimeseries_spark.datapipe.dedup import embedding_dup_pairs
    from qctimeseries_spark.datapipe.queries import _emb_corpus
    from qctimeseries_spark.plans import plan_summary

    corpus = _emb_corpus(spark, "/root/testdata/sf0.001")
    kw = dict(id_col="vec_id", vec_col="v", threshold=0.9)
    exact = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(
            corpus, **kw, strategy="broadcast_numpy"
        ).collect()
    }
    # under the cutover: identical to the exact tier
    small = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_dup_pairs(corpus, **kw).collect()
    }
    assert small == exact and small
    # above the (forced-low) cutover: the IVF tier — eager (the pair
    # result is checkpointed so the scoped unit-vector cache releases
    # before returning; plan shows the materialized scan, no pending
    # shuffles) — and the planted duplicates are still all found
    big = embedding_dup_pairs(corpus, **kw, auto_brute_rows=10)
    assert plan_summary(big)["shuffles"] == 0  # already materialized
    assert {(r.id_a, r.id_b, r.cos) for r in big.collect()} == exact


def test_lloyd_refinement_balances_cells(spark):
    """refine=N must produce valid unit-norm centroids and shrink the
    cell-size spread (the scale win: the pairing join's skew follows
    the largest cell).  On this near-uniform synthetic corpus recall
    stays ~flat — documented in take_centroids — so balance, not
    recall, is the asserted effect."""
    from qctimeseries_spark.datapipe.similarity import ivf_assign, take_centroids
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")

    def spread(refine):
        cents = take_centroids(emb, nlist=16, refine=refine)
        rows = cents.collect()
        assert len(rows) == 16
        for r in rows:  # unit-norm after refinement
            assert abs(sum(x * x for x in r.embedding) - 1.0) < 1e-6 or refine == 0
        sizes = [
            r.n
            for r in ivf_assign(emb, cents, nprobe=1)
            .groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        assert sum(sizes) == emb.count()  # every vector in exactly one cell
        return max(sizes) - min(sizes)

    assert spread(3) < spread(0)


def test_text_stats_counts(docs):
    r = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert r[5]["n_tokens"] == 2
    assert r[5]["n_uniq_tokens"] == 2
    assert r[0]["n_tokens"] == 13
    assert r[0]["uniq_ratio"] < 1.0  # 'the' repeats


def test_quality_score_bounds(docs):
    for r in quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0
    scores = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert scores[5] < scores[2]  # too-short doc penalized


def test_lang_id(docs):
    pred = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[4] == "de"


def test_media_plumbing_roundtrip(docs):
    media = attach_media(docs)
    summary = {r["modality"]: r["n_items"] for r in media_summary(media).collect()}
    assert sum(summary.values()) == 6
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 6
    for r in feats:
        assert r["feature_dim"] == 16
        assert len(r["features"]) == 16
        assert all(0.0 <= x < 1.0 for x in r["features"])
    # determinism: same payload → same features
    again = extract_features(media, dim=16).collect()
    assert {r["media_id"]: r["features"] for r in feats} == {
        r["media_id"]: r["features"] for r in again
    }


def test_curate_corpus_full_chain(docs, spark):
    """Dedup drops the mangled copy (keeper = lowest id), decontamination
    drops the benchmark-overlapping doc, the quality cut drops the
    2-token doc; survivors keep their bookkeeping columns."""
    from qctimeseries_spark.datapipe import curate_corpus

    bench = docs.filter(F.col("doc_id") == 2).select("text")
    out = curate_corpus(docs, bench, ngram=8, quality_min=0.7)
    rows = {r["doc_id"]: r for r in out.collect()}
    # 3 is a case/whitespace mangle of 0 -> deduped; 2 shares 8-grams
    # with the benchmark -> decontaminated; 5 is 2 tokens -> low quality
    assert set(rows) == {0, 1, 4}
    assert all(r["quality"] >= 0.7 for r in rows.values())
    assert all(r["n_tokens"] >= 10 for r in rows.values())


def test_curate_corpus_no_benchmark_keeps_contaminated(docs, spark):
    from qctimeseries_spark.datapipe import curate_corpus

    out = curate_corpus(docs, None, quality_min=0.0)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert ids == {0, 1, 2, 4, 5}  # only the exact dup (3) removed


def test_curate_corpus_sample_is_deterministic(docs, spark):
    from qctimeseries_spark.datapipe import curate_corpus

    a = curate_corpus(docs, None, quality_min=0.0, sample_fraction=0.5)
    b = curate_corpus(docs, None, quality_min=0.0, sample_fraction=0.5)
    ids_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert ids_a == ids_b
    full = {0, 1, 2, 4, 5}
    assert set(ids_a) < full  # a strict subset at fraction 0.5


def test_recall_at_k_evaluator(vectors):
    """recall_at_k reproduces the manual set-intersection recall and
    returns one row per query with recall in [0, 1]."""
    from qctimeseries_spark.datapipe import recall_at_k

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(vectors, queries, k=5)
    approx = knn_ivf(vectors, queries, k=5, nlist=8, nprobe=4)
    per_q = {r["query_id"]: r["recall"] for r in recall_at_k(exact, approx).collect()}
    assert set(per_q) == {0, 1, 2}
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    for q in per_q:
        want = len({n for qq, n in ex if qq == q} & {n for qq, n in ap if qq == q}) / 5
        assert abs(per_q[q] - want) < 1e-9
    assert all(0.0 <= v <= 1.0 for v in per_q.values())


def test_sample_to_token_budget_prefix_and_monotone(docs, spark):
    """The selection is the maximal hash-order prefix within budget,
    and growing the budget only ever adds documents."""
    from qctimeseries_spark.datapipe import sample_to_token_budget
    from qctimeseries_spark.datapipe.sample import sample_bucket

    d = text_stats(docs).select("doc_id", "n_tokens")
    ordered = sorted(
        d.withColumn("_b", sample_bucket("doc_id")).collect(),
        key=lambda r: (r["_b"], r["doc_id"]),
    )
    budget = 30
    want, cum = set(), 0
    for r in ordered:
        if cum + r["n_tokens"] > budget:
            break
        cum += r["n_tokens"]
        want.add(r["doc_id"])
    got = {
        r["doc_id"]
        for r in sample_to_token_budget(d, "doc_id", "n_tokens", budget).collect()
    }
    assert got == want and got  # non-trivial prefix
    small = got
    big = {
        r["doc_id"]
        for r in sample_to_token_budget(d, "doc_id", "n_tokens", budget * 3).collect()
    }
    assert small <= big  # monotone growth
    everything = {
        r["doc_id"]
        for r in sample_to_token_budget(d, "doc_id", "n_tokens", 10**9).collect()
    }
    assert everything == {r["doc_id"] for r in d.collect()}


def test_sample_to_token_budget_null_tokens_count_as_zero(spark):
    """NULL-token rows ride along free (documented policy) and an
    all-NULL bucket must not crash the driver-side histogram scan."""
    from qctimeseries_spark.datapipe import sample_to_token_budget

    rows = [(f"k{i}", 100 if i % 3 else None) for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id string, n_tokens int")
    out = sample_to_token_budget(d, "doc_id", "n_tokens", 1500).collect()
    kept = {r.doc_id for r in out}
    priced = sum(1 for r in out if r.n_tokens is not None)
    assert priced * 100 <= 1500  # budget respected by priced rows
    assert kept  # non-empty
    # all-NULL corpus: sum is NULL everywhere; must not TypeError
    allnull = spark.createDataFrame(
        [(f"k{i}", None) for i in range(10)], "doc_id string, n_tokens int"
    )
    got = sample_to_token_budget(allnull, "doc_id", "n_tokens", 5).collect()
    assert len(got) == 10  # zero-cost rows all fit any budget


def test_assign_token_shards_packs_in_hash_order(docs, spark):
    """Shards partition the corpus; in hash order every shard boundary
    respects the cumulative-token cut; coherent with the budget op."""
    from qctimeseries_spark.datapipe import (
        assign_token_shards,
        sample_to_token_budget,
    )
    from qctimeseries_spark.datapipe.sample import sample_bucket

    d = text_stats(docs).select("doc_id", "n_tokens")
    K = 500
    out = assign_token_shards(d, "doc_id", "n_tokens", K)
    rows = sorted(
        out.withColumn("_b", sample_bucket("doc_id")).collect(),
        key=lambda r: (r["_b"], r["doc_id"]),
    )
    assert len(rows) == d.count()  # every doc gets a shard
    cum = 0
    for r in rows:
        assert r["shard_id"] == cum // K  # first-token placement
        cum += r["n_tokens"]
    # budget B = 2K keeps exactly the docs whose INCLUSIVE prefix fits —
    # a subset of shards 0..1 plus nothing beyond the boundary
    kept = {
        r["doc_id"]
        for r in sample_to_token_budget(d, "doc_id", "n_tokens", 2 * K).collect()
    }
    shard_of = {r["doc_id"]: r["shard_id"] for r in rows}
    assert kept and all(shard_of[k] <= 1 for k in kept)

    with pytest.raises(ValueError):
        assign_token_shards(d, "doc_id", "n_tokens", 0)


def test_bpe_pair_counts_hand_checked(spark):
    from qctimeseries_spark.datapipe import bpe_pair_counts

    d = spark.createDataFrame(
        [(1, "aba ab"), (2, "ABA x")], "doc_id long, text string"
    )
    got = {r.pair: r.n_occurrences for r in bpe_pair_counts(d).collect()}
    # vocab: aba (×2, pairs ab+ba each), ab (×1, pair ab), x (no pairs)
    assert got == {"ab": 3, "ba": 2}


def test_mixture_weights_semantics(spark):
    import math

    from qctimeseries_spark.datapipe import mixture_weights

    d = spark.createDataFrame(
        [("en", 800), ("zh", 100), ("de", 100)],
        "lang string, n_tokens int",
    )
    # zh is the binding group: T = min(800/.5, 100/.5) = 200
    out = {
        r.lang: r
        for r in mixture_weights(
            d, "lang", "n_tokens", {"en": 0.5, "zh": 0.5}
        ).collect()
    }
    assert out["zh"].keep_frac == 1.0  # binding group keeps everything
    assert math.isclose(out["en"].keep_frac, 100 / 800)
    assert out["de"].keep_frac == 0.0 and out["de"].target_share == 0.0
    assert math.isclose(out["en"].share, 0.8)
    # un-normalized targets behave like normalized ones
    out2 = {
        r.lang: r.keep_frac
        for r in mixture_weights(
            d, "lang", "n_tokens", {"en": 5, "zh": 5}
        ).collect()
    }
    assert out2 == {k: v.keep_frac for k, v in out.items()}
    with pytest.raises(ValueError):
        mixture_weights(d, "lang", "n_tokens", {})


def test_split_corpus_disjoint_exhaustive_and_prefix_coherent(docs, spark):
    """Splits partition the corpus; hash_sample at the first split's
    fraction equals exactly that split (shared bucket axis)."""
    from qctimeseries_spark.datapipe import hash_sample, split_corpus

    big = spark.range(500).select(F.col("id").alias("doc_id"))
    tagged = split_corpus(big, "doc_id", {"train": 0.6, "val": 0.2, "test": 0.2})
    rows = tagged.collect()
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    by = {}
    for r in rows:
        by.setdefault(r["split"], set()).add(r["doc_id"])
    assert len(rows) == 500  # exhaustive (fractions sum to 1)
    assert sum(len(v) for v in by.values()) == 500  # disjoint by construction
    # prefix coherence with hash_sample
    sampled = {r["doc_id"] for r in hash_sample(big, "doc_id", 0.6).collect()}
    assert sampled == by["train"]
    # determinism
    again = {r["doc_id"]: r["split"] for r in split_corpus(
        big, "doc_id", {"train": 0.6, "val": 0.2, "test": 0.2}).collect()}
    assert again == {r["doc_id"]: r["split"] for r in rows}


def test_dup_clusters_strategies_agree(spark):
    """Driver union-find and iterative min-label produce identical
    clusters on a graph with chains, cliques, and self-loops."""
    from qctimeseries_spark.datapipe.dedup import dup_clusters

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 20),
             (30, 31), (31, 32), (30, 32), (40, 5), (5, 4)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {r.id: r.cluster_id
         for r in dup_clusters(pairs, strategy="driver").collect()}
    b = {r.id: r.cluster_id
         for r in dup_clusters(pairs, strategy="iterative").collect()}
    assert a == b
    assert a[40] == 1  # 40-5-4-3-2-1 all one component


def test_curate_near_dup_stage_drops_paraphrase(docs, spark):
    """With near_dup_threshold set, the 3-token-tail paraphrase of doc
    0 (doc 1, jaccard ≈ 0.8) is clustered and only the min id
    survives; without it both pass."""
    from qctimeseries_spark.datapipe import curate_corpus

    without = {
        r["doc_id"]
        for r in curate_corpus(docs, None, quality_min=0.0)
        .select("doc_id").collect()
    }
    with_nd = {
        r["doc_id"]
        for r in curate_corpus(
            docs, None, quality_min=0.0, near_dup_threshold=0.6
        ).select("doc_id").collect()
    }
    assert 1 in without
    assert 1 not in with_nd          # near-dup of 0 removed
    assert 0 in with_nd              # keeper survives
    assert with_nd < without


def test_simhash_saturation_guard(docs, spark):
    from qctimeseries_spark.datapipe.dedup import simhash_dup_pairs

    # 4-bit chunks + tiny budget -> cap of 2 docs; the fixture's 6 trip it
    # (auto_widen off keeps the hard error)
    with pytest.raises(ValueError, match="saturated"):
        simhash_dup_pairs(docs, bits=32, max_hamming=7, chunks=8,
                          max_candidates_per_doc=1,
                          auto_widen=False).collect()
    # the d3 config at oracle scale stays under the default budget
    assert simhash_dup_pairs(
        docs, bits=64, max_hamming=7, chunks=8
    ).count() > 0


def test_population_stability_detects_shift(spark):
    import math as _m

    from qctimeseries_spark.datapipe import population_stability

    ref = spark.createDataFrame(
        [(float(10 + i % 50),) for i in range(400)], "x double"
    )
    same = population_stability(ref, ref, "x", [20.0, 40.0])
    rows = {r.bucket: r for r in same.collect()}
    assert set(rows) == {0, 1, 2}
    assert all(abs(r.psi) < 1e-12 for r in rows.values())  # identical dists
    # shift everything up: mass leaves low buckets, lands high -> PSI big
    cur = ref.select((F.col("x") + 40.0).alias("x"))
    shifted = population_stability(cur, ref, "x", [20.0, 40.0]).collect()
    total = sum(r.psi for r in shifted)
    assert total > 0.25  # conventional "shifted" threshold
    # empty-bucket epsilon keeps terms finite
    assert all(_m.isfinite(r.psi) for r in shifted)
    # NULLs are excluded, not counted as a bucket
    with_null = ref.union(spark.createDataFrame([(None,)], "x double"))
    again = population_stability(with_null, ref, "x", [20.0, 40.0])
    assert {r.bucket: r.psi for r in again.collect()} == {
        r.bucket: r.psi for r in same.collect()
    }


def test_dedup_against_store_incremental_and_idempotent(spark, tmp_path):
    from qctimeseries_spark.datapipe import dedup_against_store

    store = str(tmp_path / "fps")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "ALPHA  beta")],
        "doc_id long, text string",
    )
    s1 = dedup_against_store(b1, store)
    assert {r.doc_id for r in s1.collect()} == {1, 2}  # 3 dups 1 in-batch
    # second batch: one store hit, one in-batch dup pair, one new doc
    b2 = spark.createDataFrame(
        [(10, "gamma delta"), (11, "epsilon zeta"),
         (12, "epsilon  ZETA"), (13, "eta theta")],
        "doc_id long, text string",
    )
    s2 = dedup_against_store(b2, store)
    assert {r.doc_id for r in s2.collect()} == {11, 13}
    # replaying batch 2 against the updated store is a no-op
    assert dedup_against_store(b2, store).count() == 0
    # dry run leaves the store untouched
    b3 = spark.createDataFrame([(20, "iota kappa")], "doc_id long, text string")
    assert dedup_against_store(b3, store, update_store=False).count() == 1
    assert dedup_against_store(b3, store, update_store=False).count() == 1


def test_neardup_against_store_catches_drifted_recrawls(spark, tmp_path):
    """The band store drops near-identical re-crawls that sail past an
    exact-fingerprint store, keeps genuinely new docs, and stays
    idempotent on replay."""
    from qctimeseries_spark.datapipe import neardup_against_store

    store = str(tmp_path / "sigs")
    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew strong potions at midnight under pale moonlight"
    )
    other = (
        "completely different subject matter entirely unrelated words "
        "describing ocean currents tides reefs coral fish plankton"
    )
    kw = dict(k=15, bands=5, ngram=3, threshold=0.6)
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    s1 = neardup_against_store(b1, store, **kw)
    assert {r.doc_id for r in s1.collect()} == {1, 2}
    assert "fingerprint" in s1.columns

    b2 = spark.createDataFrame(
        [
            (10, base),                           # exact re-crawl
            (11, base + " crawled mirror 2026"),  # boilerplate drift
            (12, "fresh new document about trains and stations and "
                 "signals and bridges and long slow freight journeys"),
        ],
        "doc_id long, text string",
    )
    s2 = neardup_against_store(b2, store, **kw)
    assert {r.doc_id for r in s2.collect()} == {12}
    # replaying batch 2 against the updated store is a no-op
    assert neardup_against_store(b2, store, **kw).count() == 0
    # the exact-only store would have kept the drifted copy
    from qctimeseries_spark.datapipe import dedup_against_store

    exact_store = str(tmp_path / "fps")
    dedup_against_store(b1, exact_store)
    kept_exact = {
        r.doc_id for r in dedup_against_store(b2, exact_store).collect()
    }
    assert 11 in kept_exact


def test_bpe_train_merge_sequence(spark):
    """Hand-checked 3-merge sequence incl. tie-breaks and a minted
    symbol participating in a later merge (token decode)."""
    from qctimeseries_spark.datapipe.text import BPE_PUA_BASE, bpe_train

    df = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    out = [tuple(r) for r in bpe_train(df, n_merges=3).collect()]
    # rank 0: 'lo' and 'ow' tie at 6, pair-asc picks 'lo'
    # rank 1: '<sym0>w' (= 'low') at 6 beats ne/ew at 3
    # rank 2: 'ew' and 'ne' tie at 3, pair-asc picks 'ew'
    assert out == [
        (0, "lo", "lo", 6),
        (1, chr(BPE_PUA_BASE) + "w", "low", 6),
        (2, "ew", "ew", 3),
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train(df, n_merges=0)


def test_neardup_store_within_batch_keeper(spark, tmp_path):
    """within_batch_neardup=True keeps one doc per near-dup cluster
    INSIDE the batch; the default keeps both drifted copies."""
    from qctimeseries_spark.datapipe import neardup_against_store

    base = (
        "some very particular prose about canals locks barges towpaths "
        "and the slow economics of nineteenth century inland freight"
    )
    batch = spark.createDataFrame(
        [
            (1, base),
            (2, base + " scraped from mirror two"),
            (3, "entirely different musings on glaciers moraines eskers "
                "and the patience of ice over ordinary stone"),
        ],
        "doc_id long, text string",
    )
    kw = dict(k=15, bands=5, ngram=3, threshold=0.6)
    kept_default = {
        r.doc_id
        for r in neardup_against_store(
            batch, str(tmp_path / "a"), **kw
        ).collect()
    }
    assert kept_default == {1, 2, 3}  # near-dups within batch survive
    kept_near = {
        r.doc_id
        for r in neardup_against_store(
            batch, str(tmp_path / "b"), within_batch_neardup=True, **kw
        ).collect()
    }
    assert kept_near == {1, 3}  # cluster keeper drops the re-crawl
    # and the store holds only the keepers: a replay is a no-op
    assert (
        neardup_against_store(
            batch, str(tmp_path / "b"), within_batch_neardup=True, **kw
        ).count()
        == 0
    )


def test_embedding_store_drops_reencodes_both_tiers(spark, tmp_path):
    """Semantic store dedup: perturbed re-encodes drop at cosine ≥
    threshold, fresh vectors survive with their max store cosine;
    the IVF tier (forced by a tiny brute cap) agrees with broadcast;
    replay is a no-op."""
    from qctimeseries_spark.datapipe import embedding_dedup_against_store

    def vec(seed, dim=8):
        return [float((seed * 31 + i * 7) % 13 - 6) for i in range(dim)]

    b1 = spark.createDataFrame(
        [(i, vec(i)) for i in range(0, 40, 2)],
        "vec_id long, embedding array<double>",
    )
    # odd ids fresh; 100+ ids are tiny perturbations of stored evens
    b2 = spark.createDataFrame(
        [(i, vec(i)) for i in range(1, 40, 2)]
        + [(100 + i, [x + 0.01 for x in vec(i)]) for i in range(0, 40, 8)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(threshold=0.95)
    s = str(tmp_path / "bb")
    assert embedding_dedup_against_store(b1, s, **kw).count() == 20
    out = embedding_dedup_against_store(b2, s, **kw)
    kept = {r.vec_id for r in out.collect()}
    assert all(v < 100 for v in kept)          # every re-encode dropped
    assert all(r.max_store_cos is not None and r.max_store_cos < 0.95
               for r in out.collect())
    assert embedding_dedup_against_store(b2, s, **kw).count() == 0  # replay
    # IVF tier (store over the forced cap) drops the same re-encodes
    s2 = str(tmp_path / "ivf")
    embedding_dedup_against_store(b1, s2, **kw)
    out2 = embedding_dedup_against_store(b2, s2, **kw, max_store_brute=4)
    assert {r.vec_id for r in out2.collect() if r.vec_id >= 100} == set()


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from qctimeseries_spark.datapipe import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "zebra zebra zebra common common"),
            (2, "common words everywhere common words"),
            (3, "quokka common words"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rk): r for r in tfidf_top_terms(df, k=2).collect()}
    # doc 1's most distinctive term is its tripled rare word
    assert out[(1, 1)].term == "zebra" and out[(1, 1)].tf == 3
    assert out[(1, 1)].df == 1
    # ubiquitous words score zero idf (df == N -> ln 1)
    assert all(
        r.tfidf == 0.0 for r in out.values() if r.term == "common"
    )
    assert out[(3, 1)].term == "quokka"


def test_unigram_logprob_flags_rare_token_docs(spark):
    from qctimeseries_spark.datapipe import unigram_logprob

    df = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "the the the xylophone qat"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert out[1].n_tokens == 8 and out[2].n_tokens == 5
    # the rare-token doc is less likely under the corpus model
    assert out[2].avg_nll > out[1].avg_nll
    # integer micro-unit bookkeeping is self-consistent
    for r in out.values():
        assert abs(r.avg_nll - r.nll_micro / r.n_tokens / 1e6) < 1e-6


def test_repetition_stats_flags_loops(spark):
    from qctimeseries_spark.datapipe import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "each word in this sentence differs from the others"),
            (3, "hi"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    # looping doc: 8 tokens, 7 bigrams, only 2 distinct
    assert out[1].dup_bigram_ratio == round(1 - 2 / 7, 6)
    assert out[1].top_word_share == 0.5
    assert out[2].dup_bigram_ratio == 0.0
    assert out[2].top_word_share == round(1 / 9, 6)
    assert out[3].dup_bigram_ratio == 0.0  # shorter than the n-gram
    assert out[3].dup_trigram_ratio == 0.0
    assert out[3].top_word_share == 1.0


def test_job_audit_sees_eager_pipeline_and_pins_d7(spark):
    """The plan-string audit reports an empty plan for eager pipelines
    (they return a checkpointed stub), so job_audit must expose what
    actually RAN — and d7's construction job count is pinned so a
    quadratic regression (e.g. the banded candidate join degrading to
    per-row actions) fails CI even though the returned stub's plan
    stays empty."""
    from qctimeseries_spark.plans import job_audit, plan_summary
    from qctimeseries_spark.queries import QUERIES

    ja = job_audit(
        spark,
        lambda: QUERIES["d7_incremental_neardup"](
            spark, "/root/testdata/sf0.001"
        ),
    )
    # the stub's own plan is empty — exactly the blind spot job_audit fills
    ps = plan_summary(ja["result"])
    assert ps["shuffles"] == 0
    # non-trivial execution counters: the two store pipelines shuffled
    assert ja["jobs"] > 0 and ja["stages"] >= ja["jobs"]
    assert ja["shuffle_write_bytes"] > 0
    assert ja["input_bytes"] > 0
    # job-count ceiling: measured 27 construction jobs at sf0.01/sf0.001
    # (constant in data size — the pipeline shape, not the rows: two
    # store pipelines, each with a docs append plus a keyed band-index
    # append).  A regression that turns a banded join into per-row
    # driver actions blows straight past this.
    assert ja["jobs"] <= 31, f"d7 construction launched {ja['jobs']} jobs"
    assert ja["result"].count() > 0


def test_tfidf_and_nll_fast_mode_agree_and_stay_jvm_side(spark):
    """exact=False (production mode) must agree with the oracle-exact
    libm path to 1e-9 relative and keep the plan free of Python UDF
    nodes (the whole point: no Python worker round-trip in the hot
    path)."""
    from qctimeseries_spark.datapipe.text import (
        tfidf_top_terms,
        unigram_logprob,
    )
    from qctimeseries_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")

    # k large enough to keep every term: rank flips on a last-bit tie
    # must not hide rows from the comparison
    te = {
        (r.doc_id, r.term): r.tfidf
        for r in tfidf_top_terms(docs, k=10**6, exact=True).collect()
    }
    tf_fast = tfidf_top_terms(docs, k=10**6, exact=False)
    plan = tf_fast._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "fast mode must not ship to Python"
    tfd = {(r.doc_id, r.term): r.tfidf for r in tf_fast.collect()}
    assert te.keys() == tfd.keys()
    for key, v in te.items():
        assert abs(tfd[key] - v) <= 1e-9 * max(1.0, abs(v)), key

    ne = {r.doc_id: r for r in unigram_logprob(docs, exact=True).collect()}
    nll_fast = unigram_logprob(docs, exact=False)
    plan = nll_fast._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    nf = {r.doc_id: r for r in nll_fast.collect()}
    assert ne.keys() == nf.keys()
    for d, r in ne.items():
        assert nf[d].n_tokens == r.n_tokens
        assert abs(nf[d].avg_nll - r.avg_nll) <= 1e-9 * max(1.0, abs(r.avg_nll)), d


def test_bpe_batch_schedule_is_exact_and_cuts_driver_roundtrips(spark):
    """batch>1 must produce the IDENTICAL merge table to the
    one-merge-per-round schedule (the acceptance rule only takes a
    prefix it can prove sequential BPE would take), and on a corpus
    with symbol-disjoint frequent pairs it must collapse driver
    round-trips to well under one job per merge."""
    from qctimeseries_spark.datapipe.text import bpe_train
    from qctimeseries_spark.plans import job_audit
    from qctimeseries_spark.sources import read_table

    # exactness on the real corpus (shared letters force short prefixes
    # — the hard case for the acceptance proof).  strategy="distributed"
    # pins the DISTRIBUTED path: the auto tier would otherwise collect
    # this small vocabulary and never exercise the batch proof.
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    seq = [tuple(r) for r in bpe_train(
        docs, n_merges=12, batch=1, strategy="distributed"
    ).collect()]
    for b in (4, 64):
        got = [tuple(r) for r in bpe_train(
            docs, n_merges=12, batch=b, strategy="distributed"
        ).collect()]
        assert got == seq, f"batch={b} diverged from the sequential schedule"

    # throughput on disjoint-alphabet words: ten 2-char words with
    # strictly descending counts — every merge is symbol-disjoint and
    # creates no new pairs, so one round accepts all ten
    rows = []
    for i, w in enumerate(["ab", "cd", "ef", "gh", "ij",
                           "kl", "mn", "op", "qr", "st"]):
        rows += [(i * 100 + j, w) for j in range(100 - i)]
    toy = spark.createDataFrame(rows, "doc_id long, text string")
    seq_toy = [tuple(r) for r in bpe_train(
        toy, n_merges=10, batch=1, strategy="distributed"
    ).collect()]
    # pin the ACTION count with AQE off (with it on, every shuffle
    # stage surfaces as its own job id — same discipline as
    # test_dup_clusters_one_job_per_round)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ja = job_audit(
            spark,
            lambda: bpe_train(
                toy, n_merges=10, batch=16, strategy="distributed"
            ).collect(),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    got_toy = [tuple(r) for r in ja["result"]]
    assert got_toy == seq_toy and len(got_toy) == 10
    assert ja["jobs"] / 10 < 0.5, f"{ja['jobs']} jobs for 10 merges"


def test_bpe_train_driver_tier_matches_distributed(spark):
    """The auto/driver vocabulary-collect tier (VERDICT r13 task 3
    adjacent — one job instead of one-to-two per merge round) must
    produce the IDENTICAL merge table to the distributed loop: same
    every-adjacent-position pair enumeration, same (count desc, pair
    asc binary-order) argmax, same left-to-right non-overlapping
    replace.  Also pins the auto gate: a vocabulary over the cap runs
    distributed."""
    from qctimeseries_spark.datapipe.text import bpe_train
    from qctimeseries_spark.plans import job_audit
    from qctimeseries_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    dist = [tuple(r) for r in bpe_train(
        docs, n_merges=12, strategy="distributed"
    ).collect()]
    drv = [tuple(r) for r in bpe_train(
        docs, n_merges=12, strategy="driver"
    ).collect()]
    auto = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    assert drv == dist
    assert auto == dist
    # repeated pairs inside one word count once per POSITION ("aaa"
    # has two "aa" occurrences), and ties break on the binary pair
    # order — both pinned through the tiers
    toy = spark.createDataFrame(
        [(1, "aaa bb"), (2, "bb zz")], "doc_id long, text string"
    )
    t_dist = [tuple(r) for r in bpe_train(
        toy, n_merges=3, strategy="distributed"
    ).collect()]
    t_drv = [tuple(r) for r in bpe_train(
        toy, n_merges=3, strategy="driver"
    ).collect()]
    assert t_drv == t_dist
    # the auto tier pays ONE bounded vocabulary job, not one per round
    ja = job_audit(
        spark, lambda: bpe_train(docs, n_merges=12).collect()
    )
    # the bounded vocabulary collect (CollectLimit runs incrementally,
    # 1-2 jobs) + the merge-table collect — far under one per round
    assert ja["jobs"] <= 5, f"auto tier ran {ja['jobs']} jobs"
    # an over-cap vocabulary falls back to the distributed loop
    over = [tuple(r) for r in bpe_train(
        docs, n_merges=4, max_driver_vocab=5
    ).collect()]
    assert over == dist[:4]


def test_bpe_encode_arrow_matches_expr(spark):
    """The production Arrow encode path must be token-identical to the
    oracle-exact nested-replace Catalyst path on the real corpus, and
    mode='auto' must switch paths at BPE_EXPR_MERGE_CEILING (the
    codegen 64 KB ceiling documented on bpe_encode)."""
    from qctimeseries_spark.datapipe.text import (
        BPE_EXPR_MERGE_CEILING,
        bpe_encode,
        bpe_train,
    )
    from qctimeseries_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    merges = bpe_train(docs, n_merges=10)
    key = lambda d: sorted(map(tuple, d.collect()))
    expr = key(bpe_encode(docs, merges, mode="expr"))
    arrow = key(bpe_encode(docs, merges, mode="arrow"))
    assert arrow == expr

    # auto dispatch: a table past the ceiling routes to mapInPandas,
    # a tokenizer-sized one stays pure Catalyst
    big_table = [
        (r, f"Ā{i:04d}"[:2] + chr(0x0200 + r % 64))
        for r, i in ((r, r) for r in range(BPE_EXPR_MERGE_CEILING + 1))
    ]
    big = bpe_encode(docs.limit(5), big_table)
    small = bpe_encode(docs.limit(5), big_table[:5])
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in (
        small._jdf.queryExecution().executedPlan().toString()
    )
    with pytest.raises(ValueError, match="auto|expr|arrow"):
        bpe_encode(docs, merges, mode="fast")


def test_tune_nprobe_hits_recall_target_at_sf01(spark):
    """Recall-targeted probe selection on the sf0.1 embeddings: the
    auto-chosen nprobe's MEASURED recall@10 must reach the 0.98 target,
    the choice must be logged, and re-running must reproduce it (the
    sample is a pure hash of the ids)."""
    import warnings

    from qctimeseries_spark.datapipe import tune_nprobe
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.1", "embeddings")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = tune_nprobe(
            emb, vec_col="embedding", target_recall=0.98, k=10,
            nlist=16, n_queries=40,
        )
    assert out["recall"] >= 0.98, out
    assert out["nprobe"] <= 16
    # monotone sweep: recall never decreases as probes widen
    probes = sorted(out["evaluated"])
    recalls = [out["evaluated"][p] for p in probes]
    assert recalls == sorted(recalls), out
    assert any("tune_nprobe: chose nprobe=" in str(w.message) for w in caught)
    # reproducible choice
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        again = tune_nprobe(
            emb, vec_col="embedding", target_recall=0.98, k=10,
            nlist=16, n_queries=40,
        )
    assert again == out


def test_minhash_fast_mode_is_md5_free_and_finds_exact_dups(docs):
    """fast=True (production) must keep MD5 out of the plan entirely
    (xxhash64 is whole-stage-codegen) while preserving the hard
    guarantees: exact duplicates collide in every band (found with
    jaccard 1.0) and every emitted pair still passes the exact-Jaccard
    verification threshold."""
    fast = minhash_dedup_pairs(docs, k=15, bands=5, threshold=0.5, fast=True)
    plan = fast._jdf.queryExecution().executedPlan().toString().lower()
    assert "md5" not in plan, "fast mode must not pay MD5 per shingle"
    assert "xxhash64" in plan
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in fast.collect()}
    assert pairs[(0, 3)] == 1.0  # normalized-identical docs: guaranteed
    assert all(j >= 0.5 for j in pairs.values())
    # the exact (oracle) mode agrees on the verified-similarity values
    # for every pair both modes surface
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(
            docs, k=15, bands=5, threshold=0.5
        ).collect()
    }
    for key in pairs.keys() & exact.keys():
        assert pairs[key] == exact[key], key


def test_strip_repeated_lines_c4_rule(spark):
    """Lines in >= min_docs distinct documents drop; survivors keep
    their original order; an all-boilerplate doc keeps empty text;
    within-doc repetition alone does not trigger the rule (the count
    is DISTINCT documents)."""
    from qctimeseries_spark.datapipe import strip_repeated_lines

    nav = "home | products | contact"
    rows = [
        (1, f"{nav}\nunique first doc\n{nav}"),     # nav repeated in-doc
        (2, f"intro two\n{nav}\nbody two"),
        (3, f"{nav}\nbody three"),
        (4, "standalone\nstandalone"),              # in-doc dup only: kept
        (5, nav),                                   # all boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_repeated_lines(df, min_docs=3).collect()}
    assert out[1].text_clean == "unique first doc"
    assert (out[1].n_lines, out[1].n_removed) == (3, 2)
    assert out[2].text_clean == "intro two\nbody two"
    assert out[3].text_clean == "body three"
    assert out[4].text_clean == "standalone\nstandalone"  # 1 doc < 3
    assert out[4].n_removed == 0
    assert out[5].text_clean == "" and out[5].n_removed == 1


def test_strip_repeated_lines_broadcast_guard(spark):
    """The broadcast hint is GATED on the probed frequent-set size:
    with a cap the set exceeds, the anti-join runs WITHOUT a forced
    hint (AQE picks the strategy) and the results are identical — the
    100 TB failure mode where min_docs=3 admits 10⁸⁺ common lines must
    not force an unbounded broadcast.  ``min_frac`` raises the
    threshold proportionally to corpus size (the bounding knob)."""
    from qctimeseries_spark.datapipe import strip_repeated_lines

    nav = "home | products | contact"
    rows = [(i, f"{nav}\nunique body {i}") for i in range(1, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    hinted = strip_repeated_lines(df, min_docs=3)
    unhinted = strip_repeated_lines(df, min_docs=3, broadcast_cap=0)
    assert "ResolvedHint (strategy=broadcast)" in (
        hinted._jdf.queryExecution().logical().toString()
    )
    assert "Hint" not in unhinted._jdf.queryExecution().logical().toString()
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(hinted) == key(unhinted)

    # min_frac bounds the threshold by corpus size: 8 docs * 0.5 → 4,
    # but nav appears in all 8, so it still drops; a line in only 3
    # docs now survives
    rows3 = rows + [(100 + j, "thrice line\nown body") for j in range(3)]
    df3 = spark.createDataFrame(
        [(i, t if i < 100 else t) for i, t in rows3],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in strip_repeated_lines(df3, min_docs=3, min_frac=0.5).collect()
    }
    assert out[1].text_clean == "unique body 1"      # nav (11/11 docs) drops
    assert out[100].text_clean == "thrice line\nown body"  # 3 < ceil(5.5)


def test_ivf_auto_nlist(spark):
    """nlist='auto' sizes the index ≈ √n (floored 16, capped
    IVF_MAX_NLIST) and the auto-sized index still reaches brute-force
    recall ≥ 0.9 at nprobe=4 on the sf0.01 embeddings; the chosen
    nlist is logged through tune_nprobe's warning."""
    import warnings

    from qctimeseries_spark.datapipe import (
        auto_nlist,
        knn_bruteforce,
        knn_ivf,
        recall_at_k,
        tune_nprobe,
    )
    from qctimeseries_spark.datapipe.similarity import IVF_MAX_NLIST
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    n = emb.count()
    chosen = auto_nlist(emb)
    assert chosen == max(16, min(IVF_MAX_NLIST, int(n**0.5)))
    assert auto_nlist(emb.limit(50)) == 16          # floor
    assert auto_nlist(emb, cap=20) == 20            # cap

    q = emb.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(emb, q, k=10)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        # nlist defaults to auto; a wider index needs the tuned probe
        # count (fixed nprobe=4 probes 4/22 of this corpus and loses
        # recall — the exact coupling tune_nprobe exists to resolve)
        approx = knn_ivf(emb, q, k=10, nprobe="auto")
    r = (
        recall_at_k(exact, approx)
        .agg(F.avg("recall").alias("r"))
        .collect()[0]["r"]
    )
    assert r >= 0.95, f"auto-nlist={chosen} recall@10={r}"

    # the tuner reports and logs the auto-chosen nlist
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = tune_nprobe(emb, k=10, n_queries=20)
    assert out["nlist"] == chosen
    assert any(f"nlist={chosen}" in str(w.message) for w in caught)


def test_cap_per_group_matches_global_rank_and_grows_monotonically(spark):
    """The two-phase histogram construction must equal the global
    rank-≤-cap semantics (per-group window row_number over the full
    corpus — the formulation it exists to avoid), survivors must be a
    monotone function of cap (cap=5 ⊂ cap=8), groups under the cap
    pass through whole, and NULL keys/groups drop explicitly."""
    from pyspark.sql import Window

    from qctimeseries_spark.datapipe import cap_per_group
    from qctimeseries_spark.datapipe.sample import sample_bucket
    from qctimeseries_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    ref = (
        docs.withColumn("_b", sample_bucket("doc_id"))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy("_b", "doc_id")
            ),
        )
    )
    want8 = {r.doc_id for r in ref.filter(F.col("_rk") <= 8).collect()}
    got8 = {
        r.doc_id
        for r in cap_per_group(docs, "source", "doc_id", 8).collect()
    }
    assert got8 == want8
    got5 = {
        r.doc_id
        for r in cap_per_group(docs, "source", "doc_id", 5).collect()
    }
    assert got5 <= got8  # growing the cap only ever adds rows
    # per-group counts: min(cap, group size)
    sizes = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    out_sizes = {
        r.source: r.n
        for r in cap_per_group(docs, "source", "doc_id", 8)
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert out_sizes == {s: min(8, n) for s, n in sizes.items()}
    # NULL keys / groups drop; zero cap rejected
    nulls = spark.createDataFrame(
        [(1, "a"), (None, "a"), (2, None)], "doc_id long, source string"
    )
    assert cap_per_group(nulls, "source", "doc_id", 3).count() == 1
    with pytest.raises(ValueError, match="cap"):
        cap_per_group(docs, "source", "doc_id", 0)


def test_strip_repeated_spans_excises_covered_tokens(spark):
    """Tokens covered by a corpus-repeated width-gram drop (ALL
    occurrences — the C4-style all-copies contract); unique text and
    sub-width docs pass through whole; within-doc repetition counts
    toward min_count (total occurrences, not distinct docs)."""
    from qctimeseries_spark.datapipe import strip_repeated_spans

    promo = "sponsored content brought to you by our partners"  # 8 tok
    rows = [
        (1, f"alpha beta gamma delta {promo}"),
        (2, f"epsilon zeta {promo} eta theta"),
        (3, "iota kappa lam mu nu xi omicron pi"),   # unique: untouched
        (4, "short doc"),                            # < width: untouched
        (5, f"{promo} and again {promo}"),           # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in strip_repeated_spans(df, width=6, min_count=2).collect()
    }
    assert out[1].text_clean == "alpha beta gamma delta"
    assert (out[1].n_tokens, out[1].n_removed) == (12, 8)
    assert out[2].text_clean == "epsilon zeta eta theta"
    assert out[3].n_removed == 0 and out[3].text_clean.startswith("iota")
    assert out[4].text_clean == "short doc" and out[4].n_removed == 0
    # doc 5: both promo copies drop plus the bridging grams' coverage
    assert "sponsored" not in out[5].text_clean
    assert out[5].n_tokens == 18

    # a span repeated ONLY within one doc still drops when min_count
    # counts total occurrences
    solo = spark.createDataFrame(
        [(1, "one two three four five six one two three four five six"),
         (2, "totally different words here now folks")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in strip_repeated_spans(solo, width=6, min_count=2).collect()
    }
    assert got[1].text_clean == "" and got[1].n_removed == 12
    assert got[2].n_removed == 0


def test_persisted_ivf_index_matches_fresh_build(spark, tmp_path):
    """build_ivf_index → knn_query_index must reproduce knn_ivf's
    fresh in-memory result exactly (the store roundtrip is lossless),
    the cells/ store must be partitioned by centroid_id, and the probe
    join must drive dynamic partition pruning into the store scan —
    the property that makes per-batch cost ~nprobe/nlist of the store."""
    from qctimeseries_spark.datapipe import (
        build_ivf_index,
        knn_ivf,
        knn_query_index,
    )
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    info = build_ivf_index(emb, str(tmp_path / "ix"), nlist=16)
    assert info["nlist"] == 16 and info["n_vectors"] == emb.count()
    assert (tmp_path / "ix" / "cells" / "centroid_id=1").exists()

    served = knn_query_index(
        spark, str(tmp_path / "ix"), q, k=10, nprobe=4
    )
    fresh = knn_ivf(emb, q, k=10, nlist=16, nprobe=4)
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(served) == key(fresh)
    # a second batch reuses the store without rebuild (no writes here)
    q2 = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert knn_query_index(
        spark, str(tmp_path / "ix"), q2, k=5, nprobe=2
    ).count() == 15
    # the probed broadcast join prunes store partitions at runtime
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_index_cell_write_is_salted(spark, tmp_path):
    """The cells/ store write must spread each cell over ~cell_files
    tasks/files (VERDICT r7: keying the shuffle on centroid_id alone
    writes each cell as ONE file by ONE task — a ~25 GB single-task
    funnel per cell at 100 TB).  Salting must not change served
    results, and the salt column must never reach disk."""
    from qctimeseries_spark.datapipe import build_ivf_index, knn_query_index
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    salted, single = str(tmp_path / "salted"), str(tmp_path / "single")
    build_ivf_index(emb, salted, nlist=2, cell_files=4)
    build_ivf_index(emb, single, nlist=2, cell_files=1)
    cell_dirs = sorted(
        (tmp_path / "salted" / "cells").glob("centroid_id=*")
    )
    assert len(cell_dirs) == 2
    for cell in cell_dirs:
        files = list(cell.glob("*.parquet"))
        assert len(files) > 1, f"{cell.name} wrote {len(files)} file(s)"
    # salt never reaches disk; both layouts serve identical results
    cells = spark.read.parquet(salted + "/cells")
    assert "_cell_salt" not in cells.columns
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(knn_query_index(spark, salted, q, k=10, nprobe=2)) == key(
        knn_query_index(spark, single, q, k=10, nprobe=2)
    )


def test_append_to_ivf_index_serves_like_full_build(spark, tmp_path):
    """Incremental index growth: build on half the corpus, append the
    other half — every served result must equal a full-corpus
    build_ivf_index with the SAME centroids (assignment is a pure
    per-row function of the frozen centroid matrix), the appended rows
    must land in the existing centroid_id partitions, and
    compact_store must heal the append fragmentation without changing
    served results or the partition layout."""
    from qctimeseries_spark.datapipe import (
        append_to_ivf_index,
        build_ivf_index,
        compact_store,
        knn_query_index,
        store_stats,
        take_centroids,
    )
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    growth = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    grown, full = str(tmp_path / "grown"), str(tmp_path / "full")
    build_ivf_index(base, grown, nlist=8)
    res = append_to_ivf_index(spark, grown, growth)
    assert res == {"appended": growth.count(), "nlist": 8}

    # reference: full-corpus build FORCED onto the same centroids
    # (take_centroids over the base half, then assign corpus-wide)
    from qctimeseries_spark.datapipe.similarity import ivf_assign

    cents = take_centroids(base, nlist=8)
    cents.write.parquet(full + "/centroids")
    ivf_assign(emb, cents, nprobe=1).repartition(
        8, F.col("centroid_id")
    ).write.partitionBy("centroid_id").parquet(full + "/cells")

    key = lambda d: sorted(map(tuple, d.collect()))
    want = key(knn_query_index(spark, full, q, k=10, nprobe=3))
    assert key(knn_query_index(spark, grown, q, k=10, nprobe=3)) == want
    # appended rows share the partition dirs (no new top-level layout)
    assert sorted(
        d.name for d in (tmp_path / "grown" / "cells").glob("centroid_id=*")
    ) == sorted(
        d.name for d in (tmp_path / "full" / "cells").glob("centroid_id=*")
    )
    # compaction: fewer files, identical serving, same layout
    before = store_stats(spark, grown)["cells"]["files"]
    cres = compact_store(spark, grown)
    assert cres["cells"]["files_after"] < before
    assert key(knn_query_index(spark, grown, q, k=10, nprobe=3)) == want


def test_quantized_knn_recall_and_scale_cancellation(spark):
    """int8-quantized search: (1) the per-vector scale cancels out of
    the cosine — quantized cosine == cosine of the dequantized vectors
    (verified numerically); (2) recall@10 vs full-precision brute
    force stays high (quantization perturbs angles by ~1/255 per
    coordinate); (3) a zero vector quantizes to zeros/scale 0 without
    dividing by zero."""
    import math

    from qctimeseries_spark.datapipe import knn_bruteforce
    from qctimeseries_spark.datapipe.similarity import (
        knn_quantized,
        quantize_embeddings,
    )
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_bruteforce(emb, q, k=10)
    quant = knn_quantized(emb, q, k=10)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    qt = {}
    for r in quant.collect():
        qt.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(ex[k] & qt[k]) for k in ex) / sum(len(v) for v in ex.values())
    assert recall >= 0.9, f"quantized recall@10 = {recall}"

    # scale cancellation + zero-vector guard, checked off-engine
    rows = quantize_embeddings(
        spark.createDataFrame(
            [(1, [0.3, -0.7, 0.1]), (2, [0.25, -0.8, 0.0]),
             (3, [0.0, 0.0, 0.0])],
            "vec_id bigint, embedding array<double>",
        )
    ).collect()
    by_id = {r.vec_id: r for r in rows}
    assert by_id[3].qscale == 0.0 and by_id[3].qvec == [0, 0, 0]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(sum(x * x for x in a)) / math.sqrt(
            sum(y * y for y in b)
        )

    dq1 = [v * by_id[1].qscale / 127 for v in by_id[1].qvec]
    dq2 = [v * by_id[2].qscale / 127 for v in by_id[2].qvec]
    assert abs(
        cos(by_id[1].qvec, by_id[2].qvec) - cos(dq1, dq2)
    ) < 1e-12


def test_quantized_persisted_index_composition(spark, tmp_path):
    """The int8 layout composes with the persisted IVF index: build
    the store over the quantized projections (vec_col='qvec'), append
    a second quantized batch, and serve — DPP-pruned cells, ~4x
    smaller store bytes, and the served ordering equals the directly
    computed quantized brute top-k restricted to the probed recall
    (here nprobe=nlist, so exactly)."""
    from qctimeseries_spark.datapipe import (
        append_to_ivf_index,
        build_ivf_index,
        knn_quantized,
        knn_query_index,
    )
    from qctimeseries_spark.datapipe.similarity import quantize_embeddings
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    qt = quantize_embeddings(emb).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    ix = str(tmp_path / "qix")
    build_ivf_index(qt.filter(F.col("vec_id") % 2 == 0), ix, nlist=4)
    append_to_ivf_index(spark, ix, qt.filter(F.col("vec_id") % 2 == 1))
    q = qt.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = knn_query_index(spark, ix, q, k=10, nprobe=4)  # all cells
    brute = knn_quantized(
        emb, emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ), k=10,
    )
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(served) == key(brute)
    # the quantized cells really are int32 projections, not floats
    cells = spark.read.parquet(ix + "/cells")
    assert dict(cells.dtypes)["embedding"] == "array<int>"


def test_knn_ivf_auto_nprobe(spark):
    """nprobe='auto' routes through the recall-targeted tuner and the
    resulting index hits the 0.98 default target against brute force
    on the same queries."""
    import warnings

    from qctimeseries_spark.datapipe import knn_bruteforce, knn_ivf
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(emb, q, k=10).collect()
    }
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        approx = {
            (r.query_id, r.neighbor_id)
            for r in knn_ivf(emb, q, k=10, nlist=16, nprobe="auto").collect()
        }
    assert len(exact & approx) / len(exact) >= 0.9


def test_semantic_dedup_collapses_transitive_chains(spark):
    """A chain a~b~c (where cos(a,c) is below threshold) still keeps
    exactly one member — SemDeDup group semantics, not pairwise."""
    import numpy as np

    from qctimeseries_spark.datapipe.dedup import semantic_dedup

    base = np.array([1.0, 0.0, 0.0, 0.0])
    step = np.array([0.0, 1.0, 0.0, 0.0])

    def unit(v):
        return (v / np.linalg.norm(v)).tolist()

    rows = [
        (1, unit(base)),                 # a
        (2, unit(base + 0.30 * step)),   # b: cos(a,b) ≈ 0.958
        (3, unit(base + 0.62 * step)),   # c: cos(b,c) ≈ 0.965, cos(a,c) ≈ 0.85
        (9, unit(step)),                 # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    survivors = {
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95).select("vec_id").collect()
    }
    assert survivors == {1, 9}  # whole chain collapses to its min id


def test_fan_out_is_noop_on_wide_inputs(spark):
    """fan_out must never down-partition or add a shuffle to an input
    already at least as wide as the session parallelism (the 100 TB
    case) — and must widen a narrow one."""
    from qctimeseries_spark.datapipe.hashing import fan_out

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(par + 4)
    assert fan_out(wide) is wide  # identical object: no plan change
    narrow = spark.range(1000).coalesce(1)
    assert fan_out(narrow).rdd.getNumPartitions() == par


def test_fan_out_widens_narrow_shuffle_rooted_frames(spark, monkeypatch):
    """Shuffle-rooted plans must decide WITHOUT df.rdd (under AQE the
    physical probe executes the upstream stages — ADVICE r6), but may
    not blind-skip them either: AQE coalescing shrinks small shuffle
    outputs below parallelism and a broadcast join never shuffles its
    probe side (ADVICE r7).  The size-estimate tier reconciles the
    two: small shuffle-rooted frames get the insurance repartition,
    big ones (never AQE-coalesced below parallelism) skip, and neither
    touches df.rdd."""
    from pyspark.sql import DataFrame as _DF

    from qctimeseries_spark.datapipe.hashing import fan_out

    par = spark.sparkContext.defaultParallelism

    def _boom(self):
        raise AssertionError("fan_out touched df.rdd on a shuffle-rooted plan")

    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    joined = spark.range(0, 1000, 1, 2).join(
        F.broadcast(spark.range(1000)), "id"
    )
    # big estimate (16 GB of range rows) — never coalesced below par
    big = spark.range(2_000_000_000).groupBy(
        (F.col("id") % 1_000_000).alias("k")
    ).count()
    monkeypatch.setattr(_DF, "rdd", property(_boom))
    for narrow in (agg, joined):
        plan = fan_out(narrow)._jdf.queryExecution().logical().toString()
        assert plan.startswith("Repartition"), plan[:200]
    assert fan_out(big) is big
    # an explicit repartition(n >= par) is trusted verbatim, no probe
    wide = spark.range(1000).repartition(par + 4)
    assert fan_out(wide) is wide
    monkeypatch.undo()
    # coalesce counts prove nothing (cannot exceed the child's width):
    # they take the physical probe and widen when actually narrow
    assert (
        fan_out(spark.range(1000).coalesce(1)).rdd.getNumPartitions() == par
    )
    # the widened small frames actually land at full parallelism
    assert fan_out(agg).rdd.getNumPartitions() == par
    assert fan_out(joined).rdd.getNumPartitions() == par


def test_classify_quality_exact_and_zero_shuffle(spark):
    """The hashed-feature classifier equals a direct Python recompute
    of the same hash-derived weight table (unigrams ∪ bigrams), empty
    docs score NULL, and the plan is shuffle-free (a pure row-local
    map — the operator's whole scale claim)."""
    import hashlib

    from qctimeseries_spark.datapipe import classify_quality
    from qctimeseries_spark.plans import plan_summary

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def w(feat):
        return h60(f"qcts-w:{h60(feat) % 4096}") % 2001 - 1000

    rows = [(1, "alpha beta gamma"), (2, "single"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in classify_quality(df).collect()}
    for did, text in rows:
        tk = [t for t in text.lower().split() if t]
        feats = tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        r = out[did]
        assert r.n_features == len(feats)
        assert r.weight_milli == sum(w(f) for f in feats)
        if feats:
            assert r.quality_logit == r.weight_milli / (len(feats) * 1000)
            assert r.keep is (r.weight_milli >= 0)
        else:
            assert r.quality_logit is None and r.keep is None
    # no key-partitioning shuffle anywhere (fan_out's round-robin
    # spread of a narrow input is not one, and no-ops on wide scans):
    # the classifier is a pure row-local map at any corpus size
    ps = plan_summary(classify_quality(df))
    assert ps["shuffles"] == 0 and ps["global_windows"] == 0, ps


# ---------------------------------------------------------------------------
# shuffle_shard (t26)
# ---------------------------------------------------------------------------


def test_shuffle_shard_is_a_deterministic_permutation(spark):
    from qctimeseries_spark.datapipe.sample import shuffle_shard

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(200)], "doc_id bigint, source string"
    )
    a = shuffle_shard(df, "doc_id", n_shards=4, seed="s1").collect()
    b = shuffle_shard(df, "doc_id", n_shards=4, seed="s1").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    assert len(a) == 200 and len({r["doc_id"] for r in a}) == 200
    # per-shard positions are dense 0..n_k-1
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # a different seed is a genuinely different permutation
    c = shuffle_shard(df, "doc_id", n_shards=4, seed="s2").collect()
    key = lambda rows: {r["doc_id"]: (r["shard"], r["shard_pos"]) for r in rows}
    assert key(a) != key(c)
    # ... and decorrelated from the input order: the first shard's
    # first docs are not simply the lowest ids
    first = [r["doc_id"] for r in a if r["shard"] == 0 and r["shard_pos"] < 5]
    assert first != sorted(first)[:5] or first != list(range(5))


def test_shuffle_shard_single_shard_total_order(spark):
    from qctimeseries_spark.datapipe.sample import shuffle_shard

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id bigint")
    out = shuffle_shard(df, "doc_id", n_shards=1).collect()
    assert {r["shard"] for r in out} == {0}
    assert sorted(r["shard_pos"] for r in out) == list(range(50))
    import pytest as _pt

    with _pt.raises(ValueError):
        shuffle_shard(df, "doc_id", n_shards=0)


# ---------------------------------------------------------------------------
# product quantization (x7)
# ---------------------------------------------------------------------------


def test_pq_encode_seed_vectors_take_their_own_codewords(spark):
    import numpy as np
    from qctimeseries_spark.datapipe.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    books = train_pq_codebooks(df, m=4, ksub=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
    enc = {
        r["vec_id"]: (r["pq_code"], r["pq_packed"])
        for r in pq_encode(df, books).collect()
    }
    # the 8 lowest-id vectors ARE the codebook seeds: distance 0 to
    # their own codeword in every subspace
    for c in range(8):
        assert enc[c][0] == [c, c, c, c]
        assert enc[c][1] == c * (1 + 8 + 64 + 512)
    # packed nibbles reconstruct the code list
    for vid, (code, packed) in enc.items():
        assert [(packed // (8 ** j)) % 8 for j in range(4)] == code


def test_knn_pq_converges_to_brute_at_full_candidates(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from qctimeseries_spark.datapipe.similarity import (
        knn_bruteforce,
        knn_pq,
    )

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # candidates >= corpus: the candidate cut keeps everyone, so the
    # exact re-rank IS the brute answer, row for row
    brute_rows = knn_bruteforce(df, qs, k=5).collect()
    got = sorted(
        map(tuple, knn_pq(df, qs, k=5, m=4, ksub=8, candidates=60).collect())
    )
    want = sorted(map(tuple, brute_rows))
    assert got == want
    # at a tight cut, recall degrades gracefully but stays useful
    tight = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq(df, qs, k=5, m=4, ksub=8, candidates=20).collect()
    }
    brute = {(r["query_id"], r["neighbor_id"]) for r in brute_rows}
    assert len(tight & brute) / len(brute) >= 0.5


def test_pq_index_serve_dpp_and_brute_convergence(spark, tmp_path):
    """build_pq_index → knn_query_pq_index: the candidate scan must be
    DPP-pruned to the probed cells and must read the packed-code
    column (not the vectors); at nprobe=nlist and full candidates the
    serve result equals the brute answer row for row (the candidate
    funnel passes everyone, the re-rank is exact — transitively pins
    the pack→shift/mask-unpack round trip end-to-end)."""
    from qctimeseries_spark.datapipe import (
        build_pq_index,
        knn_bruteforce,
        knn_query_pq_index,
    )
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    info = build_pq_index(emb, str(tmp_path / "ix"), nlist=4, m=8, ksub=16)
    assert info == {"nlist": 4, "n_vectors": 500, "m": 8, "ksub": 16}
    assert (tmp_path / "ix" / "cells" / "centroid_id=1").exists()
    assert (tmp_path / "ix" / "pqbooks").exists()

    # exhaustive probes + full candidate budget -> the brute answer
    served = knn_query_pq_index(
        spark, str(tmp_path / "ix"), q, k=5, nprobe=4, candidates=500
    )
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(served) == key(knn_bruteforce(emb, q, k=5))

    # the pruned serve: DPP into cells/, codes column in the ADC scan
    pruned = knn_query_pq_index(
        spark, str(tmp_path / "ix"), q, k=5, nprobe=1, candidates=20
    )
    assert pruned.count() == 15
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "pq_packed" in plan

    with pytest.raises(ValueError):
        build_pq_index(emb, str(tmp_path / "bad"), nlist=4, ksub=12)


def test_ivfpq_residual_serve_and_tighter_reconstruction(spark, tmp_path):
    """Residual IVF-PQ (IVFADC, x19): (a) at exhaustive probes + full
    candidate budget the serve equals brute force row for row (exact
    re-rank; transitively pins residual encode → pack → unpack);
    (b) the pruned serve keeps the DPP + 9-byte-scan plan shape; and
    (c) the IVFADC decomposition property, measured: adding the
    quantized residual strictly improves reconstruction over the
    coarse centroid alone (MSE of ĉ + r̂ < MSE of ĉ against the unit
    vectors; measured 1.018 vs 1.723 on this corpus — deterministic,
    both constructions are seeded).  NOTE, honestly measured: on this
    NEAR-UNIFORM synthetic corpus raw-space x8 codes reconstruct
    tighter still (0.758) — residuals only shrink when cells are real
    clusters, so the residual layout's advantage is conditional on
    clustered data; what x19 adds unconditionally is the canonical
    FAISS IVFADC shape with an exact cross-engine oracle."""
    import numpy as np

    from qctimeseries_spark.datapipe.similarity import (
        build_ivfpq_residual_index,
        build_pq_index,
        knn_bruteforce,
        knn_query_ivfpq_residual,
    )
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    info = build_ivfpq_residual_index(
        emb, str(tmp_path / "rx"), nlist=4, m=8, ksub=16
    )
    assert info == {"nlist": 4, "n_vectors": 500, "m": 8, "ksub": 16}
    assert (tmp_path / "rx" / "rbooks").exists()

    served = knn_query_ivfpq_residual(
        spark, str(tmp_path / "rx"), q, k=5, nprobe=4, candidates=500
    )
    key = lambda d: sorted(map(tuple, d.collect()))
    assert key(served) == key(knn_bruteforce(emb, q, k=5))

    pruned = knn_query_ivfpq_residual(
        spark, str(tmp_path / "rx"), q, k=5, nprobe=1, candidates=20
    )
    assert pruned.count() == 15
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "pq_packed" in plan

    # (c) reconstruction-error decomposition
    build_pq_index(emb, str(tmp_path / "px"), nlist=4, m=8, ksub=16)

    def _unit(M):
        na = np.zeros(len(M))
        for d in range(M.shape[1]):
            na += M[:, d] * M[:, d]
        return M / np.sqrt(na)[:, None]

    def _mse(idx_dir, books_dir, *, residual, with_codes=True):
        cells = spark.read.parquet(str(tmp_path / idx_dir / "cells"))
        rows = cells.select("vec_id", "embedding", "pq_packed",
                            "centroid_id").collect()
        books = spark.read.parquet(
            str(tmp_path / idx_dir / books_dir)
        ).collect()
        m = 1 + max(r["j"] for r in books)
        ksub = 1 + max(r["c"] for r in books)
        dsub = len(books[0]["cw"])
        CB = np.zeros((m, ksub, dsub))
        for r in books:
            CB[r["j"], r["c"]] = r["cw"]
        crows = sorted(
            spark.read.parquet(str(tmp_path / idx_dir / "centroids"))
            .select("centroid_id", "embedding").collect(),
            key=lambda r: r["centroid_id"],
        )
        UC = _unit(np.array([list(r["embedding"]) for r in crows]))
        pos = {r["centroid_id"]: i for i, r in enumerate(crows)}
        U = _unit(np.array([list(r["embedding"]) for r in rows]))
        shift = ksub.bit_length() - 1
        err = 0.0
        for i, r in enumerate(rows):
            rec = UC[pos[r["centroid_id"]]].copy() if residual else \
                np.zeros(m * dsub)
            if with_codes:
                for j in range(m):
                    c = (r["pq_packed"] >> (j * shift)) & (ksub - 1)
                    rec[j * dsub:(j + 1) * dsub] += CB[j, c]
            err += float(((U[i] - rec) ** 2).sum())
        return err / len(rows)

    mse_coarse = _mse("rx", "rbooks", residual=True, with_codes=False)
    mse_res = _mse("rx", "rbooks", residual=True)
    mse_raw = _mse("px", "pqbooks", residual=False)
    # the IVFADC decomposition pays: quantized residual strictly
    # improves on the centroid alone...
    assert mse_res < mse_coarse, (mse_res, mse_coarse)
    # ...while on THIS near-uniform corpus raw-space codes stay
    # tighter (the documented conditionality — fails here if the
    # fixture ever becomes clustered, at which point flip the claim)
    assert mse_raw < mse_res, (mse_raw, mse_res)


def test_bm25_retrieval_ranks_matching_doc_first(spark):
    """A document repeating the query's rare terms outranks docs with
    one incidental hit; scores are positive and ranks dense from 1."""
    from qctimeseries_spark.datapipe.text import bm25_retrieval

    docs = spark.createDataFrame(
        [
            (1, "quantum flux capacitor quantum flux"),
            (2, "the cat sat on the mat"),
            (3, "flux appears once here amid many other plain words"),
            (4, "entirely unrelated text about gardening and soil"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(100, "quantum flux")], "query_id long, text string"
    )
    rows = bm25_retrieval(docs, qs, k=3).collect()
    assert [r["doc_id"] for r in rows] == [1, 3]
    assert rows[0]["rank"] == 1 and rows[1]["rank"] == 2
    assert rows[0]["bm25"] > rows[1]["bm25"] > 0
    assert rows[0]["n_shared_terms"] == 2 and rows[1]["n_shared_terms"] == 1


def test_minhash_join_finds_planted_cross_dup_only(spark):
    """The cross-corpus LSH join reports the planted corpus↔bench
    near-dup, never corpus-internal pairs, and a corpus of exact
    copies of a bench doc collides in every band (guaranteed hit)."""
    from qctimeseries_spark.datapipe.dedup import minhash_join

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, base),                         # exact copy of bench 900
            (2, base + " lambda"),             # near-dup of bench 900
            (3, "totally different words nothing shared with anything"),
            (4, "totally different words nothing shared with anybody"),  # near-dup of 3, corpus-internal
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(900, base)], "doc_id long, text string"
    )
    rows = minhash_join(
        corpus, bench, k=15, bands=5, ngram=3, threshold=0.5
    ).collect()
    got = {(r["corpus_id"], r["other_id"]) for r in rows}
    assert (1, 900) in got                       # exact copy always collides
    assert all(o == 900 for _, o in got)         # never corpus-internal
    assert (3, 900) not in got and (4, 900) not in got
    exact = {r["corpus_id"]: r["jaccard"] for r in rows}
    assert exact[1] == 1.0


def test_leakage_safe_split_never_cuts_a_cluster(spark):
    """Both ends of every near-dup pair land in the SAME split, and
    docs without a duplicate split exactly as split_corpus on their
    own id."""
    from qctimeseries_spark.datapipe.sample import (
        leakage_safe_split,
        split_corpus,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # chain 10-19 into one component; 50<->51 a second one
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 19)] + [(50, 51)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    split = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(split) == 200
    assert len({split[i] for i in range(10, 20)}) == 1   # whole chain together
    assert split[50] == split[51]
    plain = {
        r["doc_id"]: r["split"]
        for r in split_corpus(
            docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
            seed="qcts-split",
        ).collect()
    }
    clustered = set(range(10, 20)) | {50, 51}
    for i in set(range(200)) - clustered:
        assert split[i] == plain[i]


def test_filtered_knn_prefilters_and_pushes_predicate(spark, tmp_path):
    """where= returns top-k over the filtered set (k survivors even
    when post-filtering would return fewer), only matching rows, and
    the predicate reaches the cells/ parquet scan as a pushed filter."""
    from qctimeseries_spark.datapipe.similarity import (
        build_ivf_index,
        knn_bruteforce,
        knn_query_index,
    )
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    build_ivf_index(emb, str(tmp_path / "ix"), nlist=4)
    served = knn_query_index(
        spark, str(tmp_path / "ix"), q, k=5, nprobe=4, where="label < 3"
    )
    rows = served.collect()
    assert len(rows) == 15 and all(r["rank"] <= 5 for r in rows)
    # exhaustive probes == brute force over the pre-filtered corpus
    key = lambda rs: sorted((r["query_id"], r["neighbor_id"], r["cos"], r["rank"]) for r in rs)
    brute = knn_bruteforce(emb.filter("label < 3"), q, k=5).collect()
    assert key(rows) == key(brute)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan, plan[:2000]


def test_canonical_keep_elects_best_scorer_per_cluster(spark):
    """The keeper is the argmax-score member (tie → lower id), every
    doc carries its cluster, singletons keep themselves."""
    from qctimeseries_spark.datapipe.dedup import canonical_keep

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 7), (9, 1)],
        "doc_id long, score int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 4)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["keeper_id"], r["kept"])
        for r in canonical_keep(docs, pairs, score_col="score").collect()
    }
    # component {1,2,3}: max score 9 held by 2 and 3 -> lower id 2
    assert out[1] == (1, 2, False)
    assert out[2] == (1, 2, True)
    assert out[3] == (1, 2, False)
    # component {4,9}: 4 scores 7 > 1 -> keeper 4, cluster min id 4
    assert out[4] == (4, 4, True)
    assert out[9] == (4, 4, False)
    assert len(out) == 5


def test_cell_balanced_sample_caps_every_cell_and_is_monotone(spark):
    """No cell exceeds the cap, survivors at cap K are a subset of
    survivors at K+5 (monotone growth), and every non-empty cell
    stays represented."""
    from qctimeseries_spark.datapipe.similarity import cell_balanced_sample
    from qctimeseries_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    small = cell_balanced_sample(emb, nlist=8, cap=10)
    counts = {
        r["centroid_id"]: r["count"]
        for r in small.groupBy("centroid_id").count().collect()
    }
    assert counts and all(c <= 10 for c in counts.values())
    assert len(counts) == 8  # every cell represented
    bigger = cell_balanced_sample(emb, nlist=8, cap=15)
    s_ids = {r["vec_id"] for r in small.collect()}
    b_ids = {r["vec_id"] for r in bigger.collect()}
    assert s_ids <= b_ids


def test_rrf_fuse_blends_lists_and_quantizes_exactly(spark):
    """A doc ranked 1st in both lists beats a doc ranked 1st in one;
    contributions are the integer nano-unit 1e9 // (60 + rank), so
    the fused score is reproducible to the last bit."""
    from pyspark.sql import functions as F

    from qctimeseries_spark.datapipe.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [(1, 10, 1), (1, 13, 2)],
        "query_id long, doc_id long, rank int",
    )
    rows = {
        r["doc_id"]: r
        for r in rrf_fuse([a, b], k=10).collect()
    }
    assert rows[10]["rank"] == 1 and rows[10]["n_lists"] == 2
    # 2 × (1e9 // 61) = 2 × 16393442 nano-units
    assert rows[10]["rrf"] == round(2 * (10**9 // 61) / 1e9, 9)
    # rank-2 in one list (1e9//62) vs rank-2 in the other: identical
    # score, id tie-break orders 11 before 13
    assert rows[11]["rrf"] == rows[13]["rrf"]
    assert rows[11]["rank"] < rows[13]["rank"]


def test_weighted_sample_prefers_heavy_rows_and_is_deterministic(spark):
    """With one weight 1e6× the rest, the heavy row is (essentially
    always) selected; membership is a pure function of (seed, key) —
    two runs agree row-for-row; non-positive weights never selected."""
    from qctimeseries_spark.datapipe.sample import weighted_sample

    df = spark.createDataFrame(
        [(i, 1.0 if i else 1e6) for i in range(200)] + [(999, -5.0)],
        "doc_id long, w double",
    )
    got = weighted_sample(df, "w", 20, key_col="doc_id")
    rows = sorted(r["doc_id"] for r in got.collect())
    again = sorted(r["doc_id"] for r in got.collect())
    assert rows == again and len(rows) == 20
    assert 0 in rows          # the 1e6-weight row wins its race
    assert 999 not in rows    # negative weight filtered
    ranks = [r["sample_rank"] for r in got.collect()]
    assert sorted(ranks) == list(range(1, 21))


def test_stratified_sample_per_group_race_matches_global_key(spark):
    """Per-stratum A-Res: every group keeps exactly n winners ranked
    1..n; a row's es_key is IDENTICAL under the global t30 race (same
    hash axis, same ln(u)/w key, so stratification changes selection,
    never scoring); heavy rows win within their own group; NULL
    groups and non-positive weights are excluded."""
    from qctimeseries_spark.datapipe.sample import (
        stratified_sample,
        weighted_sample,
    )

    rows = [(i, "a" if i % 2 else "b", 1.0 if i > 1 else 1e6)
            for i in range(100)]
    rows += [(500, None, 50.0), (501, "a", -1.0)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w double")
    got = stratified_sample(
        df, "w", 5, group_col="src", key_col="doc_id"
    ).collect()
    by_group = {}
    for r in got:
        by_group.setdefault(r.src, []).append(r)
    assert set(by_group) == {"a", "b"}
    for g, rs in by_group.items():
        assert sorted(r.sample_rank for r in rs) == [1, 2, 3, 4, 5]
        # ranks follow (es_key desc, doc_id) within the group
        ordered = sorted(rs, key=lambda r: (-r.es_key, r.doc_id))
        assert [r.sample_rank for r in ordered] == [1, 2, 3, 4, 5]
    # the 1e6-weight rows (doc 0 -> "b", doc 1 -> "a") win their strata
    assert by_group["b"][0].sample_rank and any(
        r.doc_id == 0 and r.sample_rank == 1 for r in by_group["b"]
    )
    assert any(r.doc_id == 1 and r.sample_rank == 1 for r in by_group["a"])
    picked = {r.doc_id for r in got}
    assert 500 not in picked and 501 not in picked
    # same es_key as the global race for the same row
    glob = {
        r.doc_id: r.es_key
        for r in weighted_sample(df.drop("src"), "w", 102,
                                 key_col="doc_id").collect()
    }
    for r in got:
        assert glob[r.doc_id] == r.es_key


def test_ngram_novelty_flags_shared_boilerplate(spark):
    """A doc sharing every trigram with a twin scores 0 novelty; a
    unique doc scores 1; counts align with distinct trigrams."""
    from qctimeseries_spark.datapipe.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # trigrams shared with 2
            (2, "alpha beta gamma delta"),
            (3, "utterly unique words never repeated anywhere else"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_novelty(df).collect()}
    assert rows[1]["novelty"] == 0.0 and rows[2]["novelty"] == 0.0
    assert rows[3]["novelty"] == 1.0
    assert rows[1]["n_grams"] == 2  # 4 tokens → 2 distinct trigrams
    assert rows[3]["n_grams"] == 5


def test_cell_stats_partitions_the_corpus_exactly_once(spark):
    """Cell occupancies sum to the corpus (nprobe=1 assignment is a
    partition); fracs sum to 1; the cosine spread brackets the mean;
    seed vectors sit in their own cells at cosine 1."""
    from qctimeseries_spark.datapipe.similarity import cell_stats

    import math

    vecs = [
        (i, [math.cos(0.37 * i + d) for d in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = cell_stats(df, nlist=4).collect()
    assert sum(r["n_vectors"] for r in rows) == 60
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["min_cos"] <= r["mean_cos"] + 1e-6
        assert r["mean_cos"] <= r["max_cos"] + 1e-6
        assert r["max_cos"] <= 1.0


def test_bloom_prune_finds_planted_contamination(spark):
    """A corpus doc repeating a benchmark passage is flagged with every
    shared gram hit; a doc over a disjoint vocabulary is absent (its
    grams can still false-positive ONLY if both slots collide — with 3
    grams against ~20 occupied slots of 2^18 that is effectively
    impossible, and the assertion pins the deterministic outcome).
    Non-power-of-two m is rejected."""
    import pytest as _pytest

    from qctimeseries_spark.datapipe.sketches import bloom_prune

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, bench_text + " lambda mu"),          # contaminated
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bloom_prune(corpus, bench, ngram=8).collect()}
    assert 1 in rows and rows[1]["n_hits"] == 3  # grams 1-3 of 5 shared
    assert rows[1]["n_grams"] == 5
    assert 2 not in rows
    with _pytest.raises(ValueError):
        bloom_prune(corpus, bench, m=1000).collect()


def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    """Count-min estimates are upper bounds by construction; with 20
    terms in 4×1024 cells the min over rows is collision-free, so the
    estimates equal the exact counts."""
    from pyspark.sql import functions as F

    from qctimeseries_spark.datapipe.sketches import cms_build, cms_estimate
    from qctimeseries_spark.datapipe.text import tokens

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(20) for _ in range(j % 3 + 1)))
         for i in range(5)],
        "doc_id long, text string",
    )
    sk = cms_build(docs)
    occ = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    est = cms_estimate(sk, occ.distinct())
    exact = occ.groupBy("term").count()
    j = {r["term"]: r for r in est.join(exact, "term").collect()}
    assert len(j) == 20
    for r in j.values():
        assert r["est"] == r["count"]
    # sketch size is bounded by depth*width regardless of input
    assert sk.count() <= 4 * 1024


def test_hll_distinct_estimates_within_error_bound_per_group(spark):
    """HLL with m=1024 carries ~3.3% standard error; assert each
    group's estimate lands within 5 standard errors of the exact
    distinct count, registers partition correctly, and the output is
    deterministic across runs."""
    from pyspark.sql import functions as F

    from qctimeseries_spark.datapipe.sketches import hll_distinct

    df = spark.range(30000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 7919).cast("string")).alias("v"),
    )
    got = {r["g"]: r for r in
           hll_distinct(df, "v", group_cols=("g",)).collect()}
    exact = {r["g"]: r["x"] for r in
             df.groupBy("g").agg(F.count_distinct("v").alias("x")).collect()}
    assert set(got) == set(exact)
    for g, r in got.items():
        rel = abs(r["est_distinct"] - exact[g]) / exact[g]
        assert rel < 5 * 1.04 / (1024 ** 0.5), (g, r["est_distinct"], exact[g])
        assert r["n_registers"] == 1024
        assert 0 <= r["n_zero"] < 1024
    again = {r["g"]: r["est_distinct"] for r in
             hll_distinct(df, "v", group_cols=("g",)).collect()}
    assert again == {g: r["est_distinct"] for g, r in got.items()}


def test_snapshot_diff_classifies_added_removed_changed(spark):
    """Full delta semantics: a key only in new is added, only in old is
    removed, differing text is changed, identical text is absent from
    the output entirely."""
    from qctimeseries_spark.datapipe.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma v2"), (4, "delta")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}
    # fast mode classifies identically (different hash, same equality)
    fast = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(old, new, fast=True).collect()
    }
    assert fast == got


def test_embedding_drift_localizes_the_shifted_dimension(spark):
    """A constant offset planted on one dimension of the current
    snapshot shows up as that dimension's shift (to quantization
    precision) while untouched dimensions stay at zero."""
    from qctimeseries_spark.datapipe.monitor import embedding_drift

    ref = spark.createDataFrame(
        [(i, [0.1 * i, 0.5, -0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cur = spark.createDataFrame(
        [(i, [0.1 * i, 0.5 + 0.2, -0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["dim"]: r for r in embedding_drift(ref, cur).collect()}
    assert set(rows) == {0, 1, 2}
    assert all(r["n_ref"] == 20 and r["n_cur"] == 20 for r in rows.values())
    assert abs(rows[1]["shift"] - 0.2) < 1e-6
    assert rows[0]["shift"] < 1e-6 and rows[2]["shift"] < 1e-6
    assert abs(rows[2]["mean_ref"] - (-0.25)) < 1e-6


def test_ntile_by_score_matches_global_ntile_semantics(spark):
    """The two-phase construction reproduces NTILE(n) OVER (ORDER BY
    score, key) exactly — including the first-buckets-take-the-extra
    rule when n doesn't divide the count — while coarse value-buckets
    force both the whole-bucket and boundary-bucket paths."""
    from pyspark.sql import Window

    from qctimeseries_spark.datapipe.sample import ntile_by_score

    # 101 rows, scores with heavy ties, scale=1.0 so one value-bucket
    # holds many rows (boundary path) and others assign wholly
    rows = [(i, float((i * 7) % 13)) for i in range(101)]
    df = spark.createDataFrame(rows, "k long, score double")
    got = {
        r["k"]: r["bucket"]
        for r in ntile_by_score(df, "score", "k", 4, scale=1.0).collect()
    }
    w = Window.orderBy(F.col("score"), F.col("k"))
    want = {
        r["k"]: r["nt"]
        for r in df.withColumn("nt", F.ntile(4).over(w)).collect()
    }
    assert got == want
    # bucket sizes follow the SQL rule: 101 = 26 + 25 + 25 + 25
    from collections import Counter

    sizes = sorted(Counter(got.values()).items())
    assert sizes == [(1, 26), (2, 25), (3, 25), (4, 25)]


def test_normalize_text_canonicalizes_unicode_variants(spark):
    """Composed and decomposed accents, case, and whitespace runs all
    collapse to one canonical form; None passes through; the flags
    gate each step independently."""
    from qctimeseries_spark.datapipe.text import normalize_text

    rows = [
        (1, "café au lait"),          # composed
        (2, "CAFE\u0301  au\tlait "),  # decomposed + case + ws
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["norm_text"]
           for r in normalize_text(df).collect()}
    assert out[1] == out[2] == "café au lait"
    assert out[3] is None
    raw = {r["doc_id"]: r["norm_text"]
           for r in normalize_text(df, lower=False,
                                    collapse_ws=False).collect()}
    assert raw[2] == "CAF\u00c9  au\tlait "  # NFC only: E+U+0301 -> \u00c9


# ---------------------------------------------------------------------------
# round-8 continuation: chunking, temperature mixture, negative
# sampling
# ---------------------------------------------------------------------------


def test_chunk_documents_coverage_overlap_and_short_docs(spark):
    """Chunks tile every token (full coverage), consecutive chunks
    share exactly `overlap` tokens, a doc shorter than one chunk emits
    exactly one chunk, and chunk_ids are dense from 0."""
    from qctimeseries_spark.datapipe.text import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),  # 100 tokens
        (2, "a b c"),                                # shorter than chunk
        (3, " ".join(f"t{i}" for i in range(25))),   # exactly one stride+overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=24, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in rs] == list(range(len(rs)))
    # full coverage + overlap on the 100-token doc (stride 16)
    rs = by_doc[1]
    assert [r.start_token for r in rs] == [1 + 16 * i for i in range(len(rs))]
    covered = set()
    for r in rs:
        toks = r.chunk.split(" ")
        assert len(toks) == r.n_chunk_tokens
        covered.update(range(r.start_token, r.start_token + r.n_chunk_tokens))
    assert covered == set(range(1, 101))
    for a, b in zip(rs, rs[1:]):
        assert a.start_token + a.n_chunk_tokens - b.start_token >= 8
    # short doc: one chunk, whole text
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk == "a b c"
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_temperature_weights_damps_head_and_boosts_tail(spark):
    """alpha=0.5 moves target shares toward uniform: the head group's
    target < natural share (so keep_frac < 1) and the tail group's
    target > share with keep_frac == 1.0 (the binding group never
    upsamples); shares and targets each sum to ~1."""
    from qctimeseries_spark.datapipe.sample import temperature_weights

    rows = [("en", 8000), ("de", 1500), ("zh", 500)]
    df = spark.createDataFrame(rows, "lang string, ntok long")
    out = {r.lang: r for r in temperature_weights(df, "lang", "ntok").collect()}
    assert out["en"].target_share < out["en"].share
    assert out["zh"].target_share > out["zh"].share
    assert abs(sum(r.share for r in out.values()) - 1.0) < 1e-8
    assert abs(sum(r.target_share for r in out.values()) - 1.0) < 1e-8
    # the most-boosted group binds at keep_frac 1.0; the head is damped
    assert out["zh"].keep_frac == 1.0
    assert out["en"].keep_frac < 1.0
    # realized tokens follow the target ratio: n·keep ∝ target
    realized = {k: r.n_tokens * r.keep_frac for k, r in out.items()}
    tot = sum(realized.values())
    for k, r in out.items():
        assert abs(realized[k] / tot - r.target_share) < 1e-6
    with pytest.raises(ValueError):
        temperature_weights(df, "lang", "ntok", alpha=0.0)


def test_negative_sample_is_deterministic_and_label_disjoint(spark):
    """Every sampled negative has a different label from its anchor,
    ranks are dense 1..k', and the pairing is identical under a
    different input partitioning (hash order, no RNG)."""
    from qctimeseries_spark.datapipe.similarity import negative_sample

    rows = [(i, [float(i)], i % 3) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = negative_sample(df, k=5, buckets=4).collect()
    labels = dict((i, i % 3) for i in range(60))
    by_anchor = {}
    for r in out:
        assert labels[r.anchor_id] != r.neg_label
        assert r.neg_label == labels[r.neg_id]
        by_anchor.setdefault(r.anchor_id, []).append(r.rank)
    for ranks in by_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    again = negative_sample(df.repartition(7), k=5, buckets=4).collect()
    key = lambda rs: sorted((r.anchor_id, r.neg_id, r.rank) for r in rs)
    assert key(out) == key(again)
    # buckets="auto" sizes from a count probe: max(8, n // 256) == 8
    # here, so it matches the explicit buckets=8 pairing exactly
    auto = negative_sample(df, k=5).collect()
    explicit = negative_sample(df, k=5, buckets=8).collect()
    assert key(auto) == key(explicit)


def test_kmeans_exact_converges_and_keeps_empty_cells(spark):
    """Exact k-means: unit centroids, every member counted once, an
    emptied cell keeps its previous (seed) centroid with n_members 0,
    and two runs are bit-identical regardless of partitioning."""
    from qctimeseries_spark.datapipe.similarity import kmeans_exact

    # two tight clusters far apart + their seeds; nlist=3 leaves one
    # seed cell empty after reassignment
    rows = (
        [(i, [10.0 + (i % 3) * 0.01, 0.0, 0.0]) for i in range(10)]
        + [(100 + i, [0.0, 10.0 + (i % 3) * 0.01, 0.0]) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_exact(df, nlist=3, iters=2).collect()
    assert len(out) == 3
    assert sum(r.n_members for r in out) == 20
    for r in out:
        norm = sum(x * x for x in r.centroid) ** 0.5
        assert abs(norm - 1.0) < 1e-9
    # determinism under a different partitioning
    again = kmeans_exact(df.repartition(5), nlist=3, iters=2).collect()
    a = sorted((r.centroid_id, r.n_members, tuple(r.centroid)) for r in out)
    b = sorted((r.centroid_id, r.n_members, tuple(r.centroid)) for r in again)
    assert a == b


def test_pack_sequences_tiles_offsets_and_flags_boundary_docs(spark):
    """Offsets are the exclusive prefix sum in key order per shard,
    seq ids are the occupied ctx windows, zero-token docs attach at
    their offset without crossing, and shards are independent."""
    from qctimeseries_spark.datapipe.sample import pack_sequences

    rows = [
        ("s1", 1, 6), ("s1", 2, 3), ("s1", 3, 0), ("s1", 4, 8),
        ("s2", 5, 10),
    ]
    df = spark.createDataFrame(rows, "src string, doc long, n long")
    out = {
        r.doc: r
        for r in pack_sequences(
            df, "n", key_col="doc", ctx_len=8, shard_col="src"
        ).collect()
    }
    # s1 layout: doc1 [0,6) seqs 0-0; doc2 [6,9) seqs 0-1 CROSSES;
    # doc3 [9,9) empty at seq 1; doc4 [9,17) seqs 1-2 crosses
    assert (out[1].start_offset, out[1].seq_first, out[1].seq_last,
            out[1].crosses_boundary) == (0, 0, 0, False)
    assert (out[2].start_offset, out[2].seq_first, out[2].seq_last,
            out[2].crosses_boundary) == (6, 0, 1, True)
    assert (out[3].start_offset, out[3].seq_first, out[3].seq_last,
            out[3].crosses_boundary) == (9, 1, 1, False)
    assert (out[4].start_offset, out[4].seq_first, out[4].seq_last,
            out[4].crosses_boundary) == (9, 1, 2, True)
    # s2 independent: starts at 0
    assert (out[5].start_offset, out[5].seq_first, out[5].seq_last) == (
        0, 0, 1,
    )


def test_excise_contaminated_spans_cuts_exactly_the_leak(spark):
    """Docs carrying a verbatim benchmark span lose exactly the
    leaked tokens (every token covered by a matching 8-gram); clean
    docs and docs shorter than the gram width pass through whole."""
    from qctimeseries_spark.datapipe.text import (
        excise_contaminated_spans,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = [
        (1, "clean words only nothing shared here at all ok"),
        (2, f"prefix words {leak} suffix words"),
        (3, "tiny doc"),
    ]
    bench = [(100, f"benchmark question {leak} answer")]
    out = {
        r.doc_id: r
        for r in excise_contaminated_spans(
            spark.createDataFrame(docs, "doc_id long, text string"),
            spark.createDataFrame(bench, "doc_id long, text string"),
            width=8,
        ).collect()
    }
    assert out[1].n_removed == 0
    assert out[1].text_clean == docs[0][1]
    assert out[2].n_removed == 8
    assert out[2].text_clean == "prefix words suffix words"
    assert out[3].n_removed == 0 and out[3].text_clean == "tiny doc"


def test_mmr_rerank_diversifies_and_is_deterministic(spark):
    """MMR at lam=0.5 demotes a near-duplicate of the top hit below a
    less-relevant-but-diverse candidate; ranks are dense; the result
    is identical under repartitioning (integer selection keys)."""
    from qctimeseries_spark.datapipe.similarity import mmr_rerank

    # query q=0: cand 1 (rel .99) ~ cand 2 (rel .98, same direction);
    # cand 3 (rel .80, orthogonal) should outrank cand 2 at step 2
    cand = spark.createDataFrame(
        [(0, 1, 0.99), (0, 2, 0.98), (0, 3, 0.80)],
        "query_id long, neighbor_id long, cos double",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = sorted(
        (r.rank, r.neighbor_id)
        for r in mmr_rerank(cand, vecs, k=3).collect()
    )
    assert out == [(1, 1), (2, 3), (3, 2)]
    again = sorted(
        (r.rank, r.neighbor_id)
        for r in mmr_rerank(cand.repartition(3), vecs, k=3).collect()
    )
    assert again == out


def test_ivf_delete_tombstones_then_purge_serve_identical(spark, tmp_path):
    """Deletes drop from serving immediately (anti-join before
    scoring, never a short top-k list), deleting an unknown id is a
    no-op, and the physical purge rewrite serves IDENTICAL results
    while clearing tombstones/ and keeping the partition layout."""
    from qctimeseries_spark.datapipe.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        knn_query_index,
        purge_ivf_tombstones,
        read_ivf_tombstones,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 13) % 7 + 1), float((i * 5) % 11), float(i % 3)])
         for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "index")
    build_ivf_index(emb, idx, nlist=4)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = knn_query_index(spark, idx, queries, k=5, nprobe=4)
    # delete each query's RANK-1 neighbor (guaranteed in the result)
    top = {r.neighbor_id for r in before.collect() if r.rank == 1}
    assert top
    gone = delete_from_ivf_index(
        spark, idx,
        spark.createDataFrame(
            [(i,) for i in top] + [(99999,)], "vec_id long"
        ),
    )
    assert gone["tombstoned"] == len(top) + 1  # unknown id is harmless
    after = knn_query_index(spark, idx, queries, k=5, nprobe=4)
    rows_t = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank) for r in after.collect()
    )
    hit_ids = {r[1] for r in rows_t}
    assert not hit_ids & top
    assert all(
        sum(1 for r in rows_t if r[0] == q) == 5 for q in (0, 1)
    )  # still full k — pre-filter, not post-filter

    # appending a still-tombstoned id is refused (the re-append trap:
    # the new row would be hidden now and destroyed by the purge)
    some = next(iter(top))
    with pytest.raises(ValueError, match="tombstoned"):
        from qctimeseries_spark.datapipe.similarity import (
            append_to_ivf_index,
        )

        append_to_ivf_index(
            spark, idx, emb.filter(F.col("vec_id") == some)
        )

    stats = purge_ivf_tombstones(spark, idx)
    assert stats["purged"] == len(top) + 1
    assert stats["remaining"] == 60 - len(top)
    assert read_ivf_tombstones(spark, idx) is None  # cleared
    rows_p = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_query_index(spark, idx, queries, k=5, nprobe=4)
        .collect()
    )
    assert rows_p == rows_t


def _ivf_toy_store(spark, tmp_path, tag="crash"):
    """Small store + queries + the tombstoned/purged serve baselines,
    shared by the purge-crash-recovery cases."""
    from qctimeseries_spark.datapipe.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        knn_query_index,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 13) % 7 + 1), float((i * 5) % 11), float(i % 3)])
         for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / f"index_{tag}")
    build_ivf_index(emb, idx, nlist=4)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = {
        r.neighbor_id
        for r in knn_query_index(spark, idx, queries, k=5, nprobe=4)
        .collect()
        if r.rank == 1
    }
    delete_from_ivf_index(
        spark, idx,
        spark.createDataFrame([(i,) for i in top], "vec_id long"),
    )
    expected = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_query_index(spark, idx, queries, k=5, nprobe=4)
        .collect()
    )
    return idx, queries, expected


def test_purge_crash_recovery_every_position(spark, tmp_path):
    """A purge interrupted at ANY protocol step self-heals on the next
    store touch and serves the tombstone-equivalent results (r8
    advisor medium: the old two-rename swap had a window where a crash
    left NO cells/ directory and stale tombstones blocked re-appends).

    Crash states are manufactured from real store snapshots: the
    pre-purge (tombstoned) store and the post-purge store, recombined
    on the local FS exactly as each crash position leaves them."""
    import os
    import shutil

    from qctimeseries_spark.datapipe.similarity import (
        knn_query_index,
        purge_ivf_tombstones,
        read_ivf_tombstones,
    )

    idx, queries, expected = _ivf_toy_store(spark, tmp_path)
    snap_tomb = str(tmp_path / "snap_tomb")
    shutil.copytree(idx, snap_tomb)  # tombstones live, cells unpurged
    assert purge_ivf_tombstones(spark, idx)["purged"] > 0
    snap_purged = str(tmp_path / "snap_purged")
    shutil.copytree(idx, snap_purged)  # tombstones gone, cells purged

    def build_state(tag, *, cells_from, old_from=None, staged_from=None,
                    tombstones=False, marker=False):
        p = str(tmp_path / f"crash_{tag}")
        os.makedirs(p)
        shutil.copytree(snap_tomb + "/centroids", p + "/centroids")
        if cells_from:
            shutil.copytree(cells_from + "/cells", p + "/cells")
        if old_from:
            shutil.copytree(old_from + "/cells", p + "/cells__old")
        if staged_from:
            shutil.copytree(staged_from + "/cells", p + "/cells_purging")
        if tombstones:
            shutil.copytree(
                snap_tomb + "/tombstones", p + "/tombstones"
            )
        if marker:
            open(p + "/_purge_commit", "w").close()
        return p

    cases = {
        # crash before the marker: half-written replacement discarded,
        # tombstones stay live (the purge simply never happened)
        "pre_marker": build_state(
            "pre_marker", cells_from=snap_tomb, staged_from=snap_purged,
            tombstones=True,
        ),
        # crash after the marker, before the first rename: roll back
        "pre_swap": build_state(
            "pre_swap", cells_from=snap_tomb, staged_from=snap_purged,
            tombstones=True, marker=True,
        ),
        # crash between the two renames: NO cells/ — the r8 advisor's
        # bricked-store window; recovery must roll FORWARD
        "mid_swap": build_state(
            "mid_swap", cells_from=None, old_from=snap_tomb,
            staged_from=snap_purged, tombstones=True, marker=True,
        ),
        # crash after the swap, before the cleanup deletes: stale
        # tombstones must NOT outlive recovery (the re-append trap)
        "post_swap": build_state(
            "post_swap", cells_from=snap_purged, old_from=snap_tomb,
            tombstones=True, marker=True,
        ),
        # pre-protocol debris: leftover aside copy next to live cells
        "stale_old": build_state(
            "stale_old", cells_from=snap_purged, old_from=snap_tomb,
        ),
    }
    for tag, p in cases.items():
        rows = sorted(
            (r.query_id, r.neighbor_id, r.cos, r.rank)
            for r in knn_query_index(spark, p, queries, k=5, nprobe=4)
            .collect()
        )
        assert rows == expected, f"crash state {tag} served wrong rows"
        assert os.path.isdir(p + "/cells"), tag
        assert not os.path.exists(p + "/cells__old"), tag
        assert not os.path.exists(p + "/cells_purging"), tag
        assert not os.path.exists(p + "/_purge_commit"), tag
    # rolled-back states keep their tombstones (the purge never
    # happened); rolled-forward states must have cleared them
    assert read_ivf_tombstones(spark, cases["pre_marker"]) is not None
    assert read_ivf_tombstones(spark, cases["pre_swap"]) is not None
    assert read_ivf_tombstones(spark, cases["mid_swap"]) is None
    assert read_ivf_tombstones(spark, cases["post_swap"]) is None
    # after a rolled-forward recovery the purged ids are re-appendable
    # (stale tombstones no longer block the delete→purge→append cycle)
    from qctimeseries_spark.datapipe.similarity import (
        append_to_ivf_index,
    )

    one = spark.createDataFrame(
        [(777, [1.0, 1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assert append_to_ivf_index(
        spark, cases["post_swap"], one
    )["appended"] == 1


def test_purge_live_lock_shields_in_flight_purge_from_readers(
    spark, tmp_path
):
    """r9 advisor: recovery runs on EVERY serve/append, so a reader
    racing a LIVE purge used to delete the half-written
    cells_purging/ and race the swap renames.  The purge now holds a
    ``_purge_lock`` lease; while it is fresh, a reader (1) leaves the
    staged replacement alone and keeps serving the tombstoned store,
    and (2) still performs the idempotent mid-swap roll-forward (the
    only state it cannot read through).  A lease older than the TTL
    is crash debris: recovery proceeds exactly as before, and the
    next purge entry clears it immediately (force)."""
    import os
    import shutil
    import time

    from qctimeseries_spark.datapipe.similarity import (
        knn_query_index,
        purge_ivf_tombstones,
        read_ivf_tombstones,
    )

    idx, queries, expected = _ivf_toy_store(spark, tmp_path, tag="lock")
    snap_tomb = str(tmp_path / "snap_tomb")
    shutil.copytree(idx, snap_tomb)
    assert purge_ivf_tombstones(spark, idx)["purged"] > 0
    assert not os.path.exists(idx + "/_purge_lock")  # lease released
    snap_purged = str(tmp_path / "snap_purged")
    shutil.copytree(idx, snap_purged)

    def build(tag, *, staged, cells, marker=False, lock_age_s=0):
        p = str(tmp_path / f"live_{tag}")
        os.makedirs(p)
        shutil.copytree(snap_tomb + "/centroids", p + "/centroids")
        shutil.copytree(snap_tomb + "/tombstones", p + "/tombstones")
        if cells:
            shutil.copytree(snap_tomb + "/cells", p + "/cells")
        if staged:
            shutil.copytree(snap_purged + "/cells", p + "/cells_purging")
        if marker:
            open(p + "/_purge_commit", "w").close()
        open(p + "/_purge_lock", "w").close()
        if lock_age_s:
            t = time.time() - lock_age_s
            os.utime(p + "/_purge_lock", (t, t))
        return p

    # 1) FRESH lease + half-written staged dir: the reader must serve
    #    the tombstoned store AND leave every purge artifact untouched
    p1 = build("fresh_staged", staged=True, cells=True)
    rows = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_query_index(spark, p1, queries, k=5, nprobe=4)
        .collect()
    )
    assert rows == expected
    assert os.path.isdir(p1 + "/cells_purging"), "reader deleted live staged dir"
    assert os.path.exists(p1 + "/_purge_lock"), "reader deleted live lease"
    assert read_ivf_tombstones(spark, p1) is not None  # still tombstoned

    # 2) FRESH lease, mid-swap (marker, no cells/): the roll-forward
    #    still happens — the one unreadable state — but cleanup is
    #    left to the purge (lease + marker + tombstones stay)
    p2 = build("fresh_midswap", staged=True, cells=False, marker=True)
    rows = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_query_index(spark, p2, queries, k=5, nprobe=4)
        .collect()
    )
    assert rows == expected  # purged cells + live tombstone anti-join
    assert os.path.isdir(p2 + "/cells")
    assert os.path.exists(p2 + "/_purge_lock")  # cleanup is the purge's

    # 3) STALE lease (crash debris): recovery proceeds as before —
    #    staged dir dropped, lease cleared, tombstones stay live
    p3 = build("stale_staged", staged=True, cells=True, lock_age_s=7200)
    rows = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_query_index(spark, p3, queries, k=5, nprobe=4)
        .collect()
    )
    assert rows == expected
    assert not os.path.exists(p3 + "/cells_purging")
    assert not os.path.exists(p3 + "/_purge_lock")

    # 4) FRESH lease but the next PURGE entry clears it immediately
    #    (single-purger contract: force recovery) and completes
    p4 = build("fresh_then_purge", staged=True, cells=True)
    stats = purge_ivf_tombstones(spark, p4)
    assert stats["purged"] > 0
    for leftover in ("/_purge_lock", "/_purge_commit", "/cells_purging",
                     "/cells__old", "/tombstones"):
        assert not os.path.exists(p4 + leftover), leftover
    rows = sorted(
        (r.query_id, r.neighbor_id, r.cos, r.rank)
        for r in knn_query_index(spark, p4, queries, k=5, nprobe=4)
        .collect()
    )
    assert rows == expected


def test_ivf_delete_follows_store_id_type(spark, tmp_path):
    """delete_from_ivf_index casts to the STORE's id type (r8 advisor:
    cast('long') NULLed string ids and the delete silently no-opped)
    and refuses ids that cannot cast."""
    from qctimeseries_spark.datapipe.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        knn_query_index,
    )

    # string-keyed store: delete by string id must actually hide it
    emb = spark.createDataFrame(
        [(f"doc{i}", [float((i * 13) % 7 + 1), float((i * 5) % 11)])
         for i in range(30)],
        "vec_id string, embedding array<float>",
    )
    idx = str(tmp_path / "sidx")
    build_ivf_index(emb, idx, nlist=2)
    queries = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = [
        r.neighbor_id
        for r in knn_query_index(spark, idx, queries, k=3, nprobe=2)
        .collect()
        if r.rank == 1
    ]
    assert delete_from_ivf_index(
        spark, idx, spark.createDataFrame([(t,) for t in top],
                                          "vec_id string")
    )["tombstoned"] == 1
    left = {
        r.neighbor_id
        for r in knn_query_index(spark, idx, queries, k=3, nprobe=2)
        .collect()
    }
    assert not set(top) & left  # the delete actually took

    # long-keyed store: a non-numeric id cannot cast — loud failure,
    # not a silent no-op with a nonzero "tombstoned" count
    emb2 = spark.createDataFrame(
        [(i, [float(i % 5 + 1), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    idx2 = str(tmp_path / "lidx")
    build_ivf_index(emb2, idx2, nlist=2)
    with pytest.raises(ValueError, match="cast to NULL"):
        delete_from_ivf_index(
            spark, idx2,
            spark.createDataFrame([("abc",)], "vec_id string"),
        )


def test_mmr_rerank_string_ids(spark):
    """Output id types follow the inputs (r8 advisor: hardcoded bigint
    schema crashed non-integer ids)."""
    from qctimeseries_spark.datapipe.similarity import mmr_rerank

    cand = spark.createDataFrame(
        [("q0", "a", 0.99), ("q0", "b", 0.98), ("q0", "c", 0.80)],
        "query_id string, neighbor_id string, cos double",
    )
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.999, 0.01]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    out = mmr_rerank(cand, vecs, k=3)
    assert dict(out.dtypes)["query_id"] == "string"
    assert dict(out.dtypes)["neighbor_id"] == "string"
    got = sorted((r.rank, r.neighbor_id) for r in out.collect())
    # same geometry as the long-id test: the near-dup demotes to rank 3
    assert got == [(1, "a"), (2, "c"), (3, "b")]


def test_negative_sample_rejects_bad_buckets(spark):
    """buckets must be 'auto' or a positive int — a typo'd string is a
    clear ValueError, not a str-vs-int TypeError (r8 advisor)."""
    from qctimeseries_spark.datapipe.similarity import negative_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "vec_id long, label string"
    )
    with pytest.raises(ValueError, match="'auto'"):
        negative_sample(df, buckets="all")
    with pytest.raises(ValueError, match="positive"):
        negative_sample(df, buckets=0)


def test_topk_sharding_exactness(spark):
    """VERDICT r8 task 4: a planted hot cell (half the corpus piled
    into one direction) must NOT change ANN results under the
    two-phase sharded top-k, and the plan must actually contain the
    shard-phase window (the hot pool is split across
    (query, hash(neighbor) % _RANK_SHARDS) tasks before the final
    ≤ shards·k sort)."""
    from pyspark.sql import Window

    from qctimeseries_spark.datapipe.similarity import (
        _RANK_SHARDS,
        knn_bruteforce,
        knn_ivf,
    )

    # 150 near-identical vectors (one hot IVF cell) + 150 spread
    rows = [
        (i, [100.0 + (i % 7) * 1e-3, 1.0 + (i % 11) * 1e-3])
        for i in range(150)
    ] + [
        (i, [float((i * 13) % 7 + 1), float((i * 5) % 11 + 1)])
        for i in range(150, 300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 200)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    for fn, kw in (
        (knn_bruteforce, {}),
        (knn_ivf, {"nlist": 4, "nprobe": 2}),
    ):
        out = fn(emb, queries, k=7, **kw)
        # reference: the SAME scored pool ranked by ONE per-query
        # window — reconstructed from the sharded result's contract
        # (rank = dense 1..k in (cos desc, id asc) order)
        got = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.cos)
            for r in out.collect()
        )
        by_q = {}
        for q, rk, n, c in got:
            by_q.setdefault(q, []).append((rk, n, c))
        for q, lst in by_q.items():
            assert [rk for rk, _, _ in lst] == list(
                range(1, len(lst) + 1)
            ), f"ranks not dense for query {q}"
            resorted = sorted(lst, key=lambda t: (-t[2], t[1]))
            assert resorted == lst, f"rank order broken for query {q}"
        # the hot queries (0, 1) sit inside the pile: their top
        # neighbors must be other pile members at cos ≈ 1
        assert all(c > 0.999 for _, rk, n, c in got
                   if _ in (0, 1) and rk <= 3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_tk_shard" in plan, "shard phase missing from the plan"

    # bit-exactness against the literal one-window formulation
    from qctimeseries_spark.datapipe.similarity import cosine

    q = queries.select(
        F.col("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"))
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    want = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
        .select("query_id", "neighbor_id", "cos", "rank")
        .collect()
    )
    brute = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in knn_bruteforce(emb, queries, k=7).collect()
    )
    assert brute == want
    assert _RANK_SHARDS >= 8  # the spread is real, not a 1-shard alias


def test_fan_out_widens_post_shuffle_filtered_frames(spark, monkeypatch):
    """VERDICT r8 task 5: the r7-advisor worry was that a SELECTIVE
    filter after an aggregate / broadcast join would leave the
    optimizer's sizeInBytes overestimating (Filter and Aggregate pass
    the child estimate through unchanged) and fan_out would silently
    skip the widen.  Pin the actual behavior: the inherited estimate
    is the CHILD's size, so any such frame whose upstream fits the
    par x maxPartitionBytes bound still widens — and the skip side
    only triggers on estimates so large that AQE (parallelismFirst,
    the session default) never coalesces the real stage below
    parallelism anyway.  Neither side may touch df.rdd."""
    from pyspark.sql import DataFrame as _DF

    from qctimeseries_spark.datapipe.hashing import fan_out

    def _boom(self):
        raise AssertionError("fan_out touched df.rdd on a shuffle-rooted plan")

    # post-aggregate + selective filter (the advertised shape)
    agg_f = (
        spark.range(1_000_000)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 10**9)  # selects nothing at runtime
    )
    # post-broadcast-join + selective filter
    bj_f = (
        spark.range(0, 1_000_000, 1, 2)
        .join(F.broadcast(spark.range(100)), "id")
        .filter(F.col("id") < 0)
    )
    # window-rooted + filter
    from pyspark.sql import Window as _W

    win_f = (
        spark.range(1_000_000)
        .withColumn("g", F.col("id") % 100)
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("g").orderBy("id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    monkeypatch.setattr(_DF, "rdd", property(_boom))
    for tag, narrow in (("agg+filter", agg_f), ("bjoin+filter", bj_f),
                        ("window+filter", win_f)):
        plan = fan_out(narrow)._jdf.queryExecution().logical().toString()
        assert plan.startswith("Repartition"), f"{tag}: {plan[:200]}"
    # huge inherited estimate -> deliberate skip (AQE parallelismFirst
    # keeps a genuinely big stage at >= parallelism partitions)
    huge_f = (
        spark.range(20_000_000_000)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 10**12)
    )
    assert fan_out(huge_f) is huge_f


def test_simhash_partial_recall_optin(docs):
    """chunks <= max_hamming stays a hard error by default, but
    allow_partial_recall=True opts into the SAME narrowed-horizon
    trade the auto-widener makes (q_d3 pins its 4x16 layout this way
    so the DuckDB oracle can mirror it bit-for-bit at every scale —
    round 9 caught the old scale-dependent layout diverging at sf1)."""
    import warnings as _warnings

    with pytest.raises(ValueError, match="allow_partial_recall"):
        simhash_dup_pairs(docs, max_hamming=6)  # default chunks=4
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        pairs = {
            (r["id_a"], r["id_b"])
            for r in simhash_dup_pairs(
                docs, bits=64, max_hamming=6, chunks=4,
                allow_partial_recall=True,
            ).collect()
        }
    assert any("best-effort" in str(w.message) for w in rec)
    assert (0, 3) in pairs  # identical token sets always collide


def test_binarize_embeddings_packing(spark):
    """Sign-bit packing matches a Python reference, including the
    sign-bit word position (bit 63 = LONG_MIN) and multi-word vectors
    (d=130 -> 3 words with a ragged tail)."""
    import random

    from qctimeseries_spark.datapipe.similarity import (
        binarize_embeddings,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(130)])
            for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.bvec)
           for r in binarize_embeddings(df).collect()}

    def ref(v):
        words = []
        for w in range((len(v) + 63) // 64):
            acc = 0
            for i in range(64):
                j = w * 64 + i
                if j < len(v) and v[j] >= 0:
                    acc |= 1 << i
            if acc >= 1 << 63:
                acc -= 1 << 64  # two's complement
            words.append(acc)
        return words

    for i, v in rows:
        assert got[i] == ref(v), i
    assert len(got[0]) == 3  # ceil(130/64)


def test_knn_binary_recall_and_determinism(spark):
    """An exact duplicate is Hamming-0 and ranks first after the
    cosine rerank; results are identical under repartitioning; the
    hamming column is consistent with the packed signatures."""
    import random

    from qctimeseries_spark.datapipe.similarity import knn_binary

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)])
            for i in range(1, 200)]
    dup = [x * 1.000001 for x in rows[0][1]]  # same signs as vec 1
    rows.append((500, dup))
    rows.append((0, rows[10][1][:]))  # query 0 duplicates vec 11
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = df.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_binary(df, queries, k=5, rerank=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # query 1's sign-twin (500) is hamming-0 and cosine-rank 1
    top1 = min(by_q[1], key=lambda r: r.rank)
    assert top1.neighbor_id == 500 and top1.hamming == 0
    assert top1.cos > 0.999999
    # query 0's source vector (11) is hamming-0, rank 1
    top0 = min(by_q[0], key=lambda r: r.rank)
    assert top0.neighbor_id == 11 and top0.hamming == 0
    # deterministic under repartitioning
    again = sorted(
        (r.query_id, r.neighbor_id, r.hamming, r.cos, r.rank)
        for r in knn_binary(df.repartition(7), queries, k=5, rerank=4)
        .collect()
    )
    assert again == sorted(
        (r.query_id, r.neighbor_id, r.hamming, r.cos, r.rank)
        for r in out
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="rerank >= 1"):
        knn_binary(df, queries, k=5, rerank=0)


def test_containment_scores_subset_inclusion_jaccard_dilutes(spark):
    """The d14 semantics: a short doc fully quoted inside a much
    longer one scores containment_a ~1.0 while Jaccard on the SAME
    pair dilutes toward |A|/|B| — the case a Jaccard threshold drops.
    Both directions and the set sizes come back per pair."""
    from qctimeseries_spark.datapipe import containment_on, jaccard_on

    quote = "the quick brown fox jumps over the lazy dog again and again"
    host = quote + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, host)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    c = containment_on(pairs, docs, ngram=3).collect()[0]
    j = jaccard_on(pairs, docs, ngram=3).collect()[0]
    assert c.containment_a > 0.95          # A lives inside B
    assert c.containment_b < 0.35          # B is mostly not A
    assert j.jaccard < 0.35                # the dilution containment fixes
    assert c.n_a < c.n_b
    # directionality: swapping the pair swaps the scores
    swapped = containment_on(
        spark.createDataFrame([(2, 1)], "id_a long, id_b long"), docs
    ).collect()[0]
    assert swapped.containment_a == c.containment_b
    assert swapped.containment_b == c.containment_a


def test_verifier_prune_plan_shape(spark):
    """Pin d4/d14's scale win (r10): the shingle stage must sit
    BEHIND the candidate-id LeftSemi prune on BOTH pair sides — a
    regression to corpus-wide shingling would pass every value hash
    while re-introducing a corpus-sized tokenize+shuffle.  Built with
    eager_pairs=False so the pin stays plan-only (no construction-time
    job; r10 advisor)."""
    from qctimeseries_spark.datapipe import containment_on, jaccard_on

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(6)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    for fn in (jaccard_on, containment_on):
        out = fn(pairs, docs, ngram=2, eager_pairs=False)
        lines = (
            out._jdf.queryExecution().optimizedPlan().toString().splitlines()
        )
        shingle_lines = [
            i for i, ln in enumerate(lines)
            if "AS sh_a#" in ln or "AS sh_b#" in ln
        ]
        assert len(shingle_lines) == 2, "\n".join(lines)
        for i in shingle_lines:
            # the shingle Project's immediate child is the prune
            assert "Join LeftSemi" in lines[i + 1], "\n".join(
                lines[i : i + 2]
            )


def test_edit_distance_verify_complements_token_scores(spark):
    """The ladder rung d15 adds: per-character churn (every word
    lightly misspelled) keeps edit similarity HIGH while shingle
    Jaccard collapses; a reshuffled-but-identical token bag keeps
    Jaccard(1-gram) at 1.0 while edit similarity drops.  Also pins
    the empty-text convention and the prefix cap."""
    from qctimeseries_spark.datapipe import edit_distance_on, jaccard_on

    words = [f"word{i:02d}" for i in range(40)]
    churned = " ".join(w[:-1] + "x" for w in words)   # 1 char per word
    shuffled = " ".join(words[::-1])
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, churned), (3, shuffled), (4, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 4)], "id_a long, id_b long"
    )
    ed = {
        (r.id_a, r.id_b): r
        for r in edit_distance_on(pairs, docs).collect()
    }
    jc = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_on(pairs, docs, ngram=1).collect()
    }
    churn = ed[(1, 2)]
    assert churn.edit_distance == 40            # one char per word
    assert churn.edit_similarity > 0.85         # chars mostly intact
    assert jc[(1, 2)] == 0.0                    # no shared 1-gram
    shuf = ed[(1, 3)]
    assert jc[(1, 3)] == 1.0                    # same token bag
    assert shuf.edit_similarity < 0.85          # chars moved
    assert ed[(4, 4)].edit_similarity == 1.0    # empty-vs-empty
    # prefix cap bounds the comparison (and the reported lengths)
    capped = {
        (r.id_a, r.id_b): r
        for r in edit_distance_on(
            pairs, docs, prefix_chars=10
        ).collect()
    }
    assert capped[(1, 2)].n_a == 10 and capped[(1, 2)].edit_distance <= 10
    import pytest as _pt

    with _pt.raises(ValueError, match="prefix_chars"):
        edit_distance_on(pairs, docs, prefix_chars=0)


def test_edit_distance_prune_plan_shape(spark):
    """d15 rides the d4/d14 verifier-prune discipline: the text joins
    read the doc table BEHIND the candidate-id LeftSemi prune on both
    sides (a regression to corpus-wide text joins would pass value
    hashes while shipping the whole corpus through the shuffle)."""
    from qctimeseries_spark.datapipe import edit_distance_on

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(6)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = edit_distance_on(pairs, docs, eager_pairs=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join LeftSemi") == 2, plan


def test_edit_distance_null_text(spark):
    """NULL text = "no text to verify", NOT an empty document: a pair
    touching a NULL-text doc is DROPPED (r12 advisor — it used to
    propagate NULL metric rows), while genuinely empty strings keep
    the empty-vs-empty = 1.0 convention."""
    from qctimeseries_spark.datapipe import edit_distance_on

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 2), (1, 3), (3, 3)], "id_a long, id_b long"
    )
    rows = {
        (r.id_a, r.id_b): r
        for r in edit_distance_on(pairs, docs).collect()
    }
    assert set(rows) == {(1, 3), (3, 3)}  # every NULL-touching pair gone
    assert rows[(3, 3)].edit_similarity == 1.0
    assert rows[(1, 3)].edit_distance == 5


def test_edit_distance_non_ascii(spark):
    """Executable form of the d15 semantics contract (VERDICT r12
    task 5): the engine's distance is CODEPOINT-level, DuckDB's
    ``levenshtein`` is BYTE-level, and they diverge exactly on
    non-ASCII text — 'café' vs 'cafe' is distance 1 in codepoints but
    2 in UTF-8 bytes (é = 0xC3 0xA9).  The reconciliation the
    docstring prescribes is a byte projection: running the engine
    over ``decode(encode(text, 'utf-8'), 'ISO-8859-1')`` (one
    codepoint per raw byte) reproduces DuckDB's raw byte-level
    answer, so a non-ASCII corpus CAN be oracle-checked — through the
    projected column, by contract rather than by luck."""
    import duckdb

    from qctimeseries_spark.datapipe import edit_distance_on

    docs = spark.createDataFrame(
        [(1, "café"), (2, "cafe")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")

    raw = edit_distance_on(pairs, docs).collect()[0]
    assert (raw.edit_distance, raw.n_a, raw.n_b) == (1, 4, 4)

    oracle = duckdb.sql(
        "SELECT levenshtein('café', 'cafe')"
    ).fetchone()[0]
    assert oracle == 2  # byte-level: the documented divergence

    projected = docs.select(
        "doc_id",
        F.decode(F.encode("text", "utf-8"), "ISO-8859-1").alias("text"),
    )
    byte_level = edit_distance_on(pairs, projected).collect()[0]
    assert byte_level.edit_distance == oracle
    assert (byte_level.n_a, byte_level.n_b) == (5, 4)  # byte lengths


def test_text_operator_caches_self_clean(spark):
    """VERDICT r13 task 4: the multiply-read text-model count tables
    (unigram counts, bigram counts, tfidf/bm25 postings) must not
    outlive their query in a long-lived session.  They are now lazy
    localCheckpoints (block lifetime = result-frame lifetime via the
    ContextCleaner), never bare ``persist()`` — so the SQL
    CacheManager stays EMPTY (the old leak parked an InMemoryRelation
    there per call, forever without clearCache), and the checkpoint
    blocks drain once the results are garbage-collected."""
    import gc
    import time

    from pyspark.sql import functions as F

    from qctimeseries_spark.datapipe.text import (
        bigram_logprob,
        bm25_retrieval,
        tfidf_top_terms,
        unigram_logprob,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma doc "), F.col("id").cast("string")
        ).alias("text"),
    )
    queries = docs.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    # delta-based in the SHARED suite session: other tests may hold
    # live caches/checkpoints of their own — only OUR operators'
    # residue is under test
    spark.catalog.clearCache()
    pre_ids = {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    results = [
        unigram_logprob(docs),
        bigram_logprob(docs),
        tfidf_top_terms(docs, k=3),
        bm25_retrieval(docs, queries, k=3),
    ]
    for r in results:
        r.write.format("noop").mode("overwrite").save()

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "a text operator registered a plan in the SQL CacheManager "
        "(bare persist with no unpersist site — the r13 leak)"
    )

    # checkpoint blocks drain once the result frames are GC'd (the
    # ContextCleaner runs off JVM weak references — poll generously)
    del results, r
    gc.collect()

    def _new_ids():
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        } - pre_ids

    deadline = time.time() + 30
    while time.time() < deadline and _new_ids():
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
    assert not _new_ids(), (
        "checkpointed count-table blocks survived GC of their results"
    )
