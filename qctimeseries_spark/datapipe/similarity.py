"""Similarity search over an embedding column (``array<float>``).

- :func:`knn_bruteforce` — exact top-k cosine per query.  The query set
  is broadcast (it is small by definition); the big side streams —
  one narrow pass + a per-query top-k shuffle.  This is the correctness
  baseline and the right plan whenever |queries| × |corpus| work fits
  the cluster.
- :func:`ivf_assign` / :func:`knn_ivf` — the scale path: partition the
  corpus into ``nlist`` Voronoi cells around deterministic centroids
  (IVF); a query probes only ``nprobe`` nearest cells, cutting scanned
  rows by ~nlist/nprobe.  Centroid assignment is a broadcast argmin —
  no shuffle beyond the final top-k.

Single-scan dot products (knn scoring) stay pure Catalyst
(``zip_with``/``aggregate`` fold) — no Python on the scan path.  The
rows × nlist centroid assignment is the exception: Spark HOFs run
INTERPRETED, and that product measured ~100× slower than the Arrow
per-dimension accumulate, so :func:`ivf_assign` vectorizes it while
preserving the exact left-fold summation order (bit-equal scores).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qctimeseries_spark.datapipe.dedup import cosine


#: cap for :func:`auto_nlist` — √n keeps mean cell size = √n (the
#: O(Σ cell²) pairing sweet spot), but past this many centroids the
#: driver-collected matrix and the rows × nlist assignment product
#: dominate (4096 × 128d ≈ 4 MB broadcast); callers with bigger
#: executors can raise it explicitly.
IVF_MAX_NLIST = 4096


def auto_nlist(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    cap: int = IVF_MAX_NLIST,
) -> int:
    """``nlist ≈ √n`` (floored at 16, capped at ``cap``) from one thin
    column count — the classic IVF sizing that keeps expected cell
    size ≈ √n as the corpus grows, so probe cost and per-cell pairing
    cost stay balanced.  A fixed ``nlist=16`` is right for the
    bit-exact oracle queries (they pin it) but wrong at 100 TB, where
    it would mean ~10⁹-vector cells."""
    import math

    n = corpus.select(id_col).count()
    return max(16, min(cap, math.isqrt(n)))


#: sub-splits per query group in :func:`_topk_exact` — 32 bounds the
#: final per-query sort to 32·k rows while phase 1 spreads a hot pool
#: across 32× more tasks; the value is a latency/fan-out balance, not
#: a correctness knob
_RANK_SHARDS = 32


def _topk_exact(
    scored: DataFrame,
    k: int,
    order_cols,
    *,
    rank_col: str = "rank",
    shards: int = _RANK_SHARDS,
) -> DataFrame:
    """EXACT per-query top-k in two phases, immune to hot candidate
    pools (VERDICT r8 task 4): a single ``Window.partitionBy(query)``
    puts a query's ENTIRE pool into one task — a query probing a
    pathological hot cell (near-duplicate pileup ⇒ one cell holding
    half the corpus), or any brute-tier query, then sorts millions of
    rows on one core while 31 idle.  Phase 1 ranks within
    ``(query, hash(neighbor) % shards)`` — ``shards``× more, equally
    loaded tasks — and keeps k per shard; phase 2 ranks the ≤
    ``shards·k`` survivors per query.  Exact by inclusion: the global
    top-k is contained in the union of shard top-ks for ANY total
    order, and both phases use the same deterministic
    ``(score desc, id asc)`` order, so ranks are bit-identical to the
    one-window plan (oracle hashes unchanged — pinned by
    ``test_topk_sharding_exactness``).  Costs one extra (narrower)
    shuffle of k rows per (query, shard); the hash shard key is
    deterministic, so replays and streaming re-drives agree.
    """
    w1 = Window.partitionBy("query_id", "_tk_shard").orderBy(*order_cols)
    w2 = Window.partitionBy("query_id").orderBy(*order_cols)
    return (
        scored.withColumn(
            "_tk_shard",
            F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(int(shards))),
        )
        .withColumn("_tk_r", F.row_number().over(w1))
        .filter(F.col("_tk_r") <= k)
        .drop("_tk_shard", "_tk_r")
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )


def _brute_scores_arrow(
    corpus: DataFrame, qrows, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow matrix tier of :func:`knn_bruteforce`: the collected
    query vectors ride to the workers as a numpy matrix and every
    corpus vector is scored against ALL of them in one vectorized
    pass — the :func:`ivf_assign` construction, whose per-dimension
    accumulate IS the left fold of :func:`~qctimeseries_spark.datapipe
    .dedup.cosine`, so the doubles are bit-identical to the
    interpreted HOF formulation (and to the DuckDB oracle).  Each
    corpus vector crosses the Python boundary ONCE (guide §4.2) and
    the per-pair work runs through numpy instead of the interpreted
    Catalyst fold, which :func:`ivf_assign` measured ~100× slower at
    rows × queries volume.  NULL corpus/query vectors yield NULL
    cosines per pair, exactly like the HOF."""
    qids = [r["query_id"] for r in qrows]
    qvs = [r["qv"] for r in qrows]
    m = len(qids)
    # NULL query vectors keep their slot (zero-filled in the matrix,
    # NULLed per pair below — the HOF path emits NULL cosines for
    # them, and ranking still numbers their rows by id)
    null_q = [i for i, v in enumerate(qvs) if v is None]
    dims = {len(v) for v in qvs if v is not None}
    dim = dims.pop() if dims else 0  # uniform — gated by the caller
    Q = np.zeros((m, dim), dtype=np.float64)
    for i, v in enumerate(qvs):
        if v is not None:
            Q[i] = np.asarray(v, dtype=np.float64)
    nq = np.zeros(m)
    for i in range(dim):  # left-fold norm, matching cosine()
        nq += Q[:, i] * Q[:, i]
    nq = np.sqrt(nq)

    @F.pandas_udf("array<double>")
    def _scores(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        out: list = [None] * len(vs)
        # a corpus vector whose length differs from the query dim
        # scores NULL against every query (zip_with pads the shorter
        # side with NULL in the HOF path) — same treatment as a NULL
        # vector here
        mask = np.array(
            [v is not None and len(v) == dim for v in vs], dtype=bool
        )
        vals = [np.asarray(v, dtype=np.float64) for v in vs[mask]]
        if vals:
            A = np.stack(vals)
            na = np.zeros(len(A))
            dots = np.zeros((len(A), m))
            for i in range(dim):  # left fold per pair, matching cosine()
                na += A[:, i] * A[:, i]
                dots += A[:, i : i + 1] * Q[:, i]
            na = np.sqrt(na)
            # cosine() computes dot / (na_query * nb_corpus); IEEE
            # multiplication is commutative bit-exactly
            cs = dots / (nq[None, :] * na[:, None])
            lists = cs.tolist()
            if null_q:
                for row in lists:
                    for j in null_q:
                        row[j] = None
            it = iter(lists)
            for idx in np.flatnonzero(mask):
                out[idx] = next(it)
        return pd.Series(out)

    # §4.4: the explode's derived-column filter must not duplicate the
    # scoring pass (the ivf_assign precedent)
    _scores = _scores.asNondeterministic()

    qid_arr = F.array(*[F.lit(q) for q in qids])
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _scores(F.col(vec_col)).alias("_cs"),
        )
        .select("neighbor_id", F.posexplode(F.col("_cs")).alias("_p", "_c"))
        .select(
            F.element_at(qid_arr, F.col("_p") + 1).alias("query_id"),
            "neighbor_id",
            F.round(F.col("_c"), 9).alias("cos"),
        )
    )


#: query-count ceiling for the Arrow matrix tier of
#: :func:`knn_bruteforce` — above it the query matrix stops being
#: comfortably driver/worker-resident and the broadcast-join HOF path
#: runs instead (same values; the classic recall-eval / serve case is
#: a handful to a few hundred queries)
BRUTE_ARROW_MAX_QUERIES = 4096


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Scoring tiers (identical doubles, different physics): when the
    query vectors share one dimension and the query set fits under
    :data:`BRUTE_ARROW_MAX_QUERIES` (the design
    case — recall evaluation and serve batches are a handful to a few
    hundred queries) the collected query matrix rides into ONE Arrow
    pass over the corpus (each corpus vector crosses the boundary
    once; per-pair math is the same left fold, vectorized — see
    :func:`_brute_scores_arrow`).  Above the cap,
    ``broadcast(queries)`` makes the join a map-side nested loop over
    the corpus partitions (no shuffle of the big side) with the
    interpreted HOF cosine.  Ranking is the two-phase
    :func:`_topk_exact` — per-query pools here are the WHOLE corpus,
    the worst case for a single per-query window task.  Rank on the
    9-dp-rounded cosine with id tie-break so ordering is reproducible
    across engines and float summation orders.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qrows = q.limit(BRUTE_ARROW_MAX_QUERIES + 1).collect()
    # the query matrix needs one dimension; ragged query vectors take
    # the HOF tier, whose zip_with scores each mismatched pair NULL
    dims = {len(r["qv"]) for r in qrows if r["qv"] is not None}
    if 0 < len(qrows) <= BRUTE_ARROW_MAX_QUERIES and len(dims) <= 1:
        scored = _brute_scores_arrow(corpus, qrows, id_col, vec_col).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        scored = (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 9))
        )
    return _topk_exact(
        scored,
        k,
        [F.col("cos").desc(), F.col("neighbor_id")],
    ).select("query_id", "neighbor_id", "cos", "rank")


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    nprobe: int = 1,
    dedup_eval: bool = True,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (cosine).

    The centroid matrix rides to the workers inside an Arrow
    ``pandas_udf`` (nlist × d doubles — tiny); each batch computes all
    row × centroid cosines with one vectorized multiply-add per
    dimension.  The per-dimension accumulate IS the left fold of
    :func:`~qctimeseries_spark.datapipe.dedup.cosine`, so assignments
    are bit-identical to the interpreted HOF formulation (and to the
    DuckDB oracle) — the HOF version measured ~100× slower here because
    higher-order functions run interpreted and this is rows × nlist
    work, not a single scan.  Ties on the rounded cosine break by
    ascending centroid id (centroids pre-sorted + stable argsort).
    Zero shuffle; with ``nprobe=1`` this is the build-side cell
    assignment, with ``nprobe>1`` the query-side multi-probe expansion.
    """
    rows = sorted(
        centroids.select(
            F.col(centroid_id_col).alias("cid"), F.col(vec_col).alias("centv")
        ).collect(),
        key=lambda r: r["cid"],
    )
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    M = np.array([list(r["centv"]) for r in rows], dtype=np.float64)
    dim = M.shape[1]
    nb = np.zeros(len(M))
    for d in range(dim):  # left-fold norm, matching cosine()
        nb += M[:, d] * M[:, d]
    nb = np.sqrt(nb)
    k = min(nprobe, len(M))

    @F.pandas_udf("array<int>")
    def _probes(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        A = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        na = np.zeros(len(A))
        dots = np.zeros((len(A), len(M)))
        for d in range(dim):
            na += A[:, d] * A[:, d]
            dots += A[:, d : d + 1] * M[:, d]
        na = np.sqrt(na)
        key = -np.round(dots / (na[:, None] * nb[None, :]), 9)
        order = np.argsort(key, axis=1, kind="stable")[:, :k]
        return pd.Series(list(cids[order].astype(np.int32)))

    # guide §4.4: ``explode`` plants a ``size(_p) > 0 AND isnotnull``
    # filter over the UDF column, and the optimizer duplicates the
    # ArrowEvalPython below that filter — every row paid the full
    # rows × nlist centroid scoring TWICE (verified in the r13 plan
    # dumps: x2/x4/x11/x14/x15 each showed two stacked ArrowEvalPython
    # nodes per assign).  The function is pure; marking it
    # non-deterministic only forbids the optimizer to clone or reorder
    # it, yielding a single evaluation with identical values.  Locally
    # measured neutral (assignment is vectorized numpy over small
    # fixtures); the saved pass is rows × nlist work at scale.
    # ``dedup_eval=False`` keeps the expression deterministic: the
    # QUERY-side assign of a persisted-store serve must stay eligible
    # for dynamic partition pruning (DPP re-plants the build side as a
    # subquery filter on the cells/ scan — forbidden for
    # non-deterministic expressions, and the q-side frame is tiny, so
    # its duplicated eval costs nothing while the pruning it buys is
    # the nprobe/nlist serve economics; pinned by
    # test_persisted_ivf_index_matches_fresh_build).
    if dedup_eval:
        _probes = _probes.asNondeterministic()

    # every input column rides along: a persisted index built from a
    # frame with metadata columns carries them into cells/, which is
    # what attribute-FILTERED serving needs (vectors and their filter
    # attributes co-located in the store).
    return df.select(
        "*", _probes(F.col(vec_col)).alias("_p")
    ).select(
        *df.columns, F.explode(F.col("_p")).alias("centroid_id")
    )


def take_centroids(corpus: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", nlist: int | str = "auto",
                   refine: int = 0) -> DataFrame:
    """Centroids for the IVF index: deterministic id seed, optionally
    Lloyd-refined.

    ``nlist="auto"`` (default) sizes the cell count ≈ √n via
    :func:`auto_nlist`; pass an int to pin it (the oracle queries pin
    16 for bit-exact reproducibility).

    ``refine=0`` (default) returns the ``nlist`` lowest-id vectors —
    fully reproducible, which is what lets the x2 query keep a complete
    DuckDB oracle.  ``refine=N`` runs N spherical-k-means iterations:
    assign every vector to its nearest centroid (broadcast argmin, no
    shuffle), recompute each cell's element-wise mean (one
    posexplode + groupBy(cell, dim) aggregation — the shuffle payload
    is nlist × d doubles regardless of corpus size), renormalize to the
    unit sphere, and keep the previous centroid for any emptied cell.
    Refinement's measured effect depends on the data: on clustered
    corpora it tightens cells around real modes (higher recall at fixed
    ``nprobe``); on the near-uniform synthetic test embeddings recall
    is flat while cell-size spread shrinks (sf0.01, 3 iterations:
    min/max 20/42 → 23/38) — at scale that balance IS the win, since
    the per-cell pairing join's skew follows the largest cell.  Note
    per-cell float-mean summation order makes refined centroids
    runtime-dependent in the last bits, so refined indexes are for
    production quality, not the bit-exact oracle path.
    """
    if nlist == "auto":
        nlist = auto_nlist(corpus, id_col=id_col)
    cents = (
        corpus.orderBy(id_col)
        .limit(nlist)
        .select(
            F.row_number()
            .over(Window.orderBy(id_col))
            .cast("int")
            .alias("centroid_id"),
            F.col(id_col).alias("seed_id"),
            F.col(vec_col),
        )
    )
    for _ in range(refine):
        assigned = ivf_assign(
            corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
        )
        dims = assigned.select(
            "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        means = (
            dims.groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("_mean"),
            )
        )
        norm = F.sqrt(
            F.aggregate(
                F.col("_mean"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        moved = means.select(
            "centroid_id",
            F.transform(F.col("_mean"), lambda x: x / norm).alias("_new"),
        )
        cents = (
            cents.join(F.broadcast(moved), "centroid_id", "left")
            .select(
                "centroid_id",
                "seed_id",
                F.coalesce(
                    F.col("_new"), F.col(vec_col).cast("array<double>")
                ).alias(vec_col),
            )
        )
    return cents


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nlist: int | str = "auto",
    nprobe: int | str = 4,
    refine: int = 0,
) -> DataFrame:
    """Approximate top-k: IVF cell restriction, then exact rank within
    probed cells.

    Plan: corpus→cell assignment (broadcast argmin, narrow);
    query→nprobe cells (same); equi-join on ``centroid_id`` replaces
    the all-pairs join — scanned work drops to ~nprobe/nlist of brute
    force, the recall/cost dial of a classic IVF index.  ``refine``
    passes through to :func:`take_centroids` (Lloyd iterations).
    ``nlist="auto"`` (default) sizes the index ≈ √n
    (:func:`auto_nlist`, one thin count, capped); the oracle query
    pins 16.  ``nprobe="auto"`` runs :func:`tune_nprobe` first
    (recall-targeted, measured on a hash-sampled held-out slice,
    logged) and uses its choice — pay the tuning sweep once, reuse the
    value for the run.
    """
    if nlist == "auto":
        nlist = auto_nlist(corpus, id_col=id_col)
    if nprobe == "auto":
        nprobe = tune_nprobe(
            corpus, id_col=id_col, vec_col=vec_col, k=k, nlist=nlist,
            refine=refine,
        )["nprobe"]
    cents = take_centroids(
        corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, refine=refine
    )
    c_cells = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    return _rank_probed_cells(
        c_cells, queries, cents,
        vec_col=vec_col, query_id_col=query_id_col, k=k, nprobe=nprobe,
    )


def _rank_probed_cells(
    c_cells: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    *,
    vec_col: str,
    query_id_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Shared probe-join-rank tail of :func:`knn_ivf` and
    :func:`knn_query_index`: queries expand to their ``nprobe``
    cells, the broadcast equi-join on ``centroid_id`` restricts the
    scan to probed cells (and drives dynamic partition pruning when
    ``c_cells`` reads a centroid-partitioned store), exact cosine +
    per-query top-k window rank the survivors."""
    q_cells = ivf_assign(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        cents,
        id_col="query_id",
        vec_col=vec_col,
        nprobe=nprobe,
        # deterministic: DPP on a partitioned cells/ store re-plants
        # this side as the scan's partition filter (see ivf_assign);
        # the query frame is tiny, so the duplicated eval is free
        dedup_eval=False,
    ).select("query_id", F.col(vec_col).alias("qv"), "centroid_id")
    scored = (
        c_cells.join(F.broadcast(q_cells), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 9))
        # a vector probed via several cells appears once per cell
        .select("query_id", "neighbor_id", "cos")
        .distinct()
    )
    # two-phase top-k: a query probing a HOT cell (near-dup pileup)
    # otherwise drags that whole cell into one window task
    return _topk_exact(
        scored,
        k,
        [F.col("cos").desc(), F.col("neighbor_id")],
    ).select("query_id", "neighbor_id", "cos", "rank")


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | str = "auto",
    refine: int = 0,
    cell_files: int = 4,
) -> dict:
    """Build and PERSIST an IVF index: pay centroid selection and the
    corpus→cell assignment once, then serve any number of query
    batches from the store — the production shape (an index over a
    100 TB embedding store is built by one job and queried by many;
    rebuilding per query batch, which :func:`knn_ivf` does, is only
    right for one-shot jobs).

    Layout under ``path``:

    - ``centroids/`` — ``(centroid_id, seed_id, vec)``: nlist rows.
    - ``cells/`` — the full corpus WITH its cell assignment,
      PARTITIONED BY ``centroid_id``: a query that probes ``nprobe``
      cells reads exactly those directories (the probe join is a
      broadcast on the partition column, so dynamic partition pruning
      skips the rest of the store at scan time).

    The cell write is SALTED: the shuffle keys on ``(centroid_id,
    salt)`` with ``cell_files`` salt values, so each cell is written
    by ~``cell_files`` tasks into ~``cell_files`` files.  Keying on
    ``centroid_id`` alone would funnel every cell through ONE task
    into ONE file — at 100 TB with nlist capped at 4096 that is
    ~25 GB written single-threaded per cell, and a probed-cell read
    would get a single split.  ``partitionBy("centroid_id")`` is
    unchanged, so the serve-side dynamic partition pruning is too;
    the salt is dropped before the write and never hits disk.

    Writes are ``overwrite`` (an index rebuild replaces the old one
    atomically per partition).  Returns ``{"nlist", "n_vectors"}``.
    """
    if cell_files < 1:
        raise ValueError(f"cell_files must be >= 1, got {cell_files}")
    cents = take_centroids(
        corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, refine=refine
    )
    cents.write.mode("overwrite").parquet(path + "/centroids")
    # re-read the nlist-row store instead of recomputing the centroid
    # lineage: ivf_assign's driver collect and the count below would
    # otherwise each re-run the corpus TakeOrdered (and any refine
    # iterations) — three corpus passes for one 16-row frame
    cents = corpus.sparkSession.read.parquet(path + "/centroids")
    assigned = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    )
    # key the shuffle on the partition column first: partitionBy alone
    # opens one file per (task, cell).  The deterministic id-hash salt
    # spreads each cell over ~cell_files writer tasks.
    n_cells = cents.count()
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(cell_files)))
    (
        assigned.withColumn("_cell_salt", salt)
        .repartition(
            n_cells * int(cell_files),
            F.col("centroid_id"), F.col("_cell_salt"),
        )
        .drop("_cell_salt")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path + "/cells")
    )
    # nprobe=1 assignment is 1:1, so the vector count is the corpus
    # count — a thin-column count, NOT a re-run of the Arrow
    # assignment pass (which `assigned.count()` would trigger).
    return {"nlist": n_cells, "n_vectors": corpus.count()}


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_files: int = 4,
) -> dict:
    """Grow a persisted :func:`build_ivf_index` store INCREMENTALLY:
    assign the new vectors to the EXISTING centroids and append them
    to their ``cells/`` partitions — no rebuild, no touch of the
    already-stored vectors.  This is how a production index tracks a
    growing corpus: the build is paid once, each ingest batch pays
    only its own assignment (one zero-shuffle Arrow scoring pass over
    the batch) plus a keyed write, and every query served afterwards
    sees the union.  Results are identical to a
    :func:`build_ivf_index` run over the full corpus with the same
    centroids (assignment is a pure per-row function of the centroid
    matrix) — the x5 oracle pins exactly that equivalence.

    The centroid set is FROZEN by design (recluster = rebuild): recall
    degrades gracefully as the corpus drifts from the build-time
    distribution, and monitoring cell-size skew via
    :func:`~qctimeseries_spark.datapipe.dedup.store_stats` (the
    ``cells`` component) tells you when a rebuild pays for itself.
    Appends accumulate ~``cell_files`` files per batch;
    :func:`~qctimeseries_spark.datapipe.dedup.compact_store` rewrites
    the store back to target-size files with the partition layout (and
    so the DPP serve plan) unchanged.

    Returns ``{"appended", "nlist"}``.
    """
    if cell_files < 1:
        raise ValueError(f"cell_files must be >= 1, got {cell_files}")
    # a batch overlapping the live tombstone set would write rows the
    # serve-side anti-join hides and the next purge DESTROYS (the
    # delete-then-re-append trap) — refuse it; replacing an id is
    # delete → purge_ivf_tombstones → append
    tomb = read_ivf_tombstones(spark, path, id_col=id_col)
    if tomb is not None:
        hit = (
            new_vectors.select(F.col(id_col))
            .join(F.broadcast(tomb), id_col, "left_semi")
            .limit(5)
            .collect()
        )
        if hit:
            raise ValueError(
                "append batch contains tombstoned ids (e.g. "
                f"{[r[0] for r in hit]}); run purge_ivf_tombstones "
                "first — appending over a live tombstone would hide "
                "the new row and a later purge would delete it"
            )
    cents = spark.read.parquet(path + "/centroids")
    n_cells = cents.count()
    assigned = ivf_assign(
        new_vectors, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    )
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(cell_files)))
    (
        assigned.withColumn("_cell_salt", salt)
        .repartition(
            n_cells * int(cell_files),
            F.col("centroid_id"), F.col("_cell_salt"),
        )
        .drop("_cell_salt")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path + "/cells")
    )
    # 1:1 at nprobe=1 — count the batch, don't re-run the assignment.
    return {"appended": new_vectors.count(), "nlist": n_cells}


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_vec: str = "qvec",
    out_scale: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i =
    clamp(floor(127·v_i/max|v| + 0.5), -127, 127)`` plus the
    per-vector scale ``max|v|`` — the storage layout that cuts an
    embedding store's bytes ~4× (and its scan IO with it), the lever
    that matters when the store is the 100 TB side of a similarity
    query.

    COSINE over quantized vectors needs no dequantization at all: the
    per-vector scales cancel in the ratio, so ``cosine(qa, qb)``
    equals the cosine of the dequantized vectors exactly — searching
    the int8 store never touches the scale column (it exists for
    dot-product/L2 consumers, which multiply by ``sa·sb/127²``).
    Quantization error only perturbs the ANGLE (~1/255 per
    coordinate), measured as recall in the x6 pytest.

    All arithmetic is expression-level (zero shuffle, codegen) and
    engine-portable: ``floor(x + 0.5)`` on both sides instead of
    ``round`` (whose half-tie convention differs across engines), so
    the x6 oracle reproduces the quantized store bit-for-bit.  A zero
    vector quantizes to all zeros with scale 0.
    """
    v = F.col(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    out = df.withColumn(out_scale, amax)
    q = F.transform(
        v,
        lambda x: F.when(F.col(out_scale) == 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(
                        x.cast("double") * 127.0 / F.col(out_scale) + 0.5
                    ),
                ),
            ).cast("int")
        ),
    )
    return out.withColumn(out_vec, q)


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine over the INT8-quantized projections of both
    sides (:func:`quantize_embeddings`): the brute-force plan of
    :func:`knn_bruteforce` applied to a store a quarter the size.
    Scores are the quantized cosines (scales cancel — see
    :func:`quantize_embeddings`), rounded and tie-broken exactly like
    the full-precision paths, so ordering is engine-reproducible; the
    approximation budget is the quantization itself, not the search.
    """
    qc = quantize_embeddings(corpus, vec_col=vec_col).select(
        F.col(id_col), F.col("qvec").alias(vec_col)
    )
    qq = quantize_embeddings(queries, vec_col=vec_col).select(
        F.col(query_id_col), F.col("qvec").alias(vec_col)
    )
    return knn_bruteforce(
        qc, qq, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, k=k,
    )


def binarize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "bvec",
) -> DataFrame:
    """Sign-binarization: bit ``64w + i`` of the packed signature is
    set when ``v[64w + i] >= 0`` — ``ceil(d/64)`` BIGINT words per
    vector, the bottom rung of the compression ladder (fp32 → int8
    (x6, 4×) → PQ codes (x7/x8, ~64×) → ONE BIT per dimension, 32×
    over fp32 with the cheapest possible distance).  Binary signatures
    are the classic recall tier for web-scale stores: the Hamming scan
    (:func:`knn_binary`) reads 8 bytes per 64 dims and scores with
    XOR+popcount — whole-stage-codegen integer ops, no floats, no
    Python — then a thin exact-cosine rerank recovers the ordering.

    Pure codegen (no UDF): a ``transform`` over the word index with an
    inner ``aggregate`` over the 64 bit positions; the sign bit
    (``i = 63``) adds LONG_MIN, two's-complement-exact in Spark and
    DuckDB alike (the d3-oracle precedent), so the x18 oracle rebuilds
    the identical signatures in SQL.
    """
    expr = (
        f"transform(sequence(0, greatest(CAST(ceil(size(`{vec_col}`)"
        f" / 64.0) AS INT), 1) - 1), w ->"
        f" aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->"
        f" acc + CASE WHEN w * 64 + i < size(`{vec_col}`)"
        f" AND element_at(`{vec_col}`, CAST(w * 64 + i + 1 AS INT)) >= 0"
        f" THEN CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)"
        f" ELSE shiftleft(CAST(1 AS BIGINT), i) END"
        f" ELSE CAST(0 AS BIGINT) END))"
    )
    return df.withColumn(out_col, F.expr(expr))


def knn_binary(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """Binary-signature top-k: Hamming candidate scan over the packed
    sign bits (:func:`binarize_embeddings`), exact-cosine rerank of
    the ``rerank·k`` survivors — the recall-then-rerank shape every
    production binary-embedding store runs.

    The candidate scan touches ONLY the signature words (8 bytes per
    64 dims): queries broadcast (the x1 plan), distance is
    ``Σ bit_count(a XOR b)`` per word pair — pure integer codegen —
    and the per-query top-C rides the two-phase :func:`_topk_exact`
    (the pool is the whole corpus, the worst single-task case).  Only
    the ≤ ``|queries|·rerank·k`` candidates ever touch the fp32
    vectors again: they broadcast back onto the corpus scan for the
    exact cosine, so the expensive column is read once, late, and
    thin.  Deterministic end-to-end: Hamming ties break on id at the
    candidate boundary, the rerank reuses the 9-dp rounded cosine and
    id tie-break of every other x-path — oracle-expressible (x18).

    Returns ``(query_id, neighbor_id, hamming, cos, rank)`` with
    ``rank`` over the rerank ordering.  ``rerank`` must be ≥ 1 — a
    pure-Hamming list would silently return sign-resolution ordering;
    rank quality comes from the rerank tier.
    """
    if k <= 0 or rerank < 1:
        raise ValueError("need k > 0 and rerank >= 1")
    C = int(rerank) * int(k)
    ham = (
        "aggregate(zip_with(_cb, _qb, (x, y) -> bit_count(x ^ y)),"
        " 0, (p, q) -> p + q)"
    )
    bc = binarize_embeddings(corpus, vec_col=vec_col, out_col="_cb")
    sig_c = bc.select(F.col(id_col).alias("neighbor_id"), "_cb")
    sig_q = binarize_embeddings(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col)
        ),
        vec_col=vec_col, out_col="_qb",
    ).select("query_id", "_qb")
    cand = _topk_exact(
        sig_c.join(
            F.broadcast(sig_q),
            F.col("query_id") != F.col("neighbor_id"),
        ).withColumn("hamming", F.expr(ham)),
        C,
        [F.col("hamming").asc(), F.col("neighbor_id")],
        rank_col="_rk",
    ).select("query_id", "neighbor_id", "hamming")
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    rescored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cos", "rank")
    )


def knn_query_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int = 4,
    where=None,
) -> DataFrame:
    """Approximate top-k against a PERSISTED :func:`build_ivf_index`
    store: the query batch expands to its ``nprobe`` cells and the
    broadcast equi-join on the store's partition column restricts the
    ``cells/`` scan to exactly the probed directories (dynamic
    partition pruning) — per-batch cost scales with ``nprobe/nlist``
    of the store, and the corpus-side assignment is never recomputed.
    Results are identical to :func:`knn_ivf` run fresh with the same
    ``nlist``/``nprobe`` (pinned by the x3 oracle).

    ``where`` (a Column or SQL string over the store's metadata
    columns — :func:`ivf_assign` carries every build-frame column into
    ``cells/``) makes this FILTERED vector search: the predicate
    applies BEFORE scoring and ranking, so top-k is over the vectors
    that satisfy it (PRE-filtering — post-filtering k results and
    discarding misses returns fewer than k and loses recall), and it
    lands in the parquet scan as a pushed filter on the same pruned
    directory set (predicate pushdown × partition pruning — the two
    scan reducers multiply)."""
    # self-heal BEFORE touching cells/ — a purge that crashed between
    # its two renames leaves no cells/ until recovery rolls it forward
    _recover_interrupted_purge(spark, path)
    cents = spark.read.parquet(path + "/centroids")
    cells = spark.read.parquet(path + "/cells")
    if where is not None:
        cells = cells.filter(where)
    # tombstoned ids (delete_from_ivf_index) drop BEFORE scoring, so
    # top-k is over live vectors only; the set is tiny (broadcast
    # anti-join) and absent entirely until the first delete
    tomb = read_ivf_tombstones(spark, path, id_col=id_col)
    if tomb is not None:
        cells = cells.join(F.broadcast(tomb), id_col, "left_anti")
    c_cells = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )
    return _rank_probed_cells(
        c_cells, queries, cents,
        vec_col=vec_col, query_id_col=query_id_col, k=k, nprobe=nprobe,
    )


def cell_balanced_sample(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | str = "auto",
    cap: int = 1000,
    refine: int = 0,
    seed: str = "qcts",
) -> DataFrame:
    """Diversity-preserving downsample of an embedding corpus: at most
    ``cap`` vectors per IVF cell, selected by deterministic key hash.

    Uniform hash sampling preserves the corpus DISTRIBUTION — which is
    exactly wrong when the goal is coverage: the dense head (near-dup
    boilerplate clusters, the dominant modality) keeps its dominance
    while sparse regions thin toward zero.  Capping per Voronoi cell
    keeps every region represented up to ``cap`` (the DoReMi/SemDeDup
    -era "cluster-balanced subset" shape), and the per-cell survivors
    are an unbiased hash sample of the cell, monotone in ``cap``.

    Plan: one Arrow assignment pass (zero shuffle) projects to thin
    ``(id, cell)`` rows; the cap is
    :func:`~qctimeseries_spark.datapipe.sample.cap_per_group`'s
    two-phase histogram — no per-cell ranking funnel even when one
    cell holds half the corpus (the skewed-cluster case this operator
    exists for).  Returns ``(id, centroid_id)`` survivors; join back
    to fetch vectors.
    """
    from qctimeseries_spark.datapipe.sample import cap_per_group

    cents = take_centroids(
        corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, refine=refine
    )
    assigned = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    ).select(id_col, "centroid_id")
    # materialize the THIN (id, cell) projection once: cap_per_group's
    # two-phase histogram reads its input up to three times (histogram
    # + pre-cutoff filter + boundary ranking), which re-ran the Arrow
    # assignment pass over the full corpus each time (4 duplicated
    # ArrowEvalPython subtrees in the r13 plan audit).  ~12 bytes/row
    # of executor-local blocks buys corpus-scan × 2 back at any scale.
    assigned = assigned.localCheckpoint(eager=True)
    return cap_per_group(assigned, "centroid_id", id_col, cap, seed=seed)


def radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    threshold: float = 0.8,
    strategy: str = "brute",
    nlist: int | str = "auto",
    nprobe: int | str = 4,
    refine: int = 0,
) -> DataFrame:
    """All corpus vectors with cosine ≥ ``threshold`` per query — the
    range-query twin of top-k search ("everything at least this
    similar", the primitive behind dup-candidate pulls and
    retrieval-with-a-score-floor).

    Unlike top-k there is NO per-query ranking window anywhere: the
    result is a pure filter over the scored pairs, so the plan has no
    single-task funnel at any query fan-in — survivors stream straight
    out of the scan-side join.

    ``strategy="brute"`` broadcasts the query batch over the corpus
    scan (exact; right whenever |queries| × |corpus| work fits the
    cluster).  ``strategy="ivf"`` restricts scoring to each query's
    ``nprobe`` probed cells — ~nprobe/nlist of the corpus scanned, the
    same recall/cost dial as :func:`knn_ivf`, and with the default
    seeded centroids the whole thing stays deterministic (the x4 query
    keeps a full DuckDB oracle).  Scores are 9-dp-rounded exactly like
    the knn paths so thresholding is reproducible across engines.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    thr = F.lit(float(threshold))
    if strategy == "brute":
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        return (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 9))
            .filter(F.col("cos") >= thr)
            .select("query_id", "neighbor_id", "cos")
        )
    if strategy != "ivf":
        raise ValueError(f"unknown strategy {strategy!r}")
    if nlist == "auto":
        nlist = auto_nlist(corpus, id_col=id_col)
    if nprobe == "auto":
        nprobe = tune_nprobe(
            corpus, id_col=id_col, vec_col=vec_col, nlist=nlist,
            refine=refine,
        )["nprobe"]
    cents = take_centroids(
        corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, refine=refine
    )
    c_cells = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    q_cells = ivf_assign(
        q.select("query_id", F.col("qv").alias(vec_col)),
        cents,
        id_col="query_id",
        vec_col=vec_col,
        nprobe=nprobe,
    ).select("query_id", F.col(vec_col).alias("qv"), "centroid_id")
    return (
        c_cells.join(F.broadcast(q_cells), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 9))
        .filter(F.col("cos") >= thr)
        # a pair can meet in several probed cells
        .select("query_id", "neighbor_id", "cos")
        .distinct()
    )


def tune_nprobe(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_recall: float = 0.98,
    k: int = 10,
    nlist: int | str = "auto",
    n_queries: int = 50,
    refine: int = 0,
) -> dict:
    """Recall-targeted probe selection for the IVF index: measure
    recall@``k`` on a deterministic held-out query sample at doubling
    ``nprobe`` values and return the smallest one whose MEASURED recall
    reaches the target — the d8 lesson institutionalized (a fixed
    nprobe=1 silently missed 6/200 planted re-encodes at sf1; recall is
    parameter-sensitive and must be measured, not assumed).

    The sample is the ``n_queries`` lowest ``xxhash64(id)`` vectors —
    a pure hash function of the ids, so the tuning run is reproducible.
    Ground truth is exact brute force on the SAMPLE only (n_queries ×
    corpus, the bounded evaluation cost — never corpus²); each
    candidate ``nprobe`` pays one IVF query join over the sample.  At
    100 TB, tune on a sampled slice of the store and reuse the chosen
    value for the full run.

    Returns ``{"nprobe", "recall", "target", "evaluated"}`` where
    ``evaluated`` maps each tried nprobe to its measured mean recall;
    the chosen value is also logged via ``warnings.warn`` so batch jobs
    record it.  If even ``nprobe=nlist`` (exhaustive probing) misses
    the target — possible when rounded-cosine ties at the k-th rank
    resolve differently — the exhaustive value is returned with its
    measured recall.
    """
    import warnings

    if nlist == "auto":
        nlist = auto_nlist(corpus, id_col=id_col)
    sample = (
        corpus.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .persist()
    )
    exact = knn_bruteforce(
        corpus, sample, id_col=id_col, vec_col=vec_col,
        query_id_col="query_id", k=k,
    ).persist()
    evaluated: dict[int, float] = {}
    chosen, chosen_recall = nlist, 0.0
    p = 1
    while True:
        p = min(p, nlist)
        approx = knn_ivf(
            corpus, sample, id_col=id_col, vec_col=vec_col,
            query_id_col="query_id", k=k, nlist=nlist, nprobe=p,
            refine=refine,
        )
        r = (
            recall_at_k(exact, approx)
            .agg(F.avg("recall").alias("r"))
            .collect()[0]["r"]
        )
        evaluated[p] = round(float(r or 0.0), 6)
        chosen, chosen_recall = p, evaluated[p]
        if chosen_recall >= target_recall or p >= nlist:
            break
        p *= 2
    sample.unpersist()
    exact.unpersist()
    warnings.warn(
        f"tune_nprobe: chose nprobe={chosen} at nlist={nlist} (measured"
        f" recall@{k} {chosen_recall} vs target {target_recall};"
        f" evaluated {evaluated})",
        stacklevel=2,
    )
    return {
        "nprobe": chosen,
        "nlist": nlist,
        "recall": chosen_recall,
        "target": target_recall,
        "evaluated": evaluated,
    }


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate kNN result against the exact
    one: ``|approx ∩ exact| / |exact|`` over the neighbor sets.

    The evaluation an IVF/LSH index needs before its ``nprobe``/banding
    knobs can be trusted at scale.  Fully distributed — an equi-join on
    (query, neighbor) plus two thin groupBys; never collects, so it
    runs over millions of held-out queries as easily as five.  Corpus
    recall = ``result.agg(F.avg("recall"))``.
    """
    # materialize the thin (query, neighbor) id pairs ONCE: both legs
    # feed two plan branches each (`totals` + the hit join read `e`;
    # only exchanges dedupe under plan reuse, so unmaterialized, the
    # ENTIRE exact pipeline — for x15 a full brute-force corpus scan,
    # score and two-phase top-k — re-ran per branch (r13 plan dump
    # showed the brute subtree twice).  k rows per query, always thin;
    # localCheckpoint blocks free with the handle (guide §5/§1.2).
    e = exact.select(query_col, neighbor_col).localCheckpoint(eager=False)
    a = approx.select(query_col, neighbor_col)  # single consumer
    totals = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = (
        e.join(a, [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("_n_hit"))
    )
    return totals.join(hits, query_col, "left").select(
        query_col,
        F.round(
            F.coalesce(F.col("_n_hit"), F.lit(0)).cast("double")
            / F.col("_n_exact"),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# product quantization (x7)
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subspace ``j``'s codewords are the
    ``j``-th subvectors of the ``ksub`` lowest-id UNIT vectors.

    The :func:`take_centroids` convention carried to product
    quantization — a reproducible seed construction (one bounded
    ``limit(ksub)`` collect) whose float values come out of the SAME
    left-fold normalization the engines replay bit-for-bit, which is
    what lets the x7 oracle rebuild the codebooks in SQL and pin the
    whole PQ pipeline by hash.  Lloyd-refined codebooks (classic PQ
    training) would tighten cells on clustered data at the cost of
    runtime-dependent last bits — the x2/x3 ``refine`` trade-off,
    deliberately not taken on the oracle path.

    Returns ``books[j][c]`` = list of ``d/m`` Python floats.
    """
    from qctimeseries_spark.datapipe.dedup import unit_vector

    rows = (
        corpus.orderBy(id_col)
        .limit(ksub)
        .select(unit_vector(F.col(vec_col)).alias("u"))
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    d = len(rows[0]["u"])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        [list(r["u"][j * dsub : (j + 1) * dsub]) for r in rows]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    packed_col: str | None = "pq_packed",
) -> DataFrame:
    """Encode vectors to PQ codes: ``code[j] = argmin_c ‖u_sub_j −
    codeword_jc‖²`` over the unit-normalized vector (ties → lowest
    codeword id).

    THE storage lever for a 100 TB embedding store: with m=8, ksub=16
    a 64-dim float vector (256–512 B) becomes 8 nibbles — ``packed_col``
    carries them in ONE BIGINT (4 bits × m), a 64–128× compression, and
    every downstream ADC scan reads 8 bytes/vector instead of the
    vectors themselves (x6's int8 is 4×; this is the next rung).

    Arrow batch encode (the :func:`ivf_assign` precedent): the codebook
    matrix rides to the workers inside a ``pandas_udf`` (m × ksub ×
    dsub doubles — tokenizer-sized) and each batch computes all
    row × codeword squared distances with one vectorized
    subtract-square-accumulate per dimension.  The per-dimension
    accumulate IS the left fold of the expression formulation (squared
    terms are never −0.0, so the 0.0 seed is bitwise-exact), the
    normalization replays :func:`~qctimeseries_spark.datapipe.dedup.
    unit_vector`'s Σx² order, and ``argmin``'s first-minimum rule IS
    the "min dist, tie → lowest c" struct order — so codes are
    bit-identical to the DuckDB oracle's SQL replay.  An unrolled
    literal-chain Catalyst projection computes the same thing with
    zero Python, but its m·ksub·dsub-term tree (~5k nodes) overflows
    whole-stage codegen into interpreted eval and costs seconds of
    plan compile PER ACTION (measured: the x7/x8 queries spent 13/33 s
    at sf0.1 on 2000 rows, almost all of it re-analyzing the tree) —
    the Arrow form keeps the plan kilobyte-sized.  Zero shuffle.
    """
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    CB = np.array(codebooks, dtype=np.float64)  # (m, ksub, dsub)

    @F.pandas_udf("array<int>")
    def _codes(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        mask = vs.notna().to_numpy()
        out: list = [None] * len(vs)
        if mask.any():
            A = np.stack(
                [np.asarray(x, dtype=np.float64) for x, ok in zip(vs, mask) if ok]
            )
            na = np.zeros(len(A))
            for d in range(m * dsub):  # left-fold Σx², matching unit_vector
                na += A[:, d] * A[:, d]
            U = A / np.sqrt(na)[:, None]
            codes = np.empty((len(A), m), dtype=np.int32)
            for j in range(m):
                dist = np.zeros((len(A), ksub))
                for i in range(dsub):
                    t = U[:, j * dsub + i, None] - CB[j, :, i][None, :]
                    dist += t * t
                codes[:, j] = np.argmin(dist, axis=1)
            it = iter(codes)
            for p, ok in enumerate(mask):
                if ok:
                    out[p] = next(it)
        return pd.Series(out)

    out = df.withColumn(code_col, _codes(F.col(vec_col)))
    if packed_col is not None:
        packed = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, j: acc
            + F.element_at(F.col(code_col), j + 1).cast("bigint")
            * F.pow(F.lit(float(ksub)), j.cast("double")).cast("bigint"),
        )
        out = out.withColumn(packed_col, packed)
    return out


def _pq_lut(books) -> "F.pandas_udf":
    """Arrow ADC lookup-table builder: for a unit-normalized query
    ``u``, ``lut[j·ksub + c] = Σ_i u[j·dsub + i] · books[j][c][i]`` —
    the per-subspace partial dots every (query, code) ADC score folds
    over.  Vectorized per dimension with the same left-fold order as
    the expression form (±0.0 seed wobble cannot reach the output: the
    ADC score only orders candidates, and the rank windows tie-break
    on ids).  Query-batch-sized work on the broadcast side — the big
    (codes) side of the scoring join stays pure JVM codegen.
    """
    CB = np.array(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = CB.shape

    @F.pandas_udf("array<double>")
    def _lut(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        A = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        na = np.zeros(len(A))
        for d in range(m * dsub):  # left-fold Σx², matching unit_vector
            na += A[:, d] * A[:, d]
        U = A / np.sqrt(na)[:, None]
        L = np.zeros((len(A), m * ksub))
        for j in range(m):
            for i in range(dsub):
                L[:, j * ksub : (j + 1) * ksub] += (
                    U[:, j * dsub + i, None] * CB[j, :, i][None, :]
                )
        return pd.Series(list(L))

    return _lut


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    candidates: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantized top-k search: ADC candidate generation over
    8-byte codes, exact re-rank of the survivors.

    The scan that touches the 100 TB side reads ONLY the PQ codes
    (m × log2(ksub) bits/vector — 64–128× less IO than raw vectors;
    x6's int8 store is 4×): each query precomputes a lookup table of
    per-subspace partial dots (m·ksub doubles, one Arrow pass over the
    query batch — :func:`_pq_lut`), the asymmetric-distance
    score is an m-term fold of LUT lookups per (query, code) pair, and
    a per-query window keeps the top ``candidates`` (default
    ``max(5k, 50)``).  Only those Q×C survivors join back (broadcast —
    candidate-sized) to the raw vectors for the exact cosine re-rank,
    so full vectors are read for ~C rows per query, never corpus-wide.

    Approximation lives ONLY in candidate selection (scores in the
    output are exact cosines, rounded/tie-broken exactly like
    :func:`knn_bruteforce`); raise ``candidates`` toward the corpus
    size and the result converges to the brute answer (recall vs brute
    pinned by pytest).  Every float path — unit fold, LUT dots, ADC
    fold, cosine — is left-to-right and literal-driven, so the x7
    oracle replays codebook training, encoding, scoring, candidate
    cut, and re-rank bit-for-bit in SQL.
    """
    books = codebooks or train_pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
    )
    m = len(books)
    ksub = len(books[0])
    C = candidates if candidates is not None else max(5 * k, 50)

    codes = pq_encode(
        corpus, books, vec_col=vec_col, code_col="_pq", packed_col=None
    ).select(F.col(id_col).alias("neighbor_id"), "_pq")

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _pq_lut(books)(F.col(vec_col)).alias("_lut"),
    )
    ascore = F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.col("_lut"),
                j * ksub + F.element_at(F.col("_pq"), j + 1) + 1,
            ),
        ),
        9,
    )
    # two-phase top-C: the ADC pool here is the whole code table per
    # query — the exact funnel _topk_exact exists for
    cand = _topk_exact(
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("ascore", ascore),
        C,
        [F.col("ascore").desc(), F.col("neighbor_id")],
        rank_col="_rk",
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    rescored = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def build_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | str = "auto",
    m: int = 8,
    ksub: int = 16,
    refine: int = 0,
    cell_files: int = 4,
) -> dict:
    """Build and persist an IVF-PQ index — the layout a 100 TB ANN
    deployment actually runs: IVF cells bound the scan to
    ~nprobe/nlist of the store (dynamic partition pruning, the x3
    mechanism) and PQ codes bound the BYTES of that scan (the serve
    path's candidate stage reads the 8-byte ``pq_packed`` column, not
    the vectors — the x7 mechanism).  The two compressions multiply:
    at nlist=4096 / nprobe=4 / m=8 a candidate scan touches ~0.1% of
    the store's directories at ~1/64 of the bytes per row.

    Layout under ``path``: ``centroids/`` and salted
    centroid-partitioned ``cells/`` exactly as :func:`build_ivf_index`
    (cells additionally carry ``pq_packed``), plus ``pqbooks/`` —
    ``(j, c, cw)`` codeword rows (m × ksub, tokenizer-sized).
    ``ksub`` must be a power of two (codes pack into ``log2(ksub)``-bit
    fields; unpacking at serve time is a shift+mask).  ``refine=0``
    keeps both centroid and codebook constructions deterministic — the
    x8 oracle replays the full build in SQL.
    """
    if cell_files < 1:
        raise ValueError(f"cell_files must be >= 1, got {cell_files}")
    if ksub & (ksub - 1) != 0:
        raise ValueError(f"ksub must be a power of two, got {ksub}")
    spark = corpus.sparkSession
    cents = take_centroids(
        corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, refine=refine
    )
    cents.write.mode("overwrite").parquet(path + "/centroids")
    # re-read the nlist-row store (the build_ivf_index treatment): the
    # assign collect and the count below would otherwise re-run the
    # corpus TakeOrdered lineage twice more
    cents = spark.read.parquet(path + "/centroids")
    books = train_pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
    )
    spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(m) for c in range(ksub)],
        "j int, c int, cw array<double>",
    ).write.mode("overwrite").parquet(path + "/pqbooks")
    n_cells = cents.count()
    assigned = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    )
    # The salted cell shuffle sits BETWEEN the two Arrow passes
    # (assignment, PQ encode) on purpose: two pandas UDFs chained in
    # one stage measured ~12× slower than the same work in separate
    # stages (the d8/st14 sf1 find) — here the shuffle the write needs
    # anyway is the stage cut, so the second pass costs nothing extra.
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(cell_files)))
    shuffled = (
        assigned.withColumn("_cell_salt", salt)
        .repartition(
            n_cells * int(cell_files),
            F.col("centroid_id"), F.col("_cell_salt"),
        )
        .drop("_cell_salt")
    )
    (
        pq_encode(
            shuffled, books, vec_col=vec_col, code_col="_pq",
            packed_col="pq_packed",
        )
        .drop("_pq")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path + "/cells")
    )
    # 1:1 at nprobe=1 — a thin corpus count, not a pipeline re-run.
    return {
        "nlist": n_cells,
        "n_vectors": corpus.count(),
        "m": m,
        "ksub": ksub,
    }


def knn_query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int = 4,
    candidates: int | None = None,
) -> DataFrame:
    """Serve top-k from a persisted :func:`build_pq_index` store.

    Three bounded stages: (1) the query batch expands to its
    ``nprobe`` cells and the broadcast join on the partition column
    prunes the ``cells/`` scan to those directories, reading ONLY
    ``(id, pq_packed)`` — the scan that touches the big store moves
    ~9 bytes/row; (2) the ADC score is an unrolled m-term chain of
    LUT lookups with a shift+mask unpack per subspace (pure codegen),
    cut to the top ``candidates`` per query; (3) only those Q×C
    survivors read their raw vectors (a second pruned scan of the
    probed partitions, joined on the broadcast candidate set) for the
    exact-cosine re-rank, ranked exactly like :func:`knn_bruteforce`.
    Every stage is deterministic, so the x8 oracle replays build +
    serve end-to-end (the packed column never reaches the oracle —
    pack/unpack round-trip equivalence is what the hash transits).
    """
    # self-heal BEFORE touching cells/ (see knn_query_index)
    _recover_interrupted_purge(spark, path)
    cents = spark.read.parquet(path + "/centroids")
    brows = spark.read.parquet(path + "/pqbooks").collect()
    m = 1 + max(r["j"] for r in brows)
    ksub = 1 + max(r["c"] for r in brows)
    shift = ksub.bit_length() - 1
    books = [[None] * ksub for _ in range(m)]
    for r in brows:
        books[r["j"]][r["c"]] = list(r["cw"])
    C = candidates if candidates is not None else max(5 * k, 50)

    q_cells = ivf_assign(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        cents,
        id_col="query_id",
        vec_col=vec_col,
        nprobe=nprobe,
        # deterministic: DPP on the partitioned cells/ store (see
        # ivf_assign)
        dedup_eval=False,
    ).select("query_id", "centroid_id")

    q_lut = queries.select(
        F.col(query_id_col).alias("query_id"),
        _pq_lut(books)(F.col(vec_col)).alias("_lut"),
    )
    codes = spark.read.parquet(path + "/cells").select(
        F.col(id_col).alias("neighbor_id"),
        "pq_packed",
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )
    # unrolled ADC chain: left-to-right adds, shift+mask code unpack
    ascore = None
    for j in range(m):
        code_j = F.shiftright(F.col("pq_packed"), j * shift).bitwiseAND(
            F.lit(ksub - 1)
        )
        t = F.element_at(F.col("_lut"), (code_j + F.lit(j * ksub + 1)).cast("int"))
        ascore = t if ascore is None else ascore + t
    # two-phase top-C: a hot probed cell otherwise funnels its whole
    # code list into one window task (see _topk_exact)
    cand = _topk_exact(
        codes.join(F.broadcast(q_cells), "centroid_id")
        .join(F.broadcast(q_lut), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("ascore", F.round(ascore, 9)),
        C,
        [F.col("ascore").desc(), F.col("neighbor_id")],
        rank_col="_rk",
    ).select("query_id", "neighbor_id", "centroid_id")
    vecs = spark.read.parquet(path + "/cells").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    rescored = (
        vecs.join(F.broadcast(cand), ["centroid_id", "neighbor_id"])
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def train_residual_codebooks(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> list[list[list[float]]]:
    """Deterministic RESIDUAL codebooks for IVFADC: subspace ``j``'s
    codewords are the ``j``-th subvectors of the ``ksub`` lowest-id
    vectors' RESIDUALS ``r = û − ĉ`` (unit vector minus the unit
    vector of its assigned centroid) — the
    :func:`train_pq_codebooks` seed convention moved to residual
    space.  Residuals are what classic IVFADC (Jégou et al., PAMI'11)
    quantizes: after the coarse quantizer explains the cell, the
    codebook covers the within-cell displacement — a big win when
    cells are real clusters (tight cells ⇒ small residuals); on
    near-uniform data the displacement is NOT small and raw-space
    codes can reconstruct tighter (measured honestly on the synthetic
    corpus in test_ivfpq_residual_serve_and_tighter_reconstruction —
    the residual still strictly improves on the centroid alone).
    Assignment replays
    :func:`ivf_assign` (9-dp-rounded cosine, tie → lowest centroid
    id) and every float op is the engines' shared left fold, so the
    x19 oracle rebuilds these books in SQL.
    """
    rows = (
        ivf_assign(
            corpus.orderBy(id_col).limit(ksub),
            centroids, id_col=id_col, vec_col=vec_col, nprobe=1,
        )
        .orderBy(id_col)
        .select(vec_col, "centroid_id")
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    crows = sorted(
        centroids.select("centroid_id", vec_col).collect(),
        key=lambda r: r["centroid_id"],
    )
    cid_pos = {r["centroid_id"]: i for i, r in enumerate(crows)}
    CM = np.array([list(r[vec_col]) for r in crows], dtype=np.float64)
    d = CM.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    nc = np.zeros(len(CM))
    for i in range(d):  # left-fold Σx², matching unit_vector
        nc += CM[:, i] * CM[:, i]
    UC = CM / np.sqrt(nc)[:, None]
    A = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    na = np.zeros(len(A))
    for i in range(d):
        na += A[:, i] * A[:, i]
    U = A / np.sqrt(na)[:, None]
    R = U - UC[[cid_pos[r["centroid_id"]] for r in rows]]
    dsub = d // m
    return [
        [[float(x) for x in R[c, j * dsub : (j + 1) * dsub]]
         for c in range(len(R))]
        for j in range(m)
    ]


def _pq_encode_residual(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    unit_cents: "np.ndarray",
    cid_index: dict,
    *,
    vec_col: str,
    cent_col: str = "centroid_id",
    packed_col: str = "pq_packed",
) -> DataFrame:
    """Residual twin of :func:`pq_encode`: codes quantize ``û − ĉ``
    (the row's unit vector minus its assigned cell's unit centroid)
    instead of ``û``.  Same Arrow batch shape, same per-dimension
    subtract-square-accumulate left fold, same first-minimum argmin
    (tie → lowest codeword id); the packed BIGINT layout is
    bit-compatible with the x7/x8 store so the serve-side shift+mask
    unpack is shared."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    CB = np.array(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    UC = unit_cents
    POS = dict(cid_index)

    @F.pandas_udf("bigint")
    def _packed(vs: pd.Series, cids: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int64")
        A = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        na = np.zeros(len(A))
        for i in range(m * dsub):  # left-fold Σx², matching unit_vector
            na += A[:, i] * A[:, i]
        U = A / np.sqrt(na)[:, None]
        R = U - UC[[POS[int(c)] for c in cids]]
        packed = np.zeros(len(A), dtype=np.int64)
        shift = ksub.bit_length() - 1
        for j in range(m):
            dist = np.zeros((len(A), ksub))
            for i in range(dsub):
                t = R[:, j * dsub + i, None] - CB[j, :, i][None, :]
                dist += t * t
            packed |= np.argmin(dist, axis=1).astype(np.int64) << (j * shift)
        return pd.Series(packed)

    return df.withColumn(packed_col, _packed(F.col(vec_col), F.col(cent_col)))


def build_ivfpq_residual_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | str = "auto",
    m: int = 8,
    ksub: int = 16,
    cell_files: int = 4,
) -> dict:
    """Build and persist a RESIDUAL IVF-PQ index — the canonical
    IVFADC layout (FAISS ``IVFx,PQy``'s default): the coarse
    quantizer's unit centroid explains each vector's cell, and the PQ
    codes quantize only the within-cell residual ``û − ĉ`` — the
    layout clustered production corpora run (tight cells ⇒ small
    residuals ⇒ tighter codes; see
    :func:`train_residual_codebooks` for the honestly-measured
    uniform-data caveat).  Same store discipline as :func:`build_pq_index`
    (``centroids/`` + salted ``cells/`` carrying ``pq_packed`` +
    ``rbooks/``), same deterministic seed constructions throughout, so
    the x19 oracle replays build AND serve in SQL.
    """
    if cell_files < 1:
        raise ValueError(f"cell_files must be >= 1, got {cell_files}")
    if ksub & (ksub - 1) != 0:
        raise ValueError(f"ksub must be a power of two, got {ksub}")
    spark = corpus.sparkSession
    cents = take_centroids(
        corpus, id_col=id_col, vec_col=vec_col, nlist=nlist, refine=0
    )
    cents.write.mode("overwrite").parquet(path + "/centroids")
    # re-read the nlist-row store (the build_ivf_index treatment): the
    # codebook trainer, the crows collect and the assign collect would
    # otherwise each re-run the corpus TakeOrdered lineage
    cents = spark.read.parquet(path + "/centroids")
    books = train_residual_codebooks(
        corpus, cents, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
    )
    spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(m) for c in range(ksub)],
        "j int, c int, cw array<double>",
    ).write.mode("overwrite").parquet(path + "/rbooks")
    crows = sorted(
        cents.select("centroid_id", vec_col).collect(),
        key=lambda r: r["centroid_id"],
    )
    CM = np.array([list(r[vec_col]) for r in crows], dtype=np.float64)
    nc = np.zeros(len(CM))
    for i in range(CM.shape[1]):
        nc += CM[:, i] * CM[:, i]
    UC = CM / np.sqrt(nc)[:, None]
    cid_index = {r["centroid_id"]: i for i, r in enumerate(crows)}
    n_cells = len(crows)
    assigned = ivf_assign(
        corpus, cents, id_col=id_col, vec_col=vec_col, nprobe=1
    )
    # stage cut between the two Arrow passes (the build_pq_index find)
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(cell_files)))
    shuffled = (
        assigned.withColumn("_cell_salt", salt)
        .repartition(
            n_cells * int(cell_files),
            F.col("centroid_id"), F.col("_cell_salt"),
        )
        .drop("_cell_salt")
    )
    (
        _pq_encode_residual(
            shuffled, books, UC, cid_index,
            vec_col=vec_col, packed_col="pq_packed",
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path + "/cells")
    )
    return {
        "nlist": n_cells,
        "n_vectors": corpus.count(),
        "m": m,
        "ksub": ksub,
    }


def _cent_dots(unit_cents: "np.ndarray") -> "F.pandas_udf":
    """Arrow builder for the IVFADC score's coarse term: for a query
    vector, ``cd[p] = Σ_i û[i] · ĉ_p[i]`` over every unit centroid
    (position = centroid order by id) — the dot the residual LUT terms
    add onto.  Same left-fold discipline as :func:`_pq_lut`."""
    UC = unit_cents
    n, d = UC.shape

    @F.pandas_udf("array<double>")
    def _cd(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        A = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        na = np.zeros(len(A))
        D = np.zeros((len(A), n))
        for i in range(d):  # left fold, matching cosine()
            na += A[:, i] * A[:, i]
            D += A[:, i : i + 1] * UC[:, i]
        D /= np.sqrt(na)[:, None]
        return pd.Series(list(D))

    return _cd


def knn_query_ivfpq_residual(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int = 4,
    candidates: int | None = None,
) -> DataFrame:
    """Serve top-k from a :func:`build_ivfpq_residual_index` store —
    IVFADC's asymmetric distance: ``score(q, x) ≈ û_q·ĉ_cell +
    Σ_j û_q[sub j]·codeword_j`` (the reconstruction ``ĉ + r̂`` dotted
    with the query, split into one per-(query, cell) coarse dot and
    the standard residual-LUT chain).  Plan shape matches
    :func:`knn_query_pq_index` — DPP-pruned 9-byte candidate scan,
    two-phase top-C, exact-cosine re-rank of the survivors — with ONE
    extra broadcast column (the query's nlist coarse dots,
    element_at-indexed by the row's partition id, so the big side
    stays pure codegen)."""
    _recover_interrupted_purge(spark, path)
    cents = spark.read.parquet(path + "/centroids")
    brows = spark.read.parquet(path + "/rbooks").collect()
    m = 1 + max(r["j"] for r in brows)
    ksub = 1 + max(r["c"] for r in brows)
    shift = ksub.bit_length() - 1
    books = [[None] * ksub for _ in range(m)]
    for r in brows:
        books[r["j"]][r["c"]] = list(r["cw"])
    crows = sorted(
        cents.select("centroid_id", vec_col).collect(),
        key=lambda r: r["centroid_id"],
    )
    CM = np.array([list(r[vec_col]) for r in crows], dtype=np.float64)
    nc = np.zeros(len(CM))
    for i in range(CM.shape[1]):
        nc += CM[:, i] * CM[:, i]
    UC = CM / np.sqrt(nc)[:, None]
    # centroid ids are the 1-based take_centroids row numbers, so the
    # coarse-dot array indexes directly by centroid_id
    assert [r["centroid_id"] for r in crows] == list(range(1, len(crows) + 1))
    C = candidates if candidates is not None else max(5 * k, 50)

    q_cells = ivf_assign(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        cents, id_col="query_id", vec_col=vec_col, nprobe=nprobe,
        # deterministic: DPP on the partitioned cells/ store (see
        # ivf_assign)
        dedup_eval=False,
    ).select("query_id", "centroid_id")
    q_side = queries.select(
        F.col(query_id_col).alias("query_id"),
        _pq_lut(books)(F.col(vec_col)).alias("_lut"),
        _cent_dots(UC)(F.col(vec_col)).alias("_cd"),
    )
    codes = spark.read.parquet(path + "/cells").select(
        F.col(id_col).alias("neighbor_id"),
        "pq_packed",
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )
    # coarse dot FIRST, then the unrolled residual-LUT chain — the
    # exact left-to-right order the oracle replays
    ascore = F.element_at(F.col("_cd"), F.col("centroid_id"))
    for j in range(m):
        code_j = F.shiftright(F.col("pq_packed"), j * shift).bitwiseAND(
            F.lit(ksub - 1)
        )
        ascore = ascore + F.element_at(
            F.col("_lut"), (code_j + F.lit(j * ksub + 1)).cast("int")
        )
    cand = _topk_exact(
        codes.join(F.broadcast(q_cells), "centroid_id")
        .join(F.broadcast(q_side), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("ascore", F.round(ascore, 9)),
        C,
        [F.col("ascore").desc(), F.col("neighbor_id")],
        rank_col="_rk",
    ).select("query_id", "neighbor_id", "centroid_id")
    vecs = spark.read.parquet(path + "/cells").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    rescored = (
        vecs.join(F.broadcast(cand), ["centroid_id", "neighbor_id"])
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 9))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of ``len(rankings)`` ranked lists into
    one: ``score(d) = sum over lists of 1/(k0 + rank_list(d))``.

    The standard hybrid-retrieval combiner (sparse BM25 + dense ANN,
    or any retriever ensemble): RRF needs no score calibration across
    retrievers — only ranks — which is exactly why it is the default
    fusion in production search stacks.  ``k0=60`` is the published
    constant (Cormack et al., SIGIR'09).

    Plan shape: the inputs are top-k lists, i.e. |queries| x k rows —
    tiny relative to any corpus — so fusion is one union, one
    ``groupBy(query, doc)``, and one per-query top-k window; at 100 TB
    the expensive part is the retrievers upstream, never the fusion.
    Cross-engine exactness: each contribution is quantized to integer
    nano-units ``1e9 DIV (k0 + rank)`` BEFORE the sum (the t27
    precedent, exact here because ranks are small ints), so float
    summation order cannot move the hash; the displayed ``rrf`` score
    is the summed micro-units rescaled once.

    Returns ``(query_id, <id_col>, n_lists, rrf, rank)`` with
    ``rank`` ordered by fused score desc, id asc.
    """
    uni = None
    for r in rankings:
        t = r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col),
            F.col(rank_col).cast("bigint").alias("_rk"),
        )
        uni = t if uni is None else uni.unionByName(t)
    scored = (
        uni.withColumn(
            "_m", F.expr(f"1000000000L DIV ({int(k0)}L + _rk)")
        )
        .groupBy("query_id", id_col)
        .agg(
            F.sum("_m").alias("_sm"),
            F.count(F.lit(1)).cast("int").alias("n_lists"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("_sm").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            "n_lists",
            F.round(F.col("_sm") / F.lit(1000000000.0), 9).alias("rrf"),
            "rank",
        )
    )


def cell_stats(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | str = "auto",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-IVF-cell diagnostics: occupancy, corpus share, and the
    spread of member-to-centroid cosines.

    The index-health / corpus-diversity audit behind every IVF tuning
    decision: a cell holding half the corpus means probe cost follows
    that cell (salt it, refine centroids, or raise ``nlist``); a cell
    whose ``mean_cos`` is low is a catch-all of outliers that will
    leak recall at any ``nprobe``.  Run it on the same frame that
    feeds :func:`build_ivf_index` (or pass the index's own
    ``centroids`` to audit an existing index).

    Plan shape: :func:`ivf_assign`'s zero-shuffle Arrow argmin, a
    broadcast join of the nlist-row centroid frame to re-attach each
    winner's vector, and ONE ``groupBy(centroid_id)`` whose payload is
    four numbers per cell — the only shuffle, nlist rows wide.
    Cross-engine exactness: member cosines are 9-dp-rounded (bit-equal
    to the oracle via the shared left-fold), quantized to integer
    micro-units before the mean's sum (the t27 precedent), and the
    corpus total is one count.
    """
    if centroids is None:
        centroids = take_centroids(
            corpus, id_col=id_col, vec_col=vec_col, nlist=nlist
        )
    total = corpus.count()
    assigned = ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col, nprobe=1
    )
    joined = assigned.join(
        F.broadcast(
            centroids.select("centroid_id", F.col(vec_col).alias("_centv"))
        ),
        "centroid_id",
    )
    cos = F.round(cosine(F.col(vec_col), F.col("_centv")), 9)
    stats = (
        joined.select(
            "centroid_id",
            cos.alias("_c"),
            F.floor(cos * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("_m"),
        )
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("_m").alias("_sm"),
            F.min("_c").alias("min_cos"),
            F.max("_c").alias("max_cos"),
        )
    )
    return stats.select(
        "centroid_id",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / F.lit(float(total)), 6
        ).alias("frac"),
        F.round(
            F.col("_sm")
            / (F.col("n_vectors").cast("double") * F.lit(1000000.0)),
            6,
        ).alias("mean_cos"),
        "min_cos",
        "max_cos",
    )


def negative_sample(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 4,
    buckets: int | str = "auto",
    seed: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor row receives ``k`` pseudo-random negatives (rows with a
    DIFFERENT label), chosen by hash order so the pairing is
    reproducible across runs, engines, and partitionings — no RNG
    state, no ``rand()``.

    Never all-pairs: candidates land in ``buckets`` hash buckets and
    each anchor probes exactly ONE bucket (its own anchor-hash bucket),
    so pair fan-out is ``n²/buckets``.  ``buckets="auto"`` (default)
    sizes the bucket count from one thin count as ``max(8, n // 256)``
    — expected candidates per anchor stays ~256 NO MATTER the corpus
    size, which is what keeps the pairing linear at 100 TB (a fixed
    bucket count would make fan-out quadratic again; the oracle
    queries pin an explicit count for bit-exact reproducibility).
    Both hash families are seeded independently, so an anchor's own
    bucket membership doesn't bias which candidates it sees.  Within
    the probed bucket, negatives rank by the PAIR hash (anchor,
    candidate) — an anchor-specific shuffle of the bucket — with the
    candidate id as a total-order tiebreak.

    Returns ``(anchor_id, neg_id, neg_label, rank)``, ``rank`` 1..k in
    pair-hash order.  Anchors whose bucket holds fewer than ``k``
    differing-label candidates emit fewer rows (document the bucket
    sizing above).  One equi-join shuffle on the bucket id + one
    per-anchor window over ~n/buckets rows.

    NOTE: ``buckets="auto"`` runs an eager ``count()`` ACTION at
    plan-build time (one thin scan of ``id_col``).  If ``df`` is
    non-deterministic (e.g. carries a ``rand()`` column or an
    uncheckpointed sample), cache or checkpoint it first so the count
    that sizes the buckets and the frame that is later joined are the
    same evaluation.
    """
    from qctimeseries_spark.datapipe.hashing import hash60

    if isinstance(buckets, str):
        if buckets != "auto":  # r8 advisor: any other string used to
            # fall through to `buckets <= 0` and die as an opaque
            # str-vs-int TypeError
            raise ValueError(
                f"buckets must be a positive int or the literal "
                f"'auto', got {buckets!r}"
            )
        buckets = max(8, df.select(id_col).count() // 256)
    if k <= 0 or buckets <= 0:
        raise ValueError("k and buckets must be positive")
    sid = F.col(id_col).cast("string")
    anchors = df.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_albl"),
        (hash60(F.concat(F.lit(f"{seed}:a:"), sid)) % buckets).alias(
            "_b"
        ),
    )
    cands = df.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        (hash60(F.concat(F.lit(f"{seed}:c:"), sid)) % buckets).alias(
            "_b"
        ),
    )
    pairs = anchors.join(cands, "_b").filter(
        (F.col("anchor_id") != F.col("neg_id"))
        & ~F.col("_albl").eqNullSafe(F.col("neg_label"))
    )
    ph = hash60(
        F.concat(
            F.lit(f"{seed}:p:"),
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        ph.asc(), F.col("neg_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "neg_label", "rank")
    )


def kmeans_exact(
    corpus: DataFrame,
    *,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means with EXACT, engine-reproducible arithmetic —
    the oracle-checkable twin of ``take_centroids(refine=N)`` (whose
    float-mean summation order makes refined centroids
    runtime-dependent in the last bits; see its docstring).  Used
    where the cluster model itself is the deliverable (corpus
    structure reports, balanced-sample strata, IVF layout studies)
    rather than an internal index artifact.

    Exactness per Lloyd iteration: (1) assignment is
    :func:`ivf_assign`'s per-dimension left-fold cosine (bit-equal to
    the DuckDB mirror, ties on the 9-dp cosine break by centroid id);
    (2) each cell's element-wise mean quantizes members to integer
    MICRO-units (``floor(x·1e6 + 0.5)``) BEFORE the sum, so the sum is
    an exact BIGINT under any aggregation order, and the mean is one
    double division; (3) renormalization folds ``Σ mean²`` over the
    array in dimension order (a fixed-order fold both engines repeat
    verbatim).  An emptied cell keeps its previous centroid.

    Scale shape per iteration: the assignment is zero-shuffle (Arrow
    batch × nlist multiply-add); the mean is ONE aggregation whose
    post-combine payload is ``nlist × dim`` rows regardless of corpus
    size; centroids broadcast back.  The driver holds only the
    ``nlist × dim`` centroid matrix between iterations.

    Returns ``(centroid_id, n_members, centroid)`` — final-assignment
    cell sizes and the refined unit centroids.
    """
    if nlist <= 0 or iters < 0:
        raise ValueError("nlist must be positive and iters >= 0")
    # seeds normalized to the unit sphere up front (cosine assignment
    # is scale-invariant, so this changes nothing downstream — it just
    # keeps the "centroids are unit vectors" invariant true even for
    # a cell that empties and keeps its seed)
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    seed_norm = F.sqrt(
        F.aggregate(
            F.transform(dv, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cents = (
        corpus.orderBy(id_col)
        .limit(nlist)
        .select(
            F.row_number()
            .over(Window.orderBy(id_col))
            .cast("int")
            .alias("centroid_id"),
            F.transform(dv, lambda x: x / seed_norm).alias("centv"),
        )
    )
    vecs = corpus.select(id_col, vec_col)

    def _assign(c: DataFrame) -> DataFrame:
        return ivf_assign(
            vecs,
            c.select("centroid_id", F.col("centv").alias(vec_col)),
            id_col=id_col,
            vec_col=vec_col,
            nprobe=1,
        )

    for _ in range(iters):
        dims = _assign(cents).select(
            "centroid_id",
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        ).select(
            "centroid_id",
            "pos",
            F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("q"),
        )
        means = (
            dims.groupBy("centroid_id", "pos")
            .agg(
                F.sum("q").cast("bigint").alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
            .select(
                "centroid_id",
                "pos",
                (
                    F.col("s")
                    / (F.col("n").cast("double") * F.lit(1000000.0))
                ).alias("m"),
            )
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("_mean"),
            )
        )
        norm = F.sqrt(
            F.aggregate(
                F.transform(F.col("_mean"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        moved = means.select(
            "centroid_id",
            F.transform(F.col("_mean"), lambda x: x / norm).alias(
                "_new"
            ),
        )
        cents = (
            cents.join(F.broadcast(moved), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("_new"), F.col("centv")).alias(
                    "centv"
                ),
            )
            # cut lineage per iteration (the temperature_weights
            # lesson from this same round): `cents` is nlist rows, but
            # WITHOUT the cut each later action re-runs every prior
            # iteration's corpus-wide assignment through lineage —
            # O(iters²) corpus scans; with it, one scan per iteration
            .localCheckpoint(eager=True)
        )
    sizes = _assign(cents).groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        cents.join(F.broadcast(sizes), "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce(F.col("n_members"), F.lit(0).cast("bigint"))
            .alias("n_members"),
            F.col("centv").alias("centroid"),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    *,
    k: int = 5,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    score_col: str = "cos",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance rerank: from each query's candidate
    list, greedily select ``k`` results trading relevance against
    redundancy — step j picks ``argmax λ·rel(i) − (1−λ)·max_{s∈selected}
    sim(i, s)`` — the standard diversified-retrieval / diverse-few-shot
    -example selection pass over an ANN candidate pool.

    Runs as one ``applyInPandas`` over query groups: the pool is
    whatever the ANN stage returned (tens of rows), so the greedy loop
    is per-group-local and the plan is one shuffle on the query id —
    the corpus is never touched again.  ``vectors`` joins each
    candidate's embedding in (broadcast-eligible when the pool is
    small).

    Engine-exact by integer algebra: relevance and pairwise cosines
    quantize to nano-units (``floor(x·1e9 + 0.5)`` BIGINTs; pairwise
    cosine is the same per-dimension left fold as
    :func:`~qctimeseries_spark.datapipe.dedup.cosine`), and with the
    default ``lam=0.5`` the selection key is the INTEGER
    ``rel_q − max_sim_q`` (monotone in the MMR score), so every
    comparison the greedy loop makes is integer-for-integer identical
    in any engine; ties break on the candidate id.  Other ``lam``
    values use the float key (production fine, documented for
    cross-engine comparisons).  Rank 1 has no selected set — its
    ``mmr_q`` is defined as ``rel_q``.

    Returns ``(query, id, rank, mmr_q)``.
    """
    if k <= 0 or not 0.0 <= lam <= 1.0:
        raise ValueError("need k > 0 and 0 <= lam <= 1")
    # output id types FOLLOW the inputs (r8 advisor: the schema was
    # hardcoded "bigint" and the ids coerced through np.int64, so a
    # store keyed by string ids crashed — or silently overflowed —
    # despite the configurable query_col/id_col API)
    q_type = candidates.schema[query_col].dataType.simpleString()
    i_type = candidates.schema[id_col].dataType.simpleString()
    joined = candidates.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_i"),
        F.col(score_col).alias("_rel"),
    ).join(
        vectors.select(
            F.col(vec_id_col).alias("_i"), F.col(vec_col).alias("_v")
        ),
        "_i",
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_i"].to_numpy()  # native dtype — ids are only
        # compared for the tie-break and echoed to the output
        rel_q = np.floor(
            pdf["_rel"].to_numpy(dtype=np.float64) * 1e9 + 0.5
        ).astype(np.int64)
        A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        n, dim = A.shape
        norms = np.zeros(n)
        dots = np.zeros((n, n))
        for d in range(dim):  # left fold, matching cosine()/the oracle
            norms += A[:, d] * A[:, d]
            dots += A[:, d : d + 1] * A[:, d]
        norms = np.sqrt(norms)
        if (norms == 0).any():
            bad = ids[norms == 0][:5].tolist()
            raise ValueError(
                f"mmr_rerank: zero-norm candidate vectors {bad} — "
                "cosine similarity is undefined for them (a floored "
                "NaN would silently corrupt the greedy ranks)"
            )
        sim_q = np.floor(
            dots / (norms[:, None] * norms[None, :]) * 1e9 + 0.5
        ).astype(np.int64)
        order = np.argsort(ids, kind="stable")
        remaining = list(order)  # id-ascending: natural tie-break
        selected: list[int] = []
        out = []
        qv = pdf["_q"].iloc[0]
        while remaining and len(selected) < k:
            best = None
            best_key = None
            for i in remaining:
                if selected:
                    ms = int(max(sim_q[i, s] for s in selected))
                    key = (
                        int(rel_q[i]) - ms
                        if lam == 0.5
                        else lam * rel_q[i] - (1 - lam) * ms
                    )
                else:
                    key = int(rel_q[i]) if lam == 0.5 else lam * rel_q[i]
                if best_key is None or key > best_key:
                    best, best_key = i, key
            selected.append(best)
            remaining.remove(best)
            bid = ids[best]
            out.append(
                (qv, bid.item() if isinstance(bid, np.generic) else bid,
                 len(selected), int(best_key)
                 if lam == 0.5 else int(np.floor(best_key + 0.5)))
            )
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "rank", "mmr_q"]
        )

    return (
        joined.groupBy("_q")
        .applyInPandas(
            _greedy,
            f"query_id {q_type}, neighbor_id {i_type}, rank int,"
            f" mmr_q bigint",
        )
    )


def delete_from_ivf_index(
    spark,
    path: str,
    ids: DataFrame,
    *,
    id_col: str = "vec_id",
) -> dict:
    """Tombstone DELETES for a persisted :func:`build_ivf_index`
    store — the third lifecycle verb after build and
    :func:`append_to_ivf_index` (GDPR erasure, retracted documents,
    re-encoded items being replaced): the ids append to a tiny
    ``tombstones/`` table and every subsequent
    :func:`knn_query_index` serve anti-joins them BEFORE scoring, so
    top-k is over the live vectors only (post-filtering k results
    would return short lists and lose recall).  The cells/ store is
    untouched — a delete costs one id-list write no matter the corpus
    size.

    Tombstones accumulate; :func:`purge_ivf_tombstones` physically
    rewrites the affected state and clears them.  Deleting an id that
    was never stored is a no-op by construction (anti-join).

    REPLACING an id is a purge-then-append sequence: delete → purge →
    append the new vector.  Re-appending a still-tombstoned id would
    leave the new row invisible (the serve-side anti-join keys on the
    id) and a later purge would destroy it —
    :func:`append_to_ivf_index` therefore REFUSES a batch that
    overlaps the live tombstone set.  Returns ``{"tombstoned": n}``.
    """
    # cast the ids to the STORE's id type, read from cells/ (r8
    # advisor: an unconditional cast("long") turned string vec ids
    # into NULLs — the serve-side anti-join then never matched and
    # the delete silently no-opped while reporting a nonzero count)
    store_type = spark.read.parquet(path + "/cells").schema[
        id_col
    ].dataType
    out = (
        # try_cast, not cast: under ANSI mode a malformed id would
        # abort the job mid-write; NULLing it lets the guard below
        # report WHICH ids don't fit the store's type
        ids.select(F.col(id_col).try_cast(store_type).alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)  # one evaluation feeds BOTH the
        # write and the count — a non-deterministic ids lineage must
        # not produce a written set that disagrees with the report
    )
    n_null = out.filter(F.col(id_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"delete_from_ivf_index: ids do not cast to the store's "
            f"{id_col} type {store_type.simpleString()} — {n_null} "
            f"cast to NULL; a NULL tombstone can never match a stored "
            f"id and the delete would silently no-op"
        )
    out.write.mode("append").parquet(path + "/tombstones")
    return {"tombstoned": out.count()}


#: how long a ``_purge_lock`` lease is honored before a reader treats
#: it as debris from a crashed purge (seconds).  The purge refreshes
#: the lock right before the commit marker, so during a live purge the
#: lock is at most one staged-write old; a crashed purge stops
#: refreshing and self-heals on the first store touch after the TTL
#: (or immediately, via the forced recovery at the next purge entry).
PURGE_LOCK_TTL_S = 3600


def _recover_interrupted_purge(
    spark, path: str, *, force: bool = False,
    lock_ttl_s: int = PURGE_LOCK_TTL_S,
) -> str | None:
    """Detect and repair a :func:`purge_ivf_tombstones` that crashed
    mid-swap (r8 advisor medium): the purge protocol writes a
    ``_purge_commit`` marker AFTER the replacement ``cells_purging/``
    is fully written and BEFORE the two renames, so every crash
    position maps to exactly one on-disk state and one deterministic
    repair — roll BACK before the marker-protected swap began losing
    nothing, roll FORWARD once the swap started (the replacement is
    complete by construction).  Called from every store entry point
    (:func:`read_ivf_tombstones`, which serves both
    :func:`knn_query_index` and :func:`append_to_ivf_index`, and the
    purge itself), so a crashed purge self-heals on the next touch —
    no manual rename needed.  Returns a short description of the
    repair performed, or None when the store was clean.

    LIVE-PURGE GUARD (r9 advisor): because every serve/append enters
    here, a reader racing a LIVE purge must not mistake its in-flight
    state for a crash — deleting the half-written ``cells_purging/``
    or racing the swap renames.  The purge therefore holds a
    ``_purge_lock`` lease (created before the staged write, refreshed
    before the commit marker, removed on every exit); while a lease
    younger than ``lock_ttl_s`` exists, recovery performs ONLY the
    roll-forward repair (marker present and ``cells/`` missing — the
    one state a reader cannot read through, and re-executing the same
    rename the purge is about to do is idempotent: the loser's rename
    fails and the purge detects the completed swap) and otherwise
    leaves the store untouched.  A lease older than the TTL is debris
    from a crash and is discarded.  ``force=True`` (the purge's own
    entry, which the single-purger contract protects) ignores and
    clears any lease."""
    jvm = spark.sparkContext._jvm
    jconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _p(sub: str):
        return jvm.org.apache.hadoop.fs.Path(path + sub)

    fs = _p("/cells").getFileSystem(jconf)
    marker, cells = _p("/_purge_commit"), _p("/cells")
    old, staged = _p("/cells__old"), _p("/cells_purging")
    tomb = _p("/tombstones")
    lock = _p("/_purge_lock")
    if fs.exists(lock):
        if force:
            fs.delete(lock, False)
        else:
            import time as _time

            try:
                age_ms = (
                    _time.time() * 1000.0
                    - fs.getFileStatus(lock).getModificationTime()
                )
            except Exception:
                # the lock vanished between exists() and stat — the
                # purge just finished; the store is (or is about to
                # be) clean, nothing to repair from here
                return "skipped (purge just completed)"
            if age_ms < lock_ttl_s * 1000.0:
                # live purge: hands off everything EXCEPT the one
                # unreadable state (mid-swap, marker present, no
                # cells/) — rolling that forward is idempotent
                if fs.exists(marker) and not fs.exists(cells) and fs.exists(staged):
                    if fs.rename(staged, cells):
                        # leave tombstones/old/marker/lock to the
                        # purge's own cleanup (it detects the
                        # completed swap)
                        return "rolled forward (live purge mid-swap)"
                return "skipped (live purge in progress)"
            fs.delete(lock, False)  # stale lease from a crashed purge
    if fs.exists(marker):
        if not fs.exists(cells) and fs.exists(staged):
            # crashed between the two renames: the replacement was
            # fully written before the marker — roll FORWARD
            if not fs.rename(staged, cells):
                raise IOError(
                    f"purge recovery: could not swap {path}/cells_purging"
                    " into place — repair by renaming it to cells/ and"
                    " deleting cells__old/, tombstones/, _purge_commit"
                )
            if fs.exists(tomb):
                fs.delete(tomb, True)
            if fs.exists(old):
                fs.delete(old, True)
            fs.delete(marker, False)
            return "rolled forward (completed interrupted swap)"
        if fs.exists(cells) and fs.exists(staged) and not fs.exists(old):
            # crashed after the marker but before the first rename:
            # the old store is untouched — roll BACK (tombstones stay
            # live; the next purge redoes the rewrite)
            fs.delete(staged, True)
            fs.delete(marker, False)
            return "rolled back (swap never started)"
        if fs.exists(cells):
            # crashed during the post-swap cleanup: finish it
            if fs.exists(tomb):
                fs.delete(tomb, True)
            if fs.exists(old):
                fs.delete(old, True)
            if fs.exists(staged):
                fs.delete(staged, True)
            fs.delete(marker, False)
            return "finished cleanup (swap had completed)"
        if fs.exists(old):
            # no cells/, no staged replacement — only the aside copy
            # survives (should be unreachable under the protocol):
            # restore it and keep the tombstones
            if not fs.rename(old, cells):
                raise IOError(
                    f"purge recovery: {path}/cells is missing and"
                    " cells__old could not be renamed back — repair by"
                    " renaming cells__old/ to cells/"
                )
            fs.delete(marker, False)
            return "restored cells__old (replacement missing)"
        raise IOError(
            f"purge recovery: {path} has a _purge_commit marker but"
            " neither cells/ nor cells__old/ — the store is gone;"
            " restore from a snapshot"
        )
    # no marker: only pre-marker debris is possible
    if fs.exists(staged):
        fs.delete(staged, True)  # incomplete replacement write
        return "dropped incomplete cells_purging/"
    if fs.exists(old):
        if not fs.exists(cells):
            if not fs.rename(old, cells):
                raise IOError(
                    f"purge recovery: {path}/cells is missing — repair"
                    " by renaming cells__old/ to cells/"
                )
            return "restored cells__old (cells/ was missing)"
        fs.delete(old, True)  # swap finished; the aside copy is dead
        return "dropped leftover cells__old/"
    return None


def read_ivf_tombstones(spark, path: str, *, id_col: str = "vec_id"):
    """The store's tombstone id set, or None when nothing was ever
    deleted (serving skips the anti-join entirely then).  Existence is
    probed through the Hadoop FS API rather than a try/read — a missing
    directory is the NORMAL case and must not spray analyzer errors
    into the logs on every serve.  Also the self-heal hook: every
    serve/append enters the store through here, so a purge that
    crashed mid-swap is repaired before any read touches ``cells/``
    (see :func:`_recover_interrupted_purge`)."""
    _recover_interrupted_purge(spark, path)
    jvm = spark.sparkContext._jvm
    jconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path + "/tombstones")
    fs = jpath.getFileSystem(jconf)
    if not fs.exists(jpath):
        return None
    return spark.read.parquet(path + "/tombstones").select(
        F.col(id_col)
    ).distinct()


def purge_ivf_tombstones(
    spark,
    path: str,
    *,
    id_col: str = "vec_id",
    cell_files: int = 4,
) -> dict:
    """Physically apply accumulated tombstones: rewrite ``cells/``
    WITHOUT the deleted ids (staged swap — the new store is fully
    written beside the old one before anything moves, the
    compact_store discipline: quiesce writers first), keep the salted
    ~``cell_files`` files per cell so no cell collapses to one file,
    then clear ``tombstones/``.  Serving results are identical before
    and after (pinned by pytest) — the purge trades a one-time rewrite
    for dropping the per-serve anti-join and the dead bytes.

    Crash safety (r8 advisor medium): a ``_purge_commit`` marker is
    written after the replacement is complete and before the swap
    begins, so every crash position is repairable —
    :func:`_recover_interrupted_purge` runs at the start of this
    function AND on every serve/append (via
    :func:`read_ivf_tombstones`), rolling an interrupted swap forward
    (marker present → the replacement is complete by construction) or
    discarding a half-written replacement (no marker).  Stale
    tombstones cannot outlive a completed swap: recovery deletes
    ``tombstones/`` in the same repair that installs the purged
    ``cells/``, so :func:`append_to_ivf_index`'s tombstone-overlap
    guard never refuses an id whose purge actually finished.  Manual
    repair, if the store is touched by no qcts code path first:
    ``cells__old/`` is the pre-swap store — rename it back to
    ``cells/`` only when ``cells/`` is missing AND no ``_purge_commit``
    marker exists; with the marker, rename ``cells_purging/`` to
    ``cells/`` and delete ``cells__old/``, ``tombstones/`` and the
    marker.

    CONCURRENCY (r9 advisor): WRITERS (appends, other purges) must be
    quiesced for the duration — that was always the contract.  READERS
    may keep serving: a ``_purge_lock`` lease (created before the
    staged write, refreshed before the commit marker, removed on every
    exit) tells their recovery hook a purge is LIVE, so they no longer
    delete the half-written ``cells_purging/`` or race the swap — see
    :func:`_recover_interrupted_purge`.  The one recovery action
    readers still take under a live lease is the idempotent mid-swap
    roll-forward; if a reader wins that rename, this function detects
    the completed swap and finishes its cleanup instead of raising.
    A reader that starts a cells/ scan in the instant the swap renames
    run can still lose the race and retry — swap atomicity is a rename
    pair, not a snapshot; quiesce readers too if even transient read
    retries are unacceptable.

    Returns ``{"purged", "remaining"}``.
    """
    # forced recovery first: clears any crashed-purge debris AND any
    # stale lease immediately (readers honor a lease for up to
    # PURGE_LOCK_TTL_S; the single-purger contract lets this entry
    # ignore it)
    _recover_interrupted_purge(spark, path, force=True)
    tomb = read_ivf_tombstones(spark, path, id_col=id_col)
    if tomb is None:
        return {"purged": 0, "remaining": -1}
    jvm = spark.sparkContext._jvm
    jconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _p(sub: str):
        return jvm.org.apache.hadoop.fs.Path(path + sub)

    fs = _p("/cells").getFileSystem(jconf)
    # lease BEFORE the staged write: from here on a concurrent reader's
    # recovery hook treats the store as purge-in-progress
    fs.create(_p("/_purge_lock"), True).close()
    try:
        cells = spark.read.parquet(path + "/cells")
        live = cells.join(F.broadcast(tomb), id_col, "left_anti")
        n_cells = spark.read.parquet(path + "/centroids").count()
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(cell_files)))
        (
            live.withColumn("_cell_salt", salt)
            .repartition(
                n_cells * int(cell_files),
                F.col("centroid_id"), F.col("_cell_salt"),
            )
            .drop("_cell_salt")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(path + "/cells_purging")
        )
        n_tomb = tomb.count()
        remaining = spark.read.parquet(path + "/cells_purging").count()
        # marker-protected swap through the Hadoop FS API (works on
        # hdfs:// and s3a:// URIs too): refresh lease → commit marker →
        # old aside → replacement in → drop tombstones, aside copy,
        # marker.  Every crash between these steps is repaired by
        # _recover_interrupted_purge on the next store touch (after the
        # lease TTL for readers; immediately for the next purge).
        fs.create(_p("/_purge_lock"), True).close()  # refresh lease age
        fs.create(_p("/_purge_commit"), True).close()
        if not fs.rename(_p("/cells"), _p("/cells__old")):
            fs.delete(_p("/cells_purging"), True)  # roll back pre-swap
            fs.delete(_p("/_purge_commit"), False)
            raise IOError("purge: could not stage the old cells/ aside")
        if not fs.rename(_p("/cells_purging"), _p("/cells")):
            if fs.exists(_p("/cells")) and not fs.exists(_p("/cells_purging")):
                # a concurrent reader's mid-swap roll-forward won the
                # rename (the one recovery action a live lease allows);
                # the swap IS complete — finish the cleanup as usual
                pass
            else:
                # roll back: the old store is intact in cells__old
                if not fs.rename(_p("/cells__old"), _p("/cells")):
                    raise IOError(
                        "purge: swap failed AND rollback failed — run"
                        " any serve/append (or purge) to self-heal, or"
                        f" rename {path}/cells__old back to cells/"
                        " manually"
                    )
                fs.delete(_p("/_purge_commit"), False)
                raise IOError("purge: could not swap the purged cells/ in")
        if not fs.delete(_p("/tombstones"), True):
            raise IOError(
                f"purge: swap complete but {path}/tombstones could not"
                " be deleted — serving is correct (the anti-join now"
                " matches nothing); delete it to stop append_to_ivf_index"
                " refusing re-appends of the purged ids, or touch the"
                " store once (recovery clears it while the marker is"
                " present)"
            )
        fs.delete(_p("/cells__old"), True)
        fs.delete(_p("/_purge_commit"), False)
    finally:
        fs.delete(_p("/_purge_lock"), False)
    return {"purged": n_tomb, "remaining": remaining}
