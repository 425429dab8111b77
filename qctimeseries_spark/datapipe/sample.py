"""Deterministic hash-based sampling for corpus curation.

``DataFrame.sample`` draws per-partition pseudo-random rows: membership
changes across runs, retries, and engines, which poisons reproducible
dataset builds.  Hash sampling makes membership a PURE FUNCTION of the
row key — ``keep iff hash(seed:key) mod M < fraction·M`` — so the same
key is in or out everywhere, forever: reruns are stable, engines agree
(the DuckDB oracle replays it bit-for-bit), and upstream/downstream
tables sampled on the same key stay aligned (a joinable sample).

Stratified rates (e.g. downsample dominant languages, keep the tail)
compile to one CASE expression over the strata column — no shuffle,
no per-stratum pass; the filter is a narrow codegen projection that
pushes down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qctimeseries_spark.datapipe.hashing import hash60

#: hash-space modulus; fractions quantize to 1/M (one millionth)
SAMPLE_MOD = 1_000_000


def sample_bucket(key, seed: str = "qcts"):
    """The row's sampling bucket in [0, SAMPLE_MOD): hash60 of the
    seed-prefixed key string.  Exposed so callers can bucket once and
    reuse (e.g. train/val/test splits from disjoint bucket ranges)."""
    k = key if not isinstance(key, str) else F.col(key)
    return hash60(F.concat(F.lit(f"{seed}:"), k.cast("string"))) % SAMPLE_MOD


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float | None = None,
    *,
    seed: str = "qcts",
    strata_col: str | None = None,
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash.

    Either a flat ``fraction``, or per-stratum ``fractions`` over
    ``strata_col`` with ``default_fraction`` for unlisted strata.
    """
    if (fraction is None) == (fractions is None):
        raise ValueError("pass exactly one of fraction / fractions")
    # NULL keys are excluded EXPLICITLY: Spark's concat returns NULL for
    # a NULL key (filter drops it) but DuckDB's concat skips NULL args —
    # the explicit filter pins one portable semantic for both engines.
    df = df.filter(F.col(key_col).isNotNull())
    bucket = sample_bucket(key_col, seed)
    if fraction is not None:
        return df.filter(bucket < int(round(fraction * SAMPLE_MOD)))
    if strata_col is None:
        raise ValueError("fractions requires strata_col")
    thresh = F.lit(int(round(default_fraction * SAMPLE_MOD)))
    for value, frac in sorted(fractions.items()):
        thresh = (
            F.when(
                F.col(strata_col) == value,
                F.lit(int(round(frac * SAMPLE_MOD))),
            ).otherwise(thresh)
        )
    return df.filter(bucket < thresh)


def sample_to_token_budget(
    df: DataFrame,
    key_col: str,
    token_col: str,
    budget: int,
    *,
    seed: str = "qcts",
) -> DataFrame:
    """Keep a deterministic ~``budget``-token subset: documents are
    ordered by ``(sample_bucket, key)`` and the maximal prefix whose
    cumulative ``token_col`` stays ≤ ``budget`` survives.

    The mixture-building primitive: "give me 50 B tokens of this
    source, reproducibly".  Because the order is a pure function of
    the key hash, the selection is stable across runs and engines, and
    GROWING the budget only ever ADDS documents (smaller budgets are
    prefixes of larger ones) — so a 10 B-token pilot corpus is a strict
    subset of the later 50 B-token run.

    Scale design: the obvious formulation — one global window cumsum
    ordered by hash — funnels the entire corpus through a single task.
    Instead, phase 1 aggregates per-bucket token totals (ONE shuffle
    over ≤ ``SAMPLE_MOD`` groups) and the driver scans the ≤1 M-row
    histogram to find the cutoff bucket and its remaining budget;
    phase 2 keeps every earlier bucket with a plain filter (narrow,
    pushed to the scan) and resolves only the single boundary bucket
    with a window cumsum over ~1/SAMPLE_MOD of the corpus.  The result
    is row-identical to the global-prefix semantics at any scale.

    NULL ``token_col`` rows count as ZERO tokens: they ride along in
    whichever prefix position their key hash gives them without
    consuming budget (both the per-bucket totals and the boundary
    cumsum coalesce NULL sums to 0, so an all-NULL bucket cannot poison
    the driver-side scan).  Filter them upstream if unpriced documents
    should not be sampled at all.
    """
    df = df.filter(F.col(key_col).isNotNull())
    b = df.withColumn("_bucket", sample_bucket(key_col, seed))
    hist = (
        b.groupBy("_bucket")
        .agg(
            F.coalesce(
                F.sum(F.col(token_col).cast("long")), F.lit(0)
            ).alias("_t")
        )
        .orderBy("_bucket")
        .collect()
    )
    running, cut, rem = 0, None, 0
    for r in hist:
        if running + r["_t"] > budget:
            cut, rem = r["_bucket"], budget - running
            break
        running += r["_t"]
    if cut is None:
        return b.drop("_bucket")  # the whole corpus fits the budget
    from pyspark.sql import Window

    boundary = (
        b.filter(F.col("_bucket") == cut)
        .withColumn(
            "_cum",
            F.coalesce(
                F.sum(F.col(token_col).cast("long")).over(
                    Window.partitionBy("_bucket").orderBy(key_col)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("_cum") <= rem)
        .drop("_cum")
    )
    return b.filter(F.col("_bucket") < cut).unionByName(boundary).drop(
        "_bucket"
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cap: int,
    *,
    seed: str = "qcts",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, selected deterministically
    by key hash — the domain-balancing step of corpus curation ("no
    source may contribute more than N documents"): because selection
    order is ``(sample_bucket, key)``, the survivors are an UNBIASED
    per-group sample (not a storage-order head), stable across runs
    and engines, and growing ``cap`` only ever ADDS rows.

    The run/engine-stability contract assumes ``key_col`` is UNIQUE
    within each group (it is a document id).  With duplicate keys the
    boundary-bucket ranking has ties: this implementation breaks them
    deterministically (secondary sort on a full-row hash, boundary
    rows only), so repeated SPARK runs still agree — but another
    engine ranking only by key (e.g. a SQL oracle) may keep a
    different row of a tied pair, so cross-engine row-identity is
    only guaranteed for unique keys.

    Scale design: the obvious per-group ``row_number`` window shuffles
    the whole corpus on ``group_col`` and funnels each group through
    one task — web-crawl domains are Zipfian, so the top domain alone
    can be a double-digit share of 100 TB.  Instead, phase 1 builds
    the per-``(group, bucket)`` histogram (one count shuffle; output
    is histogram-sized), a window over the HISTOGRAM finds each
    group's cutoff bucket and its remaining quota, and phase 2 keeps
    pre-cutoff rows with a plain join-filter while only the boundary
    bucket's rows (~1/SAMPLE_MOD of the group) pay a ranking window.
    Row-identical to the global ``rank ≤ cap`` semantics at any scale.

    NULL keys or groups are dropped explicitly (one portable semantic
    for both engines, as in :func:`hash_sample`).
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    from pyspark.sql import Window

    df = df.filter(
        F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
    )
    b = df.withColumn("_bucket", sample_bucket(key_col, seed))
    hist = b.groupBy(group_col, "_bucket").agg(
        F.count(F.lit(1)).alias("_n")
    )
    wcum = Window.partitionBy(group_col).orderBy("_bucket")
    cuts = (
        hist.withColumn("_cum", F.sum("_n").over(wcum))
        .withColumn("_prev", F.col("_cum") - F.col("_n"))
        .filter(F.col("_cum") >= cap)
        .withColumn("_rk", F.row_number().over(wcum))
        .filter(F.col("_rk") == 1)
        .select(
            group_col,
            F.col("_bucket").alias("_cut"),
            (F.lit(cap) - F.col("_prev")).alias("_rem"),
        )
    )
    j = b.join(cuts, group_col, "left")
    below = j.filter(
        F.col("_cut").isNull() | (F.col("_bucket") < F.col("_cut"))
    )
    # full-row hash as the tie-break: deterministic across Spark runs
    # even when key_col has duplicates (see docstring); computed for
    # boundary-bucket rows only (~1/SAMPLE_MOD of each group)
    wb = Window.partitionBy(group_col).orderBy(
        key_col, F.xxhash64(*[F.col(c) for c in df.columns])
    )
    boundary = (
        j.filter(F.col("_bucket") == F.col("_cut"))
        .withColumn("_brk", F.row_number().over(wb))
        .filter(F.col("_brk") <= F.col("_rem"))
        .drop("_brk")
    )
    return below.unionByName(boundary).drop("_bucket", "_cut", "_rem")


def assign_token_shards(
    df: DataFrame,
    key_col: str,
    token_col: str,
    tokens_per_shard: int,
    *,
    seed: str = "qcts",
    out_col: str = "shard_id",
) -> DataFrame:
    """Pack the corpus into fixed-size training shards: documents in
    deterministic hash order, cut every ``tokens_per_shard`` cumulative
    tokens — the end-of-pipeline "write N-token shards" step
    (``df.write.partitionBy(out_col)`` then gives one directory per
    shard).

    A document's shard is where its FIRST token lands
    (``floor(exclusive_prefix / K)``), so every shard except the last
    holds ≥ K tokens' worth of starts and the assignment is a pure
    function of the key hash: stable across runs, engines, and
    cluster sizes, and a strict refinement of
    :func:`sample_to_token_budget` prefixes (budget B keeps exactly
    shards 0..B/K plus a boundary slice).

    Scale shape — the same two-phase prefix sum as
    :func:`sample_to_token_budget`, generalized from one cut to a cut
    every K: per-bucket token totals (ONE shuffle over ≤ SAMPLE_MOD
    groups), driver prefix-sum over the ≤1M-row histogram (documented
    bound), then a PARTITIONED within-bucket cumsum + offset.  No
    global window, no single-task stage.  NULL ``token_col`` counts as
    0 (the :func:`sample_to_token_budget` policy); NULL keys are
    excluded like every hash-keyed op here.
    """
    if tokens_per_shard <= 0:
        raise ValueError("tokens_per_shard must be positive")
    from pyspark.sql import Window

    df = df.filter(F.col(key_col).isNotNull())
    b = df.withColumn("_bucket", sample_bucket(key_col, seed))
    hist = (
        b.groupBy("_bucket")
        .agg(
            F.coalesce(
                F.sum(F.col(token_col).cast("long")), F.lit(0)
            ).alias("_t")
        )
        .orderBy("_bucket")
        .collect()
    )
    running, offsets = 0, []
    for r in hist:
        offsets.append((r["_bucket"], running))
        running += r["_t"]
    spark = df.sparkSession
    off = spark.createDataFrame(
        offsets or [(0, 0)], "_bucket long, _off long"
    )
    w = Window.partitionBy("_bucket").orderBy(key_col)
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    return (
        b.join(F.broadcast(off), "_bucket")
        .withColumn(
            "_cum_excl",
            F.coalesce(
                F.sum(F.col(token_col).cast("long")).over(w), F.lit(0)
            )
            - tok
            + F.col("_off"),
        )
        .withColumn(
            out_col, F.expr(f"_cum_excl DIV {int(tokens_per_shard)}L")
        )
        .drop("_bucket", "_off", "_cum_excl")
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    token_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Per-group sampling fractions that realize a target token
    mixture — the data-mixing computation of a training pipeline
    ("40% en / 30% zh / ...").

    Semantics: find the largest corpus size T every group can supply at
    its (normalized) target share without upsampling —
    ``T = min over targeted groups of n_tokens_g / target_g`` — then
    ``keep_frac_g = target_g · T / n_tokens_g`` (exactly 1.0 for the
    binding group; 0 for groups with no target).  Feeding keep_frac
    into :func:`hash_sample` fractions yields the mixed corpus
    deterministically.

    One tiny aggregation per group plus two broadcast scalars — no
    corpus-sized shuffle beyond the groupBy.  Returns (group, n_tokens,
    share, target_share, keep_frac); doubles are single divisions of
    exact integer sums, rounded to 9 dp identically to the DuckDB
    mirror.
    """
    total_target = sum(targets.values())
    if total_target <= 0:
        raise ValueError("targets must contain at least one positive share")
    norm = {k: v / total_target for k, v in targets.items()}
    g = df.groupBy(group_col).agg(
        F.sum(F.col(token_col).cast("long")).alias("n_tokens")
    )
    tgt = F.lit(None).cast("double")
    expr = None
    for k, v in norm.items():
        cond = F.col(group_col) == k
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(
            cond, F.lit(v)
        )
    tgt = expr.otherwise(F.lit(0.0)) if expr is not None else F.lit(0.0)
    g = g.withColumn("target_share", tgt)
    scalars = g.agg(
        F.sum("n_tokens").alias("_total"),
        F.min(
            F.when(
                F.col("target_share") > 0,
                F.col("n_tokens") / F.col("target_share"),
            )
        ).alias("_T"),
    )
    return g.crossJoin(F.broadcast(scalars)).select(
        group_col,
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("_total"), 9).alias("share"),
        "target_share",
        F.round(
            F.least(
                F.lit(1.0),
                F.col("target_share") * F.col("_T") / F.col("n_tokens"),
            ),
            9,
        ).alias("keep_frac"),
    )


def split_corpus(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    *,
    seed: str = "qcts",
    out_col: str = "split",
) -> DataFrame:
    """Tag each row with a deterministic, disjoint split label —
    ``{"train": 0.9, "val": 0.05, "test": 0.05}`` — from contiguous
    ranges of the same hash bucket :func:`hash_sample` uses.

    Because membership is a pure function of ``(seed, key)``:

    - the same key lands in the same split on every run and engine
      (no val→train leakage across rebuilds),
    - splits are JOINABLE across tables keyed the same way, and
    - a ``hash_sample`` at fraction f equals the union of the first
      splits summing to f (ranges are prefixes of the same bucket
      axis), so a pilot subsample never straddles the split boundary.

    Fractions are consumed in dict order; keys hashing past the total
    get NULL (use fractions summing to 1.0 for an exhaustive split).
    One CASE expression — no shuffle, pushes to the scan.

    The shared bucket axis is a feature WITHIN one concern and a trap
    ACROSS concerns: a corpus already filtered by ``hash_sample`` on
    the same (seed, key) holds only low buckets, so splitting it with
    the default seed collapses every survivor into the first split.
    Sampling and splitting that must be independent need DIFFERENT
    seeds (e.g. ``seed="qcts-split"``).
    """
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    df = df.filter(F.col(key_col).isNotNull())
    bucket = sample_bucket(key_col, seed)
    expr = F.lit(None).cast("string")
    cum = 0.0
    bounds = []
    for name, frac in splits.items():
        cum += frac
        bounds.append((name, int(round(cum * SAMPLE_MOD))))
    for name, hi in reversed(bounds):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    # reversed + otherwise-chaining makes the FIRST matching range win
    return df.withColumn(out_col, expr)


def shuffle_shard(
    df: DataFrame,
    key_col: str,
    *,
    n_shards: int,
    seed: str = "qcts-shuffle",
    shard_col: str = "shard",
    pos_col: str = "shard_pos",
) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    last step before a training run reads the data.

    Training wants documents in a well-mixed order that is REPRODUCIBLE
    (re-runs, engine changes, and resumed builds must agree on which
    document is sample #N of shard #K) and decorrelated from every
    upstream order (crawl time, domain, source file).  ``orderBy(rand())``
    fails all three: per-partition RNG changes membership across runs
    and engines, and a retry of one task reshuffles its rows.  Here the
    shuffle key is ``hash60(seed:key)`` — a pure function of the row —
    so the permutation is a property of the DATA, not the run.

    ``shard = h % n_shards`` routes rows without any global
    coordination (shard sizes are multinomial-even, |Δ| ≈ √(n/k));
    ``pos`` = rank of ``h`` within the shard.  Physically that is ONE
    shuffle on the shard id with a per-shard sort — exactly the plan a
    shard writer wants (``partitionBy(shard)`` + rows pre-sorted in
    shuffle order), with parallelism = ``n_shards`` (pick shards ≫
    cores at 100 TB: 1k–10k shards, each a sorted file).  No global
    window anywhere; hash ties break on the key so the order is total.

    Downstream epoch reshuffles reuse the operator with a different
    ``seed`` — a fresh independent permutation, same physics.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    from pyspark.sql import Window

    h = hash60(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    out = df.withColumn("_h", h).withColumn(
        shard_col, (F.col("_h") % n_shards).cast("int")
    )
    w = Window.partitionBy(shard_col).orderBy("_h", key_col)
    return (
        out.withColumn(pos_col, (F.row_number().over(w) - 1).cast("bigint"))
        .drop("_h")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    splits: dict[str, float],
    *,
    key_col: str = "doc_id",
    seed: str = "qcts-split",
    out_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """:func:`split_corpus`, made leakage-safe: every near-duplicate
    CLUSTER lands wholly in one split.

    Plain per-document hash splitting puts two near-identical
    documents in train and test with probability 2·p(train)·p(test) —
    at 100 TB dup rates that is millions of eval rows the model has
    effectively seen, the classic inflated-eval bug.  Here the split
    key is the document's dup-cluster representative
    (:func:`~qctimeseries_spark.datapipe.dedup.dup_clusters` over the
    caller's near-dup ``pairs``; documents without a duplicate key on
    themselves), so membership stays a pure function of (seed, data)
    — deterministic across runs and engines — while the train/test
    boundary can never cut through a duplicate cluster.

    Cost beyond :func:`split_corpus`: the components run over the
    PAIR LIST (orders of magnitude smaller than the corpus) and one
    left join attaches cluster ids back — thin (id, cluster) rows,
    AQE broadcasts them when small.  Fractions behave exactly as in
    :func:`split_corpus` (consumed in dict order, same bucket axis).
    """
    from qctimeseries_spark.datapipe.dedup import dup_clusters

    cl = dup_clusters(pairs, id_a, id_b).select(
        F.col("id").alias(key_col), "cluster_id"
    )
    joined = df.join(cl, key_col, "left").withColumn(
        "_split_key", F.coalesce(F.col("cluster_id"), F.col(key_col))
    )
    return split_corpus(
        joined, "_split_key", splits, seed=seed, out_col=out_col
    ).drop("_split_key", "cluster_id")


def weighted_sample(
    df: DataFrame,
    weight_col,
    n: int,
    *,
    key_col: str,
    seed: str = "qcts",
    key_out: str = "es_key",
    rank_out: str = "sample_rank",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: keep the
    ``n`` rows winning an Efraimidis–Vitter exponential race, where a
    row's win probability is proportional to ``weight_col``.

    Quality-weighted corpus downsampling is the standard shape — "keep
    2M documents, biased toward high quality" — and uniform hash
    sampling (:func:`hash_sample`) cannot express it.  A-Res draws one
    uniform ``u`` per row and ranks by ``u^(1/w)``; we rank by the
    monotone-equivalent ``ln(u)/w`` (descending — closer to zero is
    better) to keep the arithmetic to one ``ln`` and one divide.  The
    uniform comes from the row's key hash (``(bucket+1)/M`` over the
    :func:`sample_bucket` axis), NOT a PRNG, so membership is a pure
    function of (seed, key, weight): reruns, retries, and the DuckDB
    oracle all select the identical set — the property that makes the
    sample auditable at 100 TB.

    Plan shape: one narrow codegen projection (hash + ln + divide,
    no shuffle) feeding ``orderBy(...).limit(n)``, which Spark executes
    as TakeOrderedAndProject — per-partition top-``n`` heaps, then one
    ``n``-row merge on the driver side of the final stage; the corpus
    is never globally sorted.  The rank column is numbered AFTER the
    limit, so its single-partition window touches ``n`` rows, not the
    corpus.  Keys are 9-dp-rounded with an id tie-break before ranking
    (the x1 precedent) so the selection boundary cannot sit on a
    cross-engine double's last ulp.

    Rows with NULL keys or non-positive weights cannot be sampled and
    are filtered explicitly (zero-weight rows never win the race in
    the limit; making that exact keeps the oracle trivial).
    """
    from pyspark.sql import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = w.cast("double")
    base = df.filter(F.col(key_col).isNotNull() & (w > 0))
    u = (sample_bucket(key_col, seed) + F.lit(1)).cast("double") / F.lit(
        float(SAMPLE_MOD)
    )
    key = F.round(F.log(u) / w, 9)
    picked = (
        base.withColumn(key_out, key)
        .orderBy(F.col(key_out).desc(), F.col(key_col))
        .limit(int(n))
    )
    wk = Window.orderBy(F.col(key_out).desc(), F.col(key_col))
    return picked.withColumn(
        rank_out, F.row_number().over(wk).cast("int")
    )


def stratified_sample(
    df: DataFrame,
    weight_col,
    n_per_group: int,
    *,
    group_col: str,
    key_col: str,
    seed: str = "qcts",
    key_out: str = "es_key",
    rank_out: str = "sample_rank",
) -> DataFrame:
    """Deterministic PER-GROUP weighted sampling without replacement:
    keep the ``n_per_group`` rows winning the Efraimidis–Vitter
    exponential race WITHIN each ``group_col`` stratum — "keep 50k
    documents per source, biased toward high quality", the stratified
    twin of :func:`weighted_sample` (same hash axis, same
    ``ln(u)/w`` race key, so a row's key is identical under both
    operators and membership stays a pure function of
    (seed, key, weight) — reruns and the DuckDB oracle select the
    identical set).

    Scale shape: one narrow codegen projection (hash + ln + divide)
    feeding a ``row_number`` window PARTITIONED by the stratum — the
    per-group top-n runs parallel across groups with no global sort
    and no single-task stage (a global ``orderBy`` would be wrong
    here anyway: ranks are per group).  A pathological mega-stratum
    degrades to that group's sort, bounded by the group's own size —
    the same contract as every per-key window operator in the engine.

    NULL group keys are excluded along with NULL ids and non-positive
    weights: a NULL stratum is a data bug upstream, not a samplable
    population (count them before calling if they matter).
    """
    from pyspark.sql import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = w.cast("double")
    base = df.filter(
        F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
        & (w > 0)
    )
    u = (sample_bucket(key_col, seed) + F.lit(1)).cast("double") / F.lit(
        float(SAMPLE_MOD)
    )
    key = F.round(F.log(u) / w, 9)
    wk = Window.partitionBy(group_col).orderBy(
        F.col(key_out).desc(), F.col(key_col)
    )
    return (
        base.withColumn(key_out, key)
        .withColumn(rank_out, F.row_number().over(wk).cast("int"))
        .filter(F.col(rank_out) <= int(n_per_group))
    )


def ntile_by_score(
    df: DataFrame,
    score_col: str,
    key_col: str,
    n_buckets: int,
    *,
    scale: float = 10_000.0,
    out_col: str = "bucket",
) -> DataFrame:
    """Global NTILE without a global sort: every row gets a 1-based
    quantile bucket by ``(score_col, key_col)`` rank — SQL
    ``NTILE(n) OVER (ORDER BY score, key)`` semantics, reproduced with
    no single-task stage.

    The CCNet-style corpus partition: rank documents by a quality
    score (perplexity, classifier margin) and cut the corpus into
    head/middle/tail for curriculum or filtering decisions.  A naive
    ``Window.orderBy(score)`` funnels the whole corpus through ONE
    task; this is the two-phase construction the t14/t24 operators
    use, applied to a VALUE histogram:

    1. bucket scores by ``floor(score · scale)`` and collect the
       bucket histogram (≤ score_range · scale rows — pick ``scale``
       so that stays ≲1M; default 1e4 suits O(10)-range scores like
       avg-NLL);
    2. prefix-sum on the driver gives each value-bucket its exclusive
       start rank, and the NTILE cut ranks (first ``total % n``
       buckets take one extra row — standard SQL NTILE) decide every
       bucket that lies wholly inside one quantile WITHOUT ranking
       its rows;
    3. only the ≤ ``n_buckets`` boundary value-buckets pay a
       ``row_number`` window, each partitioned by its own bucket id —
       parallel across buckets, never corpus-wide.

    Deterministic across engines when ``key_col`` is unique: the
    order-by is (score, key), exact integer start offsets come from the
    histogram, and the scale quantization only routes rows to
    value-buckets (assignment still uses the exact score for
    within-bucket order).  NULL keys/scores are excluded (rank them
    explicitly upstream if they matter).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    import bisect

    from pyspark.sql import Window

    df = df.filter(F.col(key_col).isNotNull() & F.col(score_col).isNotNull())
    b = df.withColumn(
        "_vb",
        F.floor(F.col(score_col).cast("double") * F.lit(float(scale)))
        .cast("long"),
    )
    # materialize once: the histogram collect, the whole-bucket filter
    # and the boundary ranking each read ``b`` — without this the
    # caller's scoring pipeline (e.g. t35's full unigram-NLL chain)
    # re-ran up to three times.  Rows here are (key, score, _vb)-thin
    # by the operator's contract; the histogram collect pays the same
    # evaluation anyway, so the checkpoint adds only block storage.
    b = b.localCheckpoint(eager=True)
    hist = (
        b.groupBy("_vb")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy("_vb")
        .collect()
    )
    total = sum(r["_n"] for r in hist)
    base, extra = divmod(total, n_buckets)
    cuts, acc = [], 0
    for i in range(n_buckets):
        acc += base + (1 if i < extra else 0)
        cuts.append(acc)  # global rank <= cuts[i]  ->  bucket i+1
    rows, run = [], 0
    for r in hist:
        start, cnt = run, r["_n"]
        run += cnt
        lo = bisect.bisect_left(cuts, start + 1)
        hi = bisect.bisect_left(cuts, start + cnt)
        rows.append((r["_vb"], start, lo + 1 if lo == hi else None))
    bmap = df.sparkSession.createDataFrame(
        rows, "_vb long, _start long, _whole int"
    )
    j = b.join(F.broadcast(bmap), "_vb")
    whole = j.filter(F.col("_whole").isNotNull()).withColumn(
        out_col, F.col("_whole")
    )
    wb = Window.partitionBy("_vb").orderBy(
        F.col(score_col), F.col(key_col)
    )
    g = F.col("_start") + F.row_number().over(wb)
    expr = F.lit(1)
    for c in cuts[:-1]:
        expr = expr + (g > F.lit(c)).cast("int")
    boundary = j.filter(F.col("_whole").isNull()).withColumn(
        out_col, expr.cast("int")
    )
    return whole.unionByName(boundary).drop("_vb", "_start", "_whole")


def temperature_weights(
    df: DataFrame,
    group_col: str,
    token_col: str,
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture sampling weights — the multilingual /
    multi-source rebalancing rule (mC4 / XLM-R style): target shares
    are the NATURAL shares raised to ``alpha`` and renormalized, so
    head groups are damped and tail groups boosted without any
    hand-written target table (:func:`mixture_weights` is the
    explicit-targets sibling; this derives the targets from the corpus
    itself).

    ``alpha=0.5`` (the default, √-damping) is the oracle-exact mode:
    IEEE-754 ``sqrt`` is correctly rounded in every engine, and the
    per-group weight quantizes to integer NANO-units
    (``floor(√share · 1e9 + 0.5)``) BEFORE the normalizing sum, so the
    denominator is an exact BIGINT no matter the aggregation order.
    Other ``alpha`` values use ``pow``, which libm implementations may
    round differently in the last ulp — fine in production, documented
    here for cross-engine comparisons.

    Downstream, ``keep_frac`` feeds :func:`hash_sample` exactly like
    :func:`mixture_weights`: ``T = min_g n_g / target_g`` is the
    largest corpus every group can supply without upsampling, and
    ``keep_frac_g = target_g · T / n_g`` (1.0 for the binding group).

    Scale shape: ONE map-side-combined aggregation over the corpus
    (|groups| rows out), two broadcast scalars — nothing else touches
    the data.  Returns ``(group, n_tokens, share, target_share,
    keep_frac)``, ratios rounded to 9 dp identically to the DuckDB
    mirror.
    """
    if alpha <= 0:
        raise ValueError("alpha must be positive")
    g = df.groupBy(group_col).agg(
        F.sum(F.col(token_col).cast("long")).alias("n_tokens")
    )
    # the weight → normalizer → binding-T ladder derives three scalar
    # frames from `g`; without a cut each one re-runs the corpus
    # aggregation through lineage (measured: 4 corpus scans in the
    # executed plan).  `g` is |groups| rows — checkpoint it once so
    # the corpus is scanned exactly once.
    g = g.localCheckpoint(eager=True)
    total = g.agg(F.sum("n_tokens").alias("_total"))
    g = g.crossJoin(F.broadcast(total))
    share = F.col("n_tokens").cast("double") / F.col("_total").cast(
        "double"
    )
    damped = (
        F.sqrt(share) if alpha == 0.5 else F.pow(share, F.lit(alpha))
    )
    g = g.withColumn(
        "_w", F.floor(damped * 1e9 + F.lit(0.5)).cast("bigint")
    )
    wsum = g.agg(F.sum("_w").alias("_wsum"))
    g = g.crossJoin(F.broadcast(wsum)).withColumn(
        "_target",
        F.col("_w").cast("double") / F.col("_wsum").cast("double"),
    )
    t_scal = g.agg(
        F.min(
            F.col("n_tokens").cast("double") / F.col("_target")
        ).alias("_T")
    )
    return g.crossJoin(F.broadcast(t_scal)).select(
        group_col,
        "n_tokens",
        F.round(share, 9).alias("share"),
        F.round(F.col("_target"), 9).alias("target_share"),
        F.round(
            F.least(
                F.lit(1.0),
                F.col("_target") * F.col("_T") / F.col("n_tokens").cast("double"),
            ),
            9,
        ).alias("keep_frac"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    *,
    key_col: str,
    ctx_len: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Greedy concat-packing layout: documents are concatenated in
    ``key_col`` order and split at fixed ``ctx_len``-token boundaries —
    the standard pre-training sequence-packing scheme (no padding
    between documents; a document may straddle a boundary).  Emits per
    document WHERE it lands: ``start_offset`` (tokens before it),
    ``seq_first``/``seq_last`` (the context windows it occupies) and
    ``crosses_boundary`` — the metadata a loader needs to materialize
    packed sequences without re-scanning the corpus.

    The running offset is a prefix sum.  A GLOBAL prefix sum would
    serialize on one task, so packing is per ``shard_col`` (use
    :func:`assign_token_shards` upstream): one shuffle on the shard
    key, one ordered window per shard, every shard independent — the
    layout a 1000-executor writer wants anyway (one output stream per
    shard).  With ``shard_col=None`` the whole frame is one shard —
    only for small corpora or tests.

    Zero-token documents occupy no tokens: they attach at their
    current offset (``seq_last = seq_first``, never marked crossing).
    All-integer output — hash-exact trivially.
    """
    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    parts = [shard_col] if shard_col is not None else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n = F.col(token_col).cast("long")
    cum = F.sum(n).over(w)
    start = (cum - n).alias("start_offset")
    first = F.floor((cum - n) / ctx_len).cast("bigint")
    # last occupied token index is cum-1; empty docs stay at `first`
    last = F.when(n > 0, F.floor((cum - 1) / ctx_len).cast("bigint")).otherwise(
        first
    )
    return df.select(
        *parts,
        key_col,
        n.alias("n_tokens"),
        start,
        first.alias("seq_first"),
        last.alias("seq_last"),
        (last > first).alias("crosses_boundary"),
    )

