"""Deterministic sampling / splitting for training-data pipelines.

``df.sample()`` is seed-dependent per partitioning and not reproducible
across engines or re-shuffles; these operators key every decision off a
content hash of a stable id, so the same row lands in the same split
on every run, any cluster size, and any engine that can compute md5 —
which also makes them oracle-checkable exactly.

Scale: pure narrow projections/filters (no shuffle, no state); the
hash is computed inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 16^4 buckets from the first 4 hex chars of md5 — plenty of
# resolution for split weights while keeping the parsed int small.
_BUCKETS = 16**4


def hash_bucket(key: Column) -> Column:
    """Stable bucket in [0, 65536) from md5 of the key's string form."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("long")


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic ~``fraction`` sample: keeps rows whose bucket
    falls below fraction·65536.  Same rows selected on every run."""
    return df.filter(hash_bucket(F.col(key_col)) < int(fraction * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample web text to
    10% but keep 100% of books): rows keep membership decided by their
    own key hash against their stratum's fraction.  Unlisted strata get
    ``default_fraction``.  Exactly reproducible, join-free (the
    fraction lookup is a literal CASE, not a join)."""
    bucket = hash_bucket(F.col(key_col))
    thresh: Column = F.lit(int(default_fraction * _BUCKETS))
    expr = None
    for name, frac in fractions.items():
        cond = F.col(strata_col) == name
        clause = (cond, F.lit(int(frac * _BUCKETS)))
        expr = F.when(*clause) if expr is None else expr.when(*clause)
    thresh = thresh if expr is None else expr.otherwise(thresh)
    return df.filter(bucket < thresh)


def token_budget_mix(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    tokens_col: str,
    budgets: dict[str, float],
    default_budget: float = 0.0,
) -> DataFrame:
    """Corpus mixing to per-source token budgets (the DoReMi-style
    "N tokens of web, M of code" recipe), deterministically.

    Two-pass proportional thresholding instead of a per-source ordered
    cumulative-sum cut: pass 1 is a tiny per-source token total
    (broadcast back), pass 2 keeps rows whose hash bucket falls below
    ``budget/total`` of the bucket space.  Expected kept tokens per
    source ≈ budget, membership is stable under re-runs and row
    additions (content-hash keyed), and the plan is a narrow filter —
    no per-source global sort, which is the formulation that would
    funnel each source through one task at 100 TB.  Sources missing
    from ``budgets`` get ``default_budget``.
    """
    totals = df.groupBy(strata_col).agg(F.sum(tokens_col).cast("long").alias("__total"))
    budget: Column = F.lit(float(default_budget))
    expr = None
    for name, b in budgets.items():
        clause = (F.col(strata_col) == name, F.lit(float(b)))
        expr = F.when(*clause) if expr is None else expr.when(*clause)
    budget = budget if expr is None else expr.otherwise(budget)
    frac = F.least(budget / F.col("__total").cast("double"), F.lit(1.0))
    thresh = F.floor(frac * _BUCKETS)
    return (
        df.join(F.broadcast(totals), strata_col)
        .filter(hash_bucket(F.col(key_col)) < thresh)
        .drop("__total")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split (e.g. train/val/test) by hash
    bucket.  Weights must sum to 1; boundaries are cumulative, so
    adding rows never moves an existing row between splits."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w
        clause = F.when(bucket < int(acc * _BUCKETS), F.lit(name))
        expr = clause if expr is None else expr.when(bucket < int(acc * _BUCKETS), F.lit(name))
    last_name = items[-1][0]
    expr = F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    return df.withColumn(out_col, expr)


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    out_col: str = "split",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split decision
    hashes the near-duplicate CLUSTER id, not the document id, so two
    near-duplicates can never straddle a split boundary (the classic
    eval-leak a plain per-doc ``hash_split`` permits — the val twin of
    a train doc silently inflates held-out scores).

    ``pairs`` is any near-dup pair relation (MinHash, SimHash, n-gram
    Jaccard, embedding cosine…); documents are first resolved to
    connected components (min reachable id), singletons label
    themselves, then ``hash_split`` keys on the component.  Returns
    (id, component, split).

    Scale shape: the CC resolution is the log-depth pointer-jumping of
    ``graph.connected_components`` over the pair relation (tiny next
    to the corpus — only docs WITH a partner appear); the corpus-side
    join is one hash join on the doc id; the split itself is a narrow
    md5 projection.  Nothing collects.
    """
    from .graph import connected_components

    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    comps = connected_components(pairs, pair_a, pair_b).withColumnRenamed(
        "node", id_col
    )
    labeled = df.select(id_col).join(comps, id_col, "left").select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("component"),
    )
    return hash_split(labeled, "component", weights, out_col)


def length_stratified_sample(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata: int = 10,
    fraction: float = 0.25,
) -> DataFrame:
    """Length-balanced corpus sample: bucket documents into token-length
    quantile strata, then keep a deterministic md5-bucket ``fraction``
    within each stratum.  A uniform sample of a heavy-tailed corpus
    over-represents whatever length range dominates the row count; the
    stratified form preserves the length distribution's deciles — the
    shape a curriculum/mixture builder usually wants.

    Returns (id, n_tokens, stratum) for the sampled rows, stratum =
    number of quantile cutpoints <= n_tokens (0-based, ``strata``
    buckets).

    Scale shape: one narrow pass for lengths; ONE percentile aggregate
    producing the strata-1 cutpoints (bounded output, broadcast back
    via crossJoin); the per-row stratum assignment and the md5 filter
    are stateless expressions.  Exact percentile buffers per-partition
    length arrays — swap approx_percentile cutpoints at extreme scale
    (strata boundaries need not be exact to balance a sample).
    """
    from tiki_e_commerce_analytics_etl_spark.operators.text import words

    qs = [i / strata for i in range(1, strata)]
    lengths = df.select(
        F.col(id_col), F.size(words(F.col(text_col))).alias("n_tokens")
    )
    cuts = lengths.agg(
        F.expr(f"percentile(n_tokens, array({', '.join(map(repr, qs))}))").alias("__cuts")
    )
    assigned = lengths.crossJoin(F.broadcast(cuts)).select(
        id_col,
        "n_tokens",
        F.size(F.filter(F.col("__cuts"), lambda c: c <= F.col("n_tokens"))).alias("stratum"),
    )
    threshold = int(fraction * 65536)
    return assigned.filter(hash_bucket(F.col(id_col)) < threshold)


def domain_cap(
    df: DataFrame,
    domain_col: str,
    k: int,
    order_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``k`` documents per domain/source — the corpus
    diversification step of web-scale curation (RefinedWeb/C4-style
    pipelines cap any single site's share so one boilerplate-heavy
    domain cannot dominate the training mix).  Selection is
    deterministic: the top ``k`` by ``order_col`` (quality score,
    length, ...), id-tiebroken, so reruns and engines agree.

    Scale shape: one shuffle keyed on the domain; row_number windows
    partition by domain, so no partition exceeds a domain's document
    count — and the cap is exactly what bounds hot domains.  For
    degenerate single-domain corpora, pre-salt by ``id`` and take
    per-salt caps of k/n_salts (the approximation error is the usual
    salted-top-k one); the default path needs no such handling
    because web corpora have bounded domain fan-out after this very
    cap is applied upstream of training.
    """
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.col(order_col).desc(), F.col(id_col))
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def auto_shards(
    df: DataFrame,
    rows_per_shard: int = 4_000_000,
    n_min: int = 8,
    n_max: int = 1 << 16,
) -> int:
    """Scale-proportional shard-count default (round 11): size
    ``n_shards`` so each shard's per-task rank-window sort holds about
    ``rows_per_shard`` rows — the parallelism lever of
    ``shuffle_shards``, derived from the data instead of pinned (a
    pinned 8 measured 32.6× at 100× because every task sorted
    corpus/8 rows).

    The estimate is metadata-cost-only where possible
    (``stats.estimated_row_count``: parquet footers, then stats
    sidecars); only plans neither source backs pay one aggregate-only
    ``count()``.  Clamped to [n_min, n_max]; at the toy SFs every
    corpus is under one shard's budget, so the floor (8) keeps the
    fixed-corpus oracles byte-identical while a 100 B-row corpus gets
    ~25k shards.
    """
    from tiki_e_commerce_analytics_etl_spark import stats

    n = stats.estimated_row_count(df)
    if n is None:
        n = df.count()
    return max(n_min, min(n_max, -(-n // rows_per_shard)))


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int | None = 16,
    seed: int = 7,
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    ``shard`` in [0, n_shards) and a ``pos`` giving its serving order
    within the shard — the (shard, pos) pair a data loader reads back
    sequentially for an epoch.  Changing ``seed`` reshuffles; the same
    seed reproduces the exact order on any engine (md5-keyed).
    ``n_shards=None`` derives the count from the corpus size
    (``auto_shards``) so the per-shard sort stays task-sized at any
    scale.

    Scale shape: NO global sort — the permutation is realized as a
    per-shard ``row_number`` over the md5 order, i.e. one hash shuffle
    on the shard key and ``n_shards`` independent local sorts.  Writers
    ``partitionBy(shard)`` + sort by ``pos``; a reader streaming shard
    files in pos order sees the same epoch order as a single global
    md5 sort, interleaved round-robin across shards.
    """
    if n_shards is None:
        n_shards = auto_shards(df)
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string")))
    out = df.withColumn("__h", h).withColumn(
        "shard", F.pmod(F.conv(F.substring("__h", 1, 4), 16, 10).cast("long"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("__h"), F.col(id_col))
    return out.withColumn("pos", F.row_number().over(w)).drop("__h")


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight: Column,
    base_fraction: float,
) -> DataFrame:
    """Deterministic IMPORTANCE sampling: each row is kept with
    probability ``base_fraction × weight`` (clamped to 1), decided by
    the row's md5 bucket — so membership is reproducible across runs,
    engines, and appends (a row's fate never depends on the rest of
    the data), and a weight-2 row is kept at exactly twice the rate of
    a weight-1 row.  The curation use: sample longer / higher-quality
    documents preferentially while keeping the pipeline re-runnable.

    Pure narrow filter — no shuffle, no state; the threshold is
    FLOOR-ed onto the integer bucket grid so any engine computing the
    same expression keeps the identical row set.
    """
    thr = F.floor(F.least(F.lit(base_fraction) * weight, F.lit(1.0)) * _BUCKETS)
    return df.filter(hash_bucket(F.col(key_col)) < thr)


def temperature_mix_report(
    per_source: DataFrame,
    alpha: float = 0.3,
    budget_tokens: int = 1_000_000,
):
    """Temperature-based multinomial corpus mixing (the T5 / XLM-R /
    Llama recipe): source i is sampled with probability
    q_i = n_i^alpha / Σ_j n_j^alpha — alpha < 1 UPWEIGHTS small
    sources relative to proportional mixing, the standard fix for
    head-domain dominance.  Input is the per-source token-count table
    (source, n_docs, n_tokens); output adds q_ppm (the sampling rate),
    alloc_tokens (the source's share of ``budget_tokens``), and
    epochs_ppm (how many times the source repeats to fill its share —
    the over-epoching diagnostic the recipe papers tabulate).

    ORACLE bit-exactness: m_i = power(n_i, alpha) is one shared libm
    pow per row; the normalizer Z folds the m_i in PINNED source-ASC
    order (bounded row count — sources are a handful), and every
    output is floor-scaled from the same shared division text.

    Scale shape: the input is one hash aggregate over the corpus
    (bounded output = #sources); this report is arithmetic over those
    bounded rows plus one broadcast of the 1-row normalizer — nothing
    here touches the corpus again.  The SELECTION step that consumes
    q_i is ``token_budget_mix``-shaped hash thresholding.
    """
    m = F.expr(f"power(CAST(n_tokens AS DOUBLE), {alpha!r}E0)")
    with_m = per_source.select("source", "n_docs", "n_tokens", m.alias("__m"))
    z = with_m.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "__m"))),
                lambda t: t["__m"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("__z")
    )
    b = float(budget_tokens)
    return (
        with_m.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("CAST(FLOOR((1.0E6 * __m) / __z) AS BIGINT)").alias("q_ppm"),
            F.expr(
                f"CAST(FLOOR((CAST({b!r} AS DOUBLE) * __m) / __z) AS BIGINT)"
            ).alias("alloc_tokens"),
            F.expr(
                f"CAST(FLOOR(((1.0E6 * CAST({b!r} AS DOUBLE)) * __m) / __z"
                " / CAST(n_tokens AS DOUBLE)) AS BIGINT)"
            ).alias("epochs_ppm"),
        )
    )


def stratified_quota_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    quotas: dict[str, int],
    default_quota: int = 0,
) -> DataFrame:
    """Per-stratum EXACT-COUNT sampling ("exactly 10k docs per
    language for the eval slice"): within each stratum, rows rank by
    their md5 hash (ties by key) and the top ``quotas[stratum]``
    survive.  The fraction-based ``stratified_hash_sample`` gives
    binomial counts; quota sampling gives exact ones — the difference
    matters when the slice IS the deliverable (eval sets, human-review
    batches, per-domain caps with hard budgets).

    Deterministic in (data, quotas): membership depends only on the
    row's own hash relative to its stratum's order statistics, so the
    same corpus reproduces the same sample on any engine; appends can
    displace the boundary row (exact quotas are inherently
    rank-coupled — use the fraction sampler when append-stability
    matters more than the count).

    Scale shape: one hash shuffle on the stratum key + per-stratum
    TOP-K (rank window); the quota CASE is a literal, not a join.
    Strata counts are bounded by the vocabulary of ``strata_col``.
    Returns the surviving rows with ``sample_rank`` (1-based within
    stratum) attached.
    """
    h = F.md5(F.col(key_col).cast("string"))
    expr = None
    for name, quota in quotas.items():
        cond = F.col(strata_col) == name
        clause = (cond, F.lit(int(quota)))
        expr = F.when(*clause) if expr is None else expr.when(*clause)
    quota_col = (
        F.lit(int(default_quota))
        if expr is None
        else expr.otherwise(F.lit(int(default_quota)))
    )
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota_col)
    )
