"""Vocabulary-free text featurization: the hashing trick + TF-IDF,
computed with pure DataFrame expressions.

The feature side of a trainable corpus-quality classifier (CCNet /
fastText-style filtering): each token maps to a fixed-width feature
index through the portable 48-bit md5 hash (no vocabulary build, no
driver state, new tokens never change the schema), weighted by
tf × rational-idf.  Output is SPARSE (doc, feature, weight) triples —
the relational form that joins, aggregates, and feeds
``ml.assemble_sparse_vectors`` for pyspark.ml estimators.

Determinism: idf uses the RATIONAL form (n_docs + 1) / (df + 1) — no
transcendental log whose libm rounding could differ across engines —
computed in IEEE double (exact-rounded, engine-identical) and cast to
DECIMAL(28,10) per (doc, term) BEFORE the hash-bucket sum, so tokens
colliding into one feature accumulate in order-free decimal exactly as
``ranking.bm25_topk`` does.  The ``hashed_tfidf`` query's DuckDB twin
reproduces every weight bit-for-bit.

Scale shape: one explode over the corpus, tf as one (doc, term) hash
agg, df as one (term) hash agg (bounded by vocabulary, uniform md5
keys), a broadcast of the df table only if the caller prunes it —
here df flows through an ordinary hash join on term since the
vocabulary is unbounded; the final (doc, feature) agg reuses the
(doc,) co-location.  No driver collection at any point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import md5_48


def hashed_tfidf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
) -> DataFrame:
    """Sparse hashed TF-IDF triples ``(id_col, feature, weight)``.

    feature = md5_48(token) mod dim; weight = Σ_{tokens→feature}
    decimal(tf · (n_docs+1)/(df+1)), cast to double at the end.
    """
    from .text import words

    tok = docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(id_col).agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            (md5_48(F.col("term")) % F.lit(dim)).alias("feature"),
            (F.col("tf").cast("double") * idf).cast("decimal(28,10)").alias("__w"),
        )
        .groupBy(id_col, "feature")
        .agg(F.sum("__w").cast("double").alias("weight"))
    )


# DSIR importance-weight term: one shared double formula per hashed
# feature bucket (Laplace-smoothed target and raw bucket unigram
# probabilities), so Spark and the DuckDB oracle produce identical
# doubles before the pinned-order fold (psi_drift precedent).  Columns:
# tf (doc bucket count), ct/cr (target/raw bucket totals), tt/tr
# (target/raw token totals); {dim} is formatted in.
DSIR_TERM_SQL = (
    "CAST(tf AS DOUBLE) * ("
    "ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + {dim} AS DOUBLE))"
    " - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + {dim} AS DOUBLE)))"
)


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    DSIR): per raw-corpus document, the hashed-unigram importance
    log-weight  log p_target(doc) − log p_raw(doc)  under bag-of-
    buckets unigram models — the score DSIR resamples on to tilt a
    raw corpus toward a target domain.  Feature = portable 48-bit md5
    of the token mod ``dim`` (the hashing trick — no vocabulary
    build); both bucket distributions are Laplace-smoothed
    (cnt+1)/(total+dim) so unseen buckets stay finite.

    Returns (id, n_tokens, dsir_unats) with dsir_unats = floor(1e6 ·
    Σ_buckets tf · (ln p_t − ln p_r)) — higher = more target-like.

    ORACLE bit-exactness: each bucket's term is ONE shared double
    formula (`DSIR_TERM_SQL`) over exact integer counts, and the
    per-document sum folds terms in PINNED bucket-ascending order
    (Spark ``aggregate`` over the array-sorted collect_list ≡ DuckDB
    ``list_reduce`` over ``list(term ORDER BY f)``).

    Scale shape: the two distribution fits are single hash aggregates
    on the BOUNDED bucket key (dim rows out — broadcastable), doc
    features are one (doc, bucket) hash aggregate, the distribution
    joins are broadcasts, and the fold is bounded by ``dim`` terms
    per document.  Nothing collects; the target corpus is typically
    tiny next to raw and never shuffles the raw side.
    """
    from .text import words

    def buckets(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(words(F.col(text_col))).alias("w"),
        ).where(F.col("w") != "").select(
            "id", (md5_48(F.col("w")) % F.lit(dim)).alias("f")
        )

    # ONE corpus pass on the raw side: the doc-bucket aggregate is the
    # only relation touching raw text (checkpointed — three consumers
    # with different projections defeat ReuseExchange), and the raw
    # bucket distribution + total both FOLD from it (Σ tf per bucket ≡
    # the token count; bucket table is dim-bounded, its total is free).
    # The target side is one pass by the same folding.
    tf = (
        buckets(raw)
        .groupBy("id", "f")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    cr = tf.groupBy("f").agg(F.sum("tf").alias("cr"))
    tr = cr.agg(F.sum("cr").alias("tr"))
    ct = buckets(target).groupBy("f").agg(F.count(F.lit(1)).alias("ct"))
    tt = ct.agg(F.sum("ct").alias("tt"))
    terms = (
        tf.join(F.broadcast(cr), "f")
        .join(F.broadcast(ct), "f", "left")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tt))
        .select(
            "id",
            "f",
            "tf",
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
            "cr",
            "tt",
            "tr",
        )
        .select(
            "id",
            "f",
            "tf",
            F.expr(DSIR_TERM_SQL.format(dim=dim)).alias("term"),
        )
    )
    g = terms.groupBy("id").agg(
        F.sum("tf").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct("f", "term"))).alias("__ts"),
    )
    total = F.aggregate(
        F.transform(F.col("__ts"), lambda t: t["term"]),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return g.select(
        "id",
        "n_tokens",
        F.floor(F.lit(1.0e6) * total).cast("long").alias("dsir_unats"),
    )


# Logistic-regression training term: ONE shared double formula so
# Spark and the DuckDB oracle produce the identical double before the
# floor quantization.  m is the exact int64 margin in micro-units,
# y the 0/1 label, tf the integer feature count; the per-(doc,feature)
# gradient contribution floor-quantizes to an exact int64 so the
# feature-keyed SUM is order-independent (same trick as the k-means
# update).  exp() parity between the JVM and libm holds across the
# strict gate exactly as ln/pow do for DSIR / KN / temperature_mix.
LOGREG_TERM_SQL = (
    "CAST(FLOOR(1000000.0E0 * ("
    "1.0E0 / (1.0E0 + exp(-(CAST(m AS DOUBLE) / 1000000.0E0)))"
    " - CAST(y AS DOUBLE)) * CAST(tf AS DOUBLE)) AS BIGINT)"
)


def _trunc_div(a: int, d: int) -> int:
    """Truncation-toward-zero integer division — the Python twin of
    Spark `div` / DuckDB `//` (Python's // floors, which differs on
    negatives)."""
    q = abs(a) // d
    return -q if a < 0 else q


def logreg_train(
    docs: DataFrame,
    label_col,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 512,
    iters: int = 5,
    lr_den: int = 2,
    reg_den: int | None = None,
):
    """Full-batch gradient-descent logistic regression over hashed
    unigram counts — the trainable corpus-quality classifier of the
    CCNet / GPT-3 filtering recipe (Wenzek et al. 2020 §4.4; Brown et
    al. 2020 App. A), as exact distributed arithmetic.

    feature = md5_48(token) mod ``dim`` (hashing trick, no
    vocabulary); weights live in integer micro-units.  Per iteration
    the margin m = b + Σ_f w[f]·tf[f] is EXACT int64, the per-
    (doc, feature) gradient contribution floor-quantizes the shared
    sigmoid formula (LOGREG_TERM_SQL) to int64, and the update is
    w[f] -= G[f] div (lr_den·N) — so every training step is bit-
    reproducible under any partitioning and replayable by the DuckDB
    oracle's unrolled CTEs (learning rate = 1/lr_den).

    ``label_col`` is a Column evaluating to 0/1 over ``docs``.
    ``reg_den`` adds L2 weight decay in the same exact-integer
    discipline: each step additionally shrinks every weight by
    w div ``reg_den`` (decay rate lr·λ = 1/reg_den folded into one
    truncating division; the bias is unregularized, as usual).  The
    decay runs driver-side on the bounded weight dict, so it costs
    nothing distributed and stays bit-reproducible.

    Returns (weights, bias): a {feature: micro_weight} dict over the
    features present in the corpus plus the bias, both bounded by
    ``dim`` — the ONLY driver traffic, collected once per iteration
    (the bounded-model-state pattern of bpe_train).

    Scale shape per iteration: margins are one broadcast join of the
    bounded weight table against the sparse (doc, feature, tf)
    relation plus a doc-keyed hash aggregate; gradients are one
    feature-keyed hash aggregate with dim-bounded output (map-side
    partial combine absorbs hot features).  The corpus tokenizes and
    feature-hashes ONCE (checkpointed) — iterations rescan the narrow
    sparse relation only.
    """
    from .text import words

    lab = docs.select(
        F.col(id_col).alias("id"), label_col.cast("int").alias("y")
    ).localCheckpoint(eager=False)
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(words(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    feats = (
        tok.select("id", (md5_48(F.col("term")) % F.lit(dim)).alias("f"))
        .groupBy("id", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = lab.count()
    # Weight-key init without its own distinct+collect job: iteration
    # 1 runs with an EMPTY weight dict — logreg_margins under no
    # weights ≡ margins under all-zero weights (both evaluate to the
    # bare bias for every doc) — and the key set is recovered from the
    # first gradient collect, which emits exactly one row per feature
    # present in ``feats`` (every (doc, f, tf) row contributes a term
    # row, so no feature can be missing).  Bit-identical to the old
    # zero-init, one fewer boundary job per training run (guide §1.2:
    # fewer passes).
    weights: dict[int, int] | None = None
    bias = 0
    for _ in range(iters):
        margins = logreg_margins(lab, feats, weights or {}, bias)
        terms = margins.join(feats, "id").select(
            "f", F.expr(LOGREG_TERM_SQL).alias("t")
        )
        # Feature gradient AND bias gradient in ONE action: the bias
        # rides as feature -1 through a unioned one-row aggregate, so
        # each iteration is a single boundary job instead of two (the
        # shared ``margins`` exchanges dedupe via ReuseExchange).
        # md5_48 % dim is non-negative, so -1 cannot collide.
        bias_branch = (
            margins.agg(
                F.sum(
                    F.expr(
                        LOGREG_TERM_SQL.replace("CAST(tf AS DOUBLE)", "1.0E0")
                    )
                ).alias("g")
            ).select(F.lit(-1).cast("long").alias("f"), "g")
        )
        grad = {
            r["f"]: r["g"]
            for r in terms.groupBy("f")
            .agg(F.sum("t").alias("g"))
            .unionByName(bias_branch)
            .collect()
        }
        bias_grad = grad.pop(-1)
        if weights is None:
            weights = {f: 0 for f in grad}
        weights = {
            f: w
            - _trunc_div(grad.get(f, 0), lr_den * n_docs)
            - (_trunc_div(w, reg_den) if reg_den else 0)
            for f, w in weights.items()
        }
        bias = bias - _trunc_div(bias_grad, lr_den * n_docs)
    if weights is None:  # iters == 0: preserve the zero-weight contract
        weights = {
            r["f"]: 0 for r in feats.select("f").distinct().collect()
        }
    return weights, bias


def logreg_margins(
    lab: DataFrame,
    feats: DataFrame,
    weights: dict[int, int],
    bias: int,
) -> DataFrame:
    """(id, y, tf-weighted margin m in exact micro-units) for every
    labeled doc — docs with no features carry the bias alone.  The
    bounded weight table broadcasts; one doc-keyed hash aggregate."""
    spark = lab.sparkSession
    w_rows = [(int(f), int(w)) for f, w in sorted(weights.items())]
    wdf = spark.createDataFrame(w_rows or [(0, 0)], "f long, w long")
    sums = (
        feats.join(F.broadcast(wdf), "f")
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("tf")).alias("__s"))
    )
    return lab.join(sums, "id", "left").select(
        "id",
        "y",
        (F.coalesce(F.col("__s"), F.lit(0)) + F.lit(int(bias)))
        .cast("long")
        .alias("m"),
    )
