"""Vocabulary-free text featurization: the hashing trick + TF-IDF,
computed with pure DataFrame expressions.

The feature side of a trainable corpus-quality classifier (CCNet /
fastText-style filtering): each token maps to a fixed-width feature
index through the portable 48-bit md5 hash (no vocabulary build, no
driver state, new tokens never change the schema), weighted by
tf × rational-idf.  Output is SPARSE (doc, feature, weight) triples —
the relational form that joins and aggregates.

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
