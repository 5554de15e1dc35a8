"""Lexical retrieval scoring (BM25): score documents against small
keyword queries and return the top-k per query.  Training-data
pipelines use this shape for targeted corpus slicing ("pull the docs
about X") and for hybrid dedup/quality heuristics.

Scale shape: the inverted statistics (term frequency, document
frequency, document length) are plain hash aggregates over the
exploded token stream; the query set is tiny and BROADCAST, so the
(doc, term) stream is filtered map-side to query terms before anything
shuffles.  The per-(query, doc) score sum goes through fixed-scale
DECIMAL so the unordered aggregation is order-free and engine-exact
(float + is non-associative), and the final top-k is a per-query
ranking window over the scored (tiny) candidate set.

Determinism note: idf uses the RATIONAL Robertson–Sparck-Jones odds
(N - df + 0.5) / (df + 0.5) WITHOUT the logarithm.  ln() is not
required to be correctly rounded and differs across libm
implementations, which would break bit-exact cross-engine checks; the
rational form preserves the ranking direction (it is monotone in the
log's argument), stays positive, and is exactly reproducible
everywhere.  Rankings differ from textbook BM25 only when scores mix
extreme idf magnitudes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query by BM25 (rational-idf variant).

    ``query_terms``: (query_id, term) rows — one row per query term;
    duplicate terms within a query count once (set semantics, the
    standard bag-of-query simplification).

    Returns (query_id, doc_id, score, rank), ties broken by doc_id.
    """
    tf = term_frequencies(docs, text_col, id_col)
    return bm25_from_tf(tf, query_terms, id_col=id_col, k=k, k1=k1, b=b)


def term_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The (doc, term, tf) inverted statistics — the PERSISTENT text
    index: store this table (acid) and every other BM25 statistic
    (dl, df, n_docs) derives from it with cheap aggregates, so
    query-time retrieval never re-scans or re-tokenizes the corpus.
    Incrementally maintainable from a CDC feed (refresh_tf_index)."""
    from tiki_e_commerce_analytics_etl_spark.operators.text import words

    tok = docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
    return tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def refresh_tf_index(
    tf: DataFrame,
    feed: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    change_col: str = "_change_type",
) -> DataFrame:
    """Fold a document change feed (acid.changes_between rows tagged
    'insert'/'delete') into the (doc, term, tf) index: deleted docs'
    postings drop by anti-join, inserted docs' postings append —
    O(changed docs), never a corpus re-tokenize.  An updated document
    arrives as delete+insert and lands correctly by construction."""
    deleted = feed.where(F.col(change_col) == "delete").select(id_col).distinct()
    inserted = feed.where(F.col(change_col) == "insert").select(id_col, text_col)
    kept = tf.join(F.broadcast(deleted), id_col, "left_anti")
    return kept.unionByName(term_frequencies(inserted, text_col, id_col))


def bm25_from_tf(
    tf: DataFrame,
    query_terms: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served from a (doc, term, tf) index table — same
    result as bm25_topk from raw docs (tested equal), but the corpus
    scan is replaced by the index scan."""
    qt = query_terms.select("query_id", "term").distinct()

    # Document length re-aggregates tf rather than re-scanning the raw
    # token stream: one fewer explode+shuffle over the corpus, and the
    # (doc, term) partitioning already co-locates each doc's terms.
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )

    # Document frequency ONLY for query terms: semi-join the per-term
    # doc counts against the broadcast query vocabulary, then the
    # result (|query vocab| rows) broadcasts onward.
    dfreq = (
        tf.join(F.broadcast(qt.select("term").distinct()), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    matched = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )

    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
    contribution = idf * (tf_d * F.lit(k1 + 1.0)) / denom

    scored = (
        matched.select(
            "query_id",
            F.col(id_col),
            contribution.cast("decimal(28,10)").alias("__c"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("__c").cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def positional_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, term) positional postings from the corpus's
    whitespace tokens (0-based positions) — the phrase/proximity
    complement of ``term_frequencies``'s tf-only index.  At scale,
    persist this once (the ``refresh_tf_index`` CDC pattern applies
    unchanged: drop changed docs' postings, append recomputed ones)
    and run phrase queries against the stored table."""
    from tiki_e_commerce_analytics_etl_spark.operators.text import words

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words(F.col(text_col))).alias("pos", "term"),
    )


def proximity_matches(
    df: DataFrame,
    term_a: str,
    term_b: str,
    max_distance: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Proximity search: documents where ``term_a`` and ``term_b``
    occur within ``max_distance`` word positions, with the pair count
    and the minimum observed distance (the proximity-ranking signal).

    The |pos_a - pos_b| <= k predicate is a range join: binning
    positions by k and equi-joining each a-posting to its own and the
    two adjacent b-bins covers every qualifying pair exactly once
    (same shape as operators/range_join) — never a per-document
    cross product of the two posting lists, whose skew would be the
    square of the hottest document's term frequencies.
    """
    if max_distance < 1:
        raise ValueError("max_distance must be >= 1")
    p = positional_postings(df, text_col, id_col)
    pa = p.filter(F.col("term") == term_a).select(
        "doc_id", F.col("pos").alias("pos_a"), (F.col("pos") / max_distance).cast("long").alias("bin")
    )
    pb = p.filter(F.col("term") == term_b).select(
        "doc_id", F.col("pos").alias("pos_b"), (F.col("pos") / max_distance).cast("long").alias("__bbin")
    )
    expanded = pa.select(
        "doc_id",
        "pos_a",
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ).alias("__bbin"),
    )
    pairs = expanded.join(pb, ["doc_id", "__bbin"]).filter(
        F.abs(F.col("pos_a") - F.col("pos_b")) <= max_distance
    )
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.abs(F.col("pos_a") - F.col("pos_b"))).alias("min_distance"),
    )


def phrase_matches(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase search: documents containing the word sequence
    ``phrase``, with the number of starting positions per document.

    Relational formulation: the candidate starts are term-0's postings,
    and each subsequent term prunes them with an equi-join on
    (doc, start) against its own postings shifted by its offset —
    k-1 hash joins on uniform (doc, pos) keys, each side pre-filtered
    to ONE term's postings (the term predicate pushes into the scan).
    Handles overlapping matches and adjacent repeated words correctly
    (a per-term posting is unique per (doc, pos), so the joins are at
    most 1:1 — no fan-out).

    When called on the raw corpus the positional explode is replayed
    once per distinct term in the phrase; query a PERSISTED
    ``positional_postings`` table to pay tokenization once at scale.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    p = positional_postings(df, text_col, id_col)
    cur = p.filter(F.col("term") == phrase[0]).select("doc_id", "pos")
    for i, term in enumerate(phrase[1:], 1):
        nxt = p.filter(F.col("term") == term).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        cur = cur.join(nxt, ["doc_id", "pos"], "left_semi")
    return cur.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_matches"))
