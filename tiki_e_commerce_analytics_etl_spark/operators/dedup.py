"""Deduplication operators.

Reference surface (SURVEY.md §2.3): keep-latest-per-key (D1,
transform_tiki.py:582-587), first-seen (D2, :660), duplicate-pair
detection (D3, transform_google_trends.py:133-136).

Beyond the reference, the large-scale training-data operators: exact
content dedup, MinHash+LSH, SimHash, and n-gram Jaccard near-dup — all
expressed as shuffle-conscious DataFrame plans (no driver-side loops).
"""

from __future__ import annotations

import itertools
import re

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# D1 keep_latest lives beside the snapshot transform so the daily DAGs
# import it without numpy/pandas; re-exported here with its variants.
from tiki_e_commerce_analytics_etl_spark.plans.snapshot import keep_latest


# --------------------------------------------------------------------------
# Reference dedup operators
# --------------------------------------------------------------------------

def keep_latest_window(df: DataFrame, keys: list[str], order_col: str, tiebreakers: list[str] | None = None) -> DataFrame:
    """Window-function formulation of keep_latest — same result; kept
    for cases where the full row ordering must break ties on more than
    the provided columns or the struct agg is undesirable."""
    order = [F.desc(order_col)] + [F.desc(c) for c in (tiebreakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_latest_auto(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreakers: list[str] | None = None,
    distinct_keys: int | None = None,
    stats_path: str | None = None,
    crossover_rows_per_key: float = 4.0,
) -> DataFrame:
    """ONE entry point for keep-latest that picks the formulation from
    table statistics at PLAN time (metadata cost only — no data pass):

    - **max_by aggregate** (``keep_latest``) when the estimated rows
      per key is high: partial map-side combining ships at most one
      candidate row per key per input partition, so the shuffle
      shrinks by ~rows-per-key — the shuffle-IO-bound regime of a
      100 TB daily crawl with few keys.
    - **row_number window** (``keep_latest_window``) when rows per key
      is low or unknown: the struct max_by buffers cost more CPU than
      they save in shuffle (measured 0.50 s vs 0.33 s on sf0.1 events,
      ~1.5 rows/key — the full trade-off is in the two formulations'
      docstrings), and near-unique keys make the aggregate's combine a
      no-op.

    Row count comes from ``stats.estimated_row_count`` (parquet
    footers); the key cardinality from ``distinct_keys`` (caller hint)
    or the catalog-stats JSON at ``stats_path``: ``distinct_<key>``
    for a single key, the combined ``distinct_<k1>__<k2>`` entry for a
    composite key (both published automatically by
    ``io.write_partitioned(key_cols=...)`` on engine-written tables).
    A composite key with no combined entry falls back to the MAX of
    the per-column entries — a lower bound on the composite
    cardinality, so rows-per-key is overestimated and the choice errs
    toward max_by (still correct; parity-tested).  Unknown stats
    default to the window form.  Both formulations produce identical
    rows, so the choice is purely physical."""
    from tiki_e_commerce_analytics_etl_spark import stats as stats_mod

    dk = distinct_keys
    if dk is None and stats_path is not None:
        cat = stats_mod.read_stats(stats_path) or {}
        dk = cat.get("distinct_" + "__".join(keys))
        if dk is None and len(keys) > 1:
            per_col = [cat.get(f"distinct_{k}") for k in keys]
            known = [v for v in per_col if isinstance(v, int)]
            # |distinct(k1,k2)| >= max per-column distinct: lower bound
            dk = max(known) if known else None
    n = stats_mod.estimated_row_count(df)
    if n and dk and (n / dk) >= crossover_rows_per_key:
        return keep_latest(df, keys, order_col, tiebreakers)
    return keep_latest_window(df, keys, order_col, tiebreakers)


def first_seen(df: DataFrame, keys: list[str]) -> DataFrame:
    """D2 — unordered dropDuplicates on the key set (transform_tiki.py:660).
    Spark's dropDuplicates is a partial-agg-friendly hash aggregate —
    map-side combining keeps the shuffle small."""
    return df.dropDuplicates(keys)


def duplicate_pairs(df: DataFrame, keys: list[str]) -> DataFrame:
    """D3 — diagnostic: key groups with count > 1
    (transform_google_trends.py:133-136)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# --------------------------------------------------------------------------
# Training-data-pipeline dedup (beyond-reference, BASELINE.json north star)
# --------------------------------------------------------------------------

def _normalized(text: Column) -> Column:
    """Canonical text form for content hashing: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: md5 over normalized text, keep the row with
    the smallest id per digest.

    Scale: aggregate keyed on the 128-bit digest — uniformly
    distributed (no skew) and partial-agg friendly: each map partition
    ships one candidate row per digest (partial min_by before the
    exchange), versus a window sort shuffling every row.
    """
    with_hash = df.withColumn("content_hash", F.md5(_normalized(F.col(text_col))))
    cols = with_hash.columns
    picked = with_hash.groupBy("content_hash").agg(
        F.min_by(F.struct(*[c for c in cols if c != "content_hash"]), F.col(id_col)).alias("__row")
    )
    return picked.select(
        *[F.col(f"__row.{c}").alias(c) for c in cols if c != "content_hash"], "content_hash"
    )


def shingles_from_words(words: Column, k: int = 5) -> Column:
    """Word k-shingle STRINGS from an already-materialized word array
    column.  Pass an attribute: expressions referenced inside the
    per-position lambda are re-evaluated per element, so an inline
    split here would re-tokenize the document O(n) times."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n > k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def shingles(text: Column, k: int = 5) -> Column:
    """Word k-shingles of the normalized text as array<string>.
    Documents shorter than k words yield a single shingle of the whole
    text so they still participate.

    Splitting on ``\\s+`` directly produces the identical word list as
    normalize-then-split-on-space in one regex pass instead of two.
    NOTE: the split is inlined into the per-position lambda, so prefer
    ``shingles_from_words`` over a materialized word column in hot
    paths.
    """
    return shingles_from_words(F.split(F.trim(F.lower(text)), r"\s+"), k)


def word_hashes(text: Column) -> Column:
    """Per-word xxhash64 of the whitespace-lowercased tokens."""
    words = F.split(F.trim(F.lower(text)), r"\s+")
    return F.transform(words, lambda w: F.xxhash64(w))


def shingle_hashes_from(whashes: Column, k: int = 5) -> Column:
    """k-window hashes over an already-materialized word-hash ARRAY
    COLUMN (pass an attribute, not an expression: subtrees referenced
    inside a higher-order lambda are re-evaluated per element, so an
    inline word-hash expression here would turn O(n) into O(n²))."""
    n = F.size(whashes)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n > k,
        F.transform(idx, lambda i: F.xxhash64(F.slice(whashes, i + 1, k))),
    ).otherwise(F.array(F.xxhash64(whashes)))


# --------------------------------------------------------------------------
# Vectorized (Arrow / numpy) shingle machinery
#
# The expression formulations above are correct and JVM-side, but
# higher-order functions (transform / aggregate / zip_with) are
# CodegenFallback in Spark — every element evaluates interpreted, at
# ~10 µs per xxhash64 call.  For the hot dedup paths that is the whole
# budget: hashing one 100-word document costs ~1 ms interpreted vs ~2 µs
# vectorized.  These helpers move tokenize→shingle→hash into ONE
# mapInPandas stage (Arrow-batched, C-speed pandas hashing + numpy
# rolling combine), which is the documented fast path for work built-in
# operators can't express efficiently.  Gram identity is engine-internal
# (outputs carry ids/counts/similarities, never hash values), so the
# hash family is free — collisions are ~G²/2⁶⁴, negligible.
# --------------------------------------------------------------------------

# Tokenization must match the expression path exactly:
# F.split(F.trim(F.lower(text)), r"\s+").  Spark's trim strips ONLY the
# space character (0x20, not tab/newline), Java \s is ASCII-only, and
# StringSplit uses Pattern.split(limit=-1) which KEEPS leading/trailing
# empty tokens — mirror all three (Python str.strip() / re-default \s
# are Unicode-wide and would tokenize NBSP differently).
_SPARK_TRIM = " "
_ASCII_WS = re.compile(r"\s+", re.ASCII)

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_FNV = np.uint64(0xCBF29CE484222325)


def _token_hashes(texts: "pd.Series") -> tuple[np.ndarray, np.ndarray]:
    """Per-word 64-bit hashes for a batch of documents.

    Returns (flat_hashes uint64, doc_lengths int64): one C-speed
    ``pd.util.hash_array`` call over the flattened token list instead of
    an interpreted hash per word.
    """
    words_per_doc = [
        _ASCII_WS.split(("" if t is None else t).lower().strip(_SPARK_TRIM))
        for t in texts
    ]
    lens = np.fromiter((len(w) for w in words_per_doc), dtype=np.int64, count=len(words_per_doc))
    total = int(lens.sum())
    flat = np.empty(total, dtype=object)
    pos = 0
    for w in words_per_doc:
        flat[pos : pos + len(w)] = w
        pos += len(w)
    hashes = pd.util.hash_array(flat) if total else np.empty(0, dtype=np.uint64)
    return hashes.astype(np.uint64, copy=False), lens


def _doc_shingles(hw: np.ndarray, k: int) -> np.ndarray:
    """Distinct k-window hashes of one document's word-hash vector —
    vectorized rolling multiply-xor combine (uint64 wraps in numpy).

    Documents with exactly k words take the SAME rolling combine as the
    k-windows of longer documents (one window spanning the whole text),
    so a k-word document's gram equals an identical k-gram appearing
    inside a longer document — matching the string-gram oracle, where a
    k-word whole text IS its single k-gram.  Only documents with < k
    words fold to a whole-text FNV hash (a < k-word string can never
    equal an exactly-k-word gram, so the separate family is safe).
    """
    n = len(hw)
    # uint64 wraparound is the intended hash mixing — silence numpy's
    # scalar-overflow warning (array ops never warn, scalars do).
    with np.errstate(over="ignore"):
        if n >= k:
            g = hw[: n - k + 1] * _P1
            for j in range(1, k):
                g = (g ^ hw[j : n - k + 1 + j]) * _P2
        else:
            acc = _FNV
            for x in hw:
                acc = (acc ^ x) * _P1
            g = np.array([acc], dtype=np.uint64)
    return np.unique(g)


def hashed_gram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Exploded distinct-shingle table: one row per (document, distinct
    k-gram hash), with the document's distinct-gram count alongside —
    the input side of every inverted-index dedup join.  Single narrow
    Arrow stage; no shuffle."""
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("__id", id_field.dataType),
            T.StructField("n_grams", T.IntegerType()),
            T.StructField("gram", T.LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            hashes, lens = _token_hashes(pdf[text_col])
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]]) if len(lens) else lens
            ids, counts, grams = [], [], []
            for i in range(len(lens)):
                u = _doc_shingles(hashes[starts[i] : starts[i] + lens[i]], k)
                ids.append(np.full(len(u), pdf[id_col].iloc[i]))
                counts.append(np.full(len(u), len(u), dtype=np.int32))
                grams.append(u.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "__id": np.concatenate(ids),
                        "n_grams": np.concatenate(counts),
                        "gram": np.concatenate(grams),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche 64-bit mix, vectorized."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """(__id, band, band_hash) rows — the LSH bucketing key stream.

    One vectorized Arrow stage: tokenize, shingle-hash, then the whole
    batch's (shingle × hash-function) matrix in a single numpy
    broadcast with per-document ``minimum.reduceat`` — versus the
    interpreted expression form's num_hashes × shingles lambda
    evaluations per row (~1600 per 100-word document).
    """
    rows_per_band = num_hashes // bands
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("__id", id_field.dataType),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_hash", T.LongType()),
        ]
    )
    seeds = _mix64(np.arange(1, num_hashes + 1, dtype=np.uint64) * _P1)

    def run(batches):
        for pdf in batches:
            hashes, lens = _token_hashes(pdf[text_col])
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]]) if len(lens) else lens
            doc_grams = [
                _doc_shingles(hashes[starts[i] : starts[i] + lens[i]], shingle_k)
                for i in range(len(lens))
            ]
            if not doc_grams:
                continue
            flat = np.concatenate(doc_grams)
            gram_counts = np.fromiter((len(g) for g in doc_grams), dtype=np.int64, count=len(doc_grams))
            bounds = np.concatenate([[0], np.cumsum(gram_counts)[:-1]])
            # (total_shingles, num_hashes) matrix, one broadcast mix;
            # per-doc signature via minimum.reduceat over doc boundaries
            hmat = _mix64(flat[:, None] ^ seeds[None, :])
            sigs = np.minimum.reduceat(hmat, bounds, axis=0)
            # band hash: fold each band's signature slice (multiply-xor
            # chain, uint64 wrap) then finalize
            banded = sigs.reshape(len(doc_grams), bands, rows_per_band)
            acc = np.full((len(doc_grams), bands), _FNV, dtype=np.uint64)
            for r in range(rows_per_band):
                acc = (acc ^ banded[:, :, r]) * _P1
            band_hash = _mix64(acc ^ _mix64(np.arange(bands, dtype=np.uint64))[None, :])
            ids = np.repeat(pdf[id_col].to_numpy(), bands)
            yield pd.DataFrame(
                {
                    "__id": ids,
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(doc_grams)),
                    "band_hash": band_hash.reshape(-1).view(np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def _expand_bucket_pairs(buckets: DataFrame, doc_struct: bool) -> DataFrame:
    """(id_a < id_b) pairs from sorted bucket membership arrays via two
    codegen'd Generate (posexplode) operators — measured ~30% faster
    than interpreted nested ``transform``/``slice`` expansion, same
    O(bucket²) row count."""
    e1 = buckets.select("docs", F.posexplode("docs").alias("i", "x"))
    e2 = e1.select("x", "i", F.posexplode("docs").alias("j", "y")).filter(
        F.col("j") > F.col("i")
    )
    if doc_struct:
        return e2.select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.col("x.n_grams").alias("na"),
            F.col("y.n_grams").alias("nb"),
        )
    return e2.select(F.col("x").alias("id_a"), F.col("y").alias("id_b"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs.

    Plan shape (the classic shingle→minhash→band→bucket-join pipeline):
      1. per-row signature (narrow, one vectorized Arrow stage)
      2. explode into ``bands`` band-hash rows
      3. self-join on (band_index, band_hash) — the only shuffle; bucket
         keys are hashes, so the exchange is skew-free unless many true
         duplicates share a bucket, which is exactly the data we want
         colocated.
    Returns distinct candidate pairs (id_a < id_b).
    """
    # Vectorized signature+banding front end (minhash_band_rows), then
    # single-sided pair generation: ONE shuffle of the banded rows,
    # collect each bucket's ids, expand pairs.  A self-join would
    # evaluate the whole signature pipeline twice (Spark can't reuse
    # the exchange across a broadcast side) and shuffle it twice.
    # Bucket membership lists are bounded by the true-duplicate cluster
    # size — exactly the rows LSH exists to colocate.
    banded = minhash_band_rows(df, text_col, id_col, num_hashes, bands, shingle_k)
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list("__id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    return _expand_bucket_pairs(buckets, doc_struct=False).distinct()


def portable_minhash_params(num_hashes: int, seed: int = 7) -> tuple[list[int], list[int]]:
    """Seeded (a, b) coefficients for the portable universal-hash
    family g_i(h) = a_i·h + b_i, sized so the arithmetic never leaves
    int64: a < 2^14 (odd), b < 2^48, h < 2^48 → a·h + b < 2^63."""
    import random as _random

    rng = _random.Random(seed)
    a = [rng.randrange(1, 1 << 14) | 1 for _ in range(num_hashes)]
    b = [rng.randrange(0, 1 << 48) for _ in range(num_hashes)]
    return a, b


def _md5_48(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def minhash_lsh_candidates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    seed: int = 7,
) -> DataFrame:
    """MinHash+LSH candidate pairs with an ENGINE-PORTABLE hash family,
    so the whole pipeline carries a true SQL oracle (the xxhash64
    family of ``minhash_lsh_candidates`` is Spark-internal and can only
    be rows-checked).

    Hash family: gram hash h = int64 of the first 12 hex chars of
    md5(gram) — 48 uniform bits any engine reproduces exactly
    (md5 + substr + hex cast) — and per-function hash g_i = a_i·h + b_i
    in plain int64 arithmetic (no overflow by construction, see
    ``portable_minhash_params``).  Band key is the '-'-joined decimal
    signature slice — string equality, no engine-specific folding.

    Plan shape is identical to the native path: one vectorized Arrow
    stage emits (id, band, band_key); ONE shuffle groups buckets;
    single-sided pair expansion.  Costs ~1 Python md5 per gram — the
    portability price; prefer the xxhash variant when no cross-engine
    check is needed.
    """
    rows_per_band = num_hashes // bands
    a, b = portable_minhash_params(num_hashes, seed)
    A = np.array(a, dtype=np.int64)
    Bv = np.array(b, dtype=np.int64)
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("__id", id_field.dataType),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            ids, bandl, keys = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = _ASCII_WS.split(("" if t is None else t).lower().strip(_SPARK_TRIM))
                n = len(words)
                if n > shingle_k:
                    grams = [
                        " ".join(words[j : j + shingle_k])
                        for j in range(n - shingle_k + 1)
                    ]
                else:
                    grams = [" ".join(words)]
                hs = np.fromiter(
                    (_md5_48(g) for g in grams), dtype=np.int64, count=len(grams)
                )
                sig = (hs[:, None] * A[None, :] + Bv[None, :]).min(axis=0)
                for bi in range(bands):
                    seg = sig[bi * rows_per_band : (bi + 1) * rows_per_band]
                    ids.append(i)
                    bandl.append(bi)
                    keys.append("-".join(str(int(v)) for v in seg))
            if ids:
                yield pd.DataFrame(
                    {
                        "__id": ids,
                        "band": np.array(bandl, dtype=np.int32),
                        "band_key": keys,
                    }
                )

    # Unlike the numpy-vectorized native stages (where a repartition
    # costs more than single-partition execution saves — see
    # io.read_table), the md5 loop here is interpreted Python per gram;
    # spreading a single-row-group scan across cores is a measured win.
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    src = df.select(id_col, text_col).repartition(par, id_col)
    banded = src.mapInPandas(run, out_schema)
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("__id")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    return _expand_bucket_pairs(buckets, doc_struct=False).distinct()


def simhash_portable_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash48",
    bits: int = 48,
) -> DataFrame:
    """SimHash with the portable md5-derived 48-bit word hash (same
    family as ``minhash_lsh_candidates_portable``), so the signature is
    bit-for-bit reproducible in SQL.  Semantics mirror ``simhash_df``:
    per word OCCURRENCE ±1 votes per bit, bit set when the vote is
    strictly positive."""
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [T.StructField(id_col, id_field.dataType), T.StructField(out_col, T.LongType())]
    )
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)

    def run(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = _ASCII_WS.split(("" if t is None else t).lower().strip(_SPARK_TRIM))
                hs = np.fromiter(
                    (_md5_48(w) for w in words), dtype=np.int64, count=len(words)
                )
                bmat = (hs[:, None] >> shifts[None, :]) & 1
                votes = 2 * bmat.sum(axis=0) - len(hs)
                ids.append(i)
                sigs.append(int(weights[votes > 0].sum()))
            if ids:
                yield pd.DataFrame(
                    {id_col: ids, out_col: np.array(sigs, dtype=np.int64)}
                )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing >=
    ``min_hits`` distinct word k-grams with any evaluation document
    (the GPT-3/PaLM-style n-gram overlap screen a training pipeline
    runs before every release).

    Returns every corpus row's (id, shared_grams, contaminated).

    Scale shape: both sides go through the vectorized gram stage; the
    eval side (benchmarks — thousands of docs, not billions) collapses
    to a distinct hashed-gram set that is BROADCAST, so the corpus-side
    probe is a narrow map join — no shuffle of the corpus grams at all;
    the only exchange is the per-document count aggregation, keyed on
    the document id (uniform, skew-free).
    """
    corpus_grams = hashed_gram_rows(corpus, text_col, id_col, k)
    eval_grams = hashed_gram_rows(eval_set, text_col, id_col, k).select("gram").distinct()
    shared = (
        corpus_grams.join(F.broadcast(eval_grams), "gram", "inner")
        # one row per (doc, distinct gram) by construction → COUNT is
        # the distinct shared-gram count
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(shared, F.col(id_col) == shared["__id"], "left")
        .select(
            id_col,
            F.coalesce(F.col("shared_grams"), F.lit(0)).cast("long").alias("shared_grams"),
            (F.coalesce(F.col("shared_grams"), F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash of the word set, as a signed long.

    For each bit position, sum +1/-1 votes of each word-hash's bit and
    set the bit when the vote is positive.  All array expressions —
    JVM-side, no UDF.
    """
    words = F.split(_normalized(text), " ")
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    # Single pass: the accumulator is the per-bit vote vector, so the
    # word hashing runs once per row rather than once per bit.
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda a, i: a
            + F.when(h.bitwiseAND(F.call_function("shiftleft", F.lit(1).cast("long"), i)) != 0, 1).otherwise(-1),
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            bit_idx,
            lambda v, i: F.when(v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, m: acc.bitwiseOR(m),
    )
    return packed


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash64",
) -> DataFrame:
    """DataFrame-level SimHash: word hashing stays JVM-side (one
    transform), bit-vote accumulation runs vectorized in numpy via
    mapInPandas (unpack 64 bits of every word hash, sum votes, repack)
    — an order of magnitude less interpreter overhead than the 64-wide
    zip_with fold of the Column form for long documents.  Same
    signature semantics as ``simhash`` (identical word-hash family)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    hashed = df.select(
        F.col(id_col), word_hashes(F.col(text_col)).alias("__wh")
    )
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField(out_col, T.LongType())]
    )

    bit_weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def run(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, hs in zip(pdf[id_col], pdf["__wh"]):
                h = np.asarray(hs, dtype=np.int64).view(np.uint64)
                if h.size == 0:
                    ids.append(i)
                    sigs.append(0)
                    continue
                bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
                votes = 2 * bits.sum(axis=0, dtype=np.int64) - h.size
                sig = int(bit_weights[votes > 0].sum(dtype=np.uint64))
                if sig >= 1 << 63:  # two's-complement to signed long
                    sig -= 1 << 64
                ids.append(i)
                sigs.append(sig)
            yield pd.DataFrame({id_col: ids, out_col: np.array(sigs, dtype=np.int64)})

    return hashed.mapInPandas(run, out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above ``threshold``.

    Inverted-index join: explode distinct n-grams, join on the n-gram,
    count shared grams per pair, then Jaccard = shared / (|A|+|B|-shared).
    The n-gram join is the scalable formulation — it only pairs
    documents that share at least one gram, versus the O(N²) cross
    join.

    ``max_df`` prunes grams appearing in more than that many documents
    before the pair join — at 100 TB, stop-phrase grams ("in the the")
    would otherwise create quadratic hot buckets (a pair of documents
    sharing only ultra-common grams cannot clear a high threshold
    anyway, but the join would still enumerate it).  Note max_df
    pruning makes the reported Jaccard a lower bound for pairs that
    also share pruned grams; keep it None for exact semantics.
    """
    # Grams participate only as join/group keys, so they are carried as
    # 64-bit shingle hashes, not strings: same set semantics (collision
    # odds over a corpus of G grams ≈ G²/2⁶⁵ — negligible), no string
    # building, and an 8-byte shuffle key.  The tokenize→shingle→hash
    # front end runs in ONE vectorized Arrow stage (hashed_gram_rows) —
    # the interpreted-HOF expression form costs ~1 ms per 100-word
    # document, which dominates the whole operator.
    grams = hashed_gram_rows(df, text_col, id_col, k=n)

    # Single-sided inverted index: ONE shuffle of the gram rows, then
    # per-gram pair expansion.  Grams held by only one document produce
    # no pairs (size filter) — semantics-preserving pruning that kills
    # the bulk of the index (most shingles are unique).  A self-join
    # formulation would compute and shuffle the shingling pipeline
    # twice.  ``max_df`` caps the hot tail: a pair sharing only
    # ultra-common grams can't clear a high threshold, but expansion
    # would still enumerate it quadratically.  (max_df makes the
    # reported Jaccard a lower bound for pairs that also share pruned
    # grams; keep it None for exact semantics.)
    hi = F.size("docs") <= max_df if max_df is not None else F.lit(True)
    buckets = (
        grams.groupBy("gram")
        .agg(F.array_sort(F.collect_list(F.struct("__id", "n_grams"))).alias("docs"))
        .filter((F.size("docs") > 1) & hi)
    )
    shared = (
        _expand_bucket_pairs(buckets, doc_struct=True)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jaccard = (F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard")
    return shared.select("id_a", "id_b", jaccard).filter(F.col("jaccard") >= threshold)


def chunk_hashes_from(words: Column, chunk: int = 10, stride: int | None = None) -> Column:
    """md5 hashes of word windows of size ``chunk`` taken every
    ``stride`` words (default ``stride=chunk`` — non-overlapping tiles).

    Documents shorter than ``chunk`` words yield one hash of the whole
    text so they still participate (same convention as ``shingles``).
    Pass a materialized word-array ATTRIBUTE, not an expression: a
    subtree referenced inside the per-window lambda is re-evaluated per
    window (see ``shingle_hashes_from``).

    md5 over the joined words (not xxhash64) so the DuckDB oracle can
    reproduce the hash bit-for-bit.
    """
    stride = chunk if stride is None else stride
    n = F.size(words)
    starts = F.sequence(F.lit(1), F.greatest(n - chunk + 1, F.lit(1)), F.lit(stride))
    return F.when(
        n >= chunk,
        F.transform(starts, lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, chunk)))),
    ).otherwise(F.array(F.md5(F.concat_ws(" ", words))))


def duplicate_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int = 10,
    stride: int | None = None,
) -> DataFrame:
    """Cross-document EXACT SUBSTRING duplication per document — the
    chunk-level dedup signal of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2021), expressed relationally:
    instead of a suffix array over the concatenated corpus, each
    document is cut into word windows (tiles by default), a window
    hash is duplicated iff ≥2 DISTINCT documents contain it, and each
    document reports how much of it is made of duplicated windows.

    Returns (id, n_chunks, dup_chunks, dup_fraction); curation filters
    on dup_fraction (e.g. drop > 0.6, trim > 0.2).

    Scale: three key-hashed shuffles, all on uniform 128-bit window
    hashes — explode → per-hash distinct-doc count (partial-agg
    friendly) → hash-join back → per-doc count.  No global sort, no
    pairwise expansion: a window shared by 10 000 documents costs
    10 000 rows, not 10 000² pairs (the reason this beats running
    ngram_jaccard at chunk granularity for containment detection).
    The corpus-wide suffix-array formulation finds duplicates at ANY
    alignment; tiling detects duplicated runs ≥ 2·chunk words at any
    alignment (a run that long covers ≥1 full tile in both copies only
    if tiles align — pass ``stride < chunk`` for alignment-robust
    overlapping windows at proportionally higher index cost,
    ``stride=1`` for the exact sliding-window semantics).
    """
    chunks = (
        df.select(F.col(id_col), F.split(_normalized(F.col(text_col)), " ").alias("__ws"))
        .select(F.col(id_col), chunk_hashes_from(F.col("__ws"), chunk, stride).alias("__chunks"))
        .select(F.col(id_col), F.explode("__chunks").alias("chunk_hash"))
    )
    # Single computation of the hash front-end: collapse within-doc
    # instances first (hash, doc, cnt), count distinct docs per hash
    # with an unordered window over the hash partition (no join back —
    # a join-back formulation re-evaluates the whole tokenize→hash
    # explode subtree on its second side), then fold per doc.  Window
    # partitions are one row per DISTINCT doc holding the hash, so a
    # boilerplate chunk shared by a million docs costs a million rows
    # in one partition, never a collected array.
    per_doc_hash = chunks.groupBy("chunk_hash", id_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy("chunk_hash")
    return (
        per_doc_hash.withColumn("__n_docs", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").alias("n_chunks"),
            F.sum(F.when(F.col("__n_docs") >= 2, F.col("__cnt")).otherwise(F.lit(0))).alias(
                "dup_chunks"
            ),
        )
        .withColumn("dup_fraction", F.col("dup_chunks") / F.col("n_chunks"))
    )


def simhash_hamming_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash48",
    bits: int = 48,
    radius: int = 3,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``radius`` of each other's
    SimHash — the MISSING HALF of a SimHash pipeline (the signature
    alone ranks nothing): the pigeonhole multi-index of Manku et al.
    (WWW'07, the Google near-dup crawler design).  Split the signature
    into ``radius + 1`` disjoint chunks; two signatures within
    ``radius`` bit flips MUST agree exactly on at least one chunk
    (pigeonhole), so candidates come from an EQUI-join on
    (chunk_idx, chunk_bits) — never an all-pairs XOR — and the exact
    ``bit_count(a XOR b) <= radius`` check reranks only candidates.

    Scale shape: one narrow chunk-explode of the signature table
    (radius+1 rows/doc), one hash join on uniform chunk keys, distinct
    on the surviving pairs.  Hot buckets arise only when many docs
    share a chunk — i.e. genuinely similar docs, the same bounded-
    bucket argument as MinHash banding.  Emits each unordered pair
    once (id_a < id_b).
    """
    n_chunks = radius + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1

    def chunks(side: str) -> DataFrame:
        sig = F.col(sig_col)
        arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("ci"),
                    sig.bitwiseAND(F.lit(mask << (i * chunk_bits))).alias("cv"),
                )
                for i in range(n_chunks)
            ]
        )
        return signatures.select(
            F.col(id_col).alias(f"id_{side}"), sig.alias(f"sig_{side}"),
            F.explode(arr).alias("__c"),
        ).select(f"id_{side}", f"sig_{side}", "__c.ci", "__c.cv")

    a, b = chunks("a"), chunks("b")
    cand = a.join(b, ["ci", "cv"]).where(F.col("id_a") < F.col("id_b"))
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.where(dist <= radius)
        .select("id_a", "id_b", dist.alias("hamming"))
        .distinct()
    )


def _agree_from_count(
    n_sigs: int, radius: int, hex_len: int, auto_threshold: int
) -> int:
    """The pure ``agree="auto"`` decision arithmetic, shared by every
    cardinality source (probe / caller hint / stats sidecar): agree=1
    on duplicate-collapsing corpora, the largest valid multi-index
    arity ≤ 3 on diverse ones (the regime the ``--hamming`` ladder
    measured degrading 30→362 s under agree=1)."""
    if n_sigs >= auto_threshold and radius < hex_len:
        # largest multi-index arity that still fits the hex length
        return max(1, min(3, hex_len - radius))
    return 1


def _auto_agree(
    members: DataFrame, radius: int, hex_len: int, auto_threshold: int
) -> int:
    """The ``agree="auto"`` route decision, factored out so consumers
    and tests can observe WHICH route a corpus takes: one eager
    ``approx_count_distinct`` pass over the signature column (±5%,
    plenty against the measured ~300k crossover) feeding
    ``_agree_from_count``.  The counting pass is the fallback source —
    callers with a ``sig_count_hint`` or an engine-published
    ``distinct_<sig>`` sidecar skip it entirely (round 11)."""
    approx = members.agg(
        F.approx_count_distinct("__sig").alias("n")
    ).collect()[0]["n"]  # one-row boundary collect
    return _agree_from_count(approx, radius, hex_len, auto_threshold)


def hex_hamming_pairs(
    signatures: DataFrame,
    id_col: str,
    sig_col: str,
    radius: int,
    hex_len: int = 16,
    agree: int | str = 1,
    auto_threshold: int = 300_000,
    sig_count_hint: int | None = None,
    stats_path: str | None = None,
) -> DataFrame:
    """Duplicate / near-duplicate pairs within Hamming distance
    ``radius`` over FIXED-LENGTH HEX signatures (e.g. the 16-char
    64-bit ``multimodal.dhash_hex``) — the string-signature twin of
    ``simhash_hamming_pairs``, same Manku pigeonhole design, with one
    extra scale lever: the chunk join and the exact rerank run over
    the DISTINCT-signature relation (the unique-word collapse — on a
    duplicate-heavy corpus that is orders of magnitude smaller than
    the id relation; round 8 measured 49.6 s → sub-second at sf0.1,
    where 5 000 ids collapse to ~200 signatures), and id pairs are
    expanded only at the end, where output size is inherent.

    Split the hex into ``radius + 1`` disjoint chunks (4-bit-aligned,
    plain ``substring``); two signatures within ``radius`` bit flips
    agree exactly on at least one chunk, so candidates come from an
    equi-join on (chunk_idx, chunk_hex) and the exact per-nibble
    ``bit_count(xor)`` sum reranks only candidates.  Distance-0 pairs
    (exact duplicates) come from the within-signature id self-join —
    never from the chunk join at all.  Emits each unordered pair once
    with its distance.

    Selectivity note for sizing: a chunk of c hex chars gives a
    16^c-way bucket space; radius close to ``hex_len`` forces 1-char
    chunks (16 buckets) and candidate volume degrades toward
    all-pairs — over the distinct-signature relation, which bounds
    the damage but does not remove it.  Keep radius ≪ 4·hex_len bits.

    Pigeonhole bound: ``radius + 1`` disjoint chunks need at least
    one hex char each, so the chunk join is only complete for
    ``radius < hex_len``.  For ``hex_len <= radius < 4*hex_len`` —
    where >= 1/4 of the bits may differ, i.e. far outside any
    near-duplicate regime — the operator stays CORRECT by falling
    back to the exact all-pairs comparison over the DISTINCT-
    signature relation (quadratic over distinct signatures, bounded
    by the duplicate collapse; a deliberate completeness-over-speed
    trade documented here rather than a silently-incomplete chunk
    join, per round-8 advice).

    Input contract: duplicate ``(id, sig)`` rows are collapsed (one
    id contributes each signature once); an id appearing with SEVERAL
    distinct signatures participates once per signature, so a pair of
    such ids can legitimately appear at more than one distance.

    ``agree`` — the Manku (2007) multi-index generalization for
    DIVERSE-signature corpora (flag-gated; default 1 = the plain
    pigeonhole above).  With ``radius + agree`` disjoint chunks, at
    most ``radius`` chunks can contain a flipped bit, so two
    signatures within ``radius`` agree on >= ``agree`` chunks — the
    join key becomes every ``agree``-sized chunk COMBINATION
    (combo_idx + concatenated chunk values), one permuted-prefix
    table per combination in Manku's terms.  Trade: the explode
    factor grows to C(radius+agree, agree) rows per distinct
    signature, but the key space grows ~16^(agree·chars), collapsing
    candidate volume by orders of magnitude when distinct signatures
    approach corpus size (random 64-bit sigs at radius 8: agree=1
    buckets are 16-256-way → candidates ~n²/32; agree=3 buckets are
    ~16^4-16^6-way).  Requires ``radius + agree <= hex_len``.

    Measured (radius 8, uniform-random sigs, local[32]): agree=1 wins while the
    n²/32 candidate volume stays cheap (200k distinct: 30 s vs 44 s)
    and degrades quadratically past it (632k: 362 s); agree=3 grows
    sub-quadratically (63k/200k/632k = 21/44/166 s) and takes over
    between 200k and 632k distinct signatures.  Duplicate-collapsed
    corpora (5M ids over 2k signatures: 34 s, input-scan-bound) never
    need agree > 1.

    ``agree="auto"`` picks the route from the MEASURED crossover: one
    eager ``approx_count_distinct`` pass over the signature column
    (±5%, plenty for a 300k threshold decision) chooses agree=1
    below ``auto_threshold`` distinct signatures and the largest valid
    agree ≤ 3 above it.  Callers who know their corpus
    shape pass the integer directly and skip the pass; under
    ``agree="auto"``, ``sig_count_hint`` (exact/estimated distinct
    signature count) or ``stats_path`` (an engine-written table whose
    ``_stats.json`` publishes ``distinct_<sig_col>`` — the
    ``io.write_partitioned(key_cols=...)`` sidecar) resolves the
    route at plan time with zero counting jobs.
    """
    if not 0 <= radius < 4 * hex_len:
        raise ValueError(f"radius must be in [0, {4 * hex_len})")
    members = signatures.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig")
    ).dropDuplicates(["__id", "__sig"])
    if agree == "auto":
        # Cardinality sources, cheapest first (round 11 — the
        # keep_latest_auto sidecar pattern): a caller hint or an
        # engine-published ``distinct_<sig_col>`` stats sidecar
        # resolves the route at PLAN time with zero counting jobs and
        # no checkpoint; only corpora with neither pay the
        # approx_count_distinct probe.
        n_sigs = sig_count_hint
        if n_sigs is None and stats_path is not None:
            from tiki_e_commerce_analytics_etl_spark import stats as stats_mod

            cat = stats_mod.read_stats(stats_path) or {}
            n_sigs = cat.get(f"distinct_{sig_col}")
        if n_sigs is not None:
            agree = _agree_from_count(n_sigs, radius, hex_len, auto_threshold)
        else:
            # the probe is an EAGER pass over members — checkpoint
            # first so an expensive upstream (e.g. the Arrow
            # image-decode → dHash pipeline feeding
            # image_neardup_pairs) is computed once, not once for the
            # count and again for the join (measured: 1.67 → 2.99 s
            # on the image query without this)
            members = members.localCheckpoint(eager=True)
            agree = _auto_agree(members, radius, hex_len, auto_threshold)
    uniq = members.select("__sig").distinct()
    if not isinstance(agree, int) or agree < 1:
        raise ValueError("agree must be >= 1 or 'auto'")
    n_chunks = radius + agree
    if agree > 1 and n_chunks > hex_len:
        raise ValueError(
            f"agree={agree} needs radius+agree <= hex_len ({hex_len}); "
            f"got {n_chunks}"
        )
    n_chunks = min(n_chunks, hex_len)
    bounds = [i * hex_len // n_chunks for i in range(n_chunks + 1)]
    combos = list(itertools.combinations(range(n_chunks), agree))

    # Per-signature integer image, computed ONCE on the DISTINCT
    # relation: 8-hex-char words conv'd to bigint (32 bits each, no
    # signed-overflow risk).  The exact rerank is then a handful of
    # xor+bit_count per candidate — cheap enough that Catalyst
    # pushing the ``hamming <= radius`` filter INTO the chunk join is
    # a win.  The first formulation conv'd each nibble per candidate
    # (32 string convs/pair); with the filter pushed below the
    # pair-distinct it evaluated on every candidate OCCURRENCE and
    # measured 165 s on 20k random signatures — 30x the cost of the
    # join itself.
    n_words = (hex_len + 7) // 8
    word_bounds = [(i * 8, min(8, hex_len - i * 8)) for i in range(n_words)]

    def with_words(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            "*",
            *[
                F.conv(F.substring(F.col(f"sig_{prefix}"), lo + 1, ln), 16, 10)
                .cast("bigint")
                .alias(f"__{prefix}w{i}")
                for i, (lo, ln) in enumerate(word_bounds)
            ],
        )

    dist = sum(
        F.bit_count(F.col(f"__aw{i}").bitwiseXOR(F.col(f"__bw{i}")))
        for i in range(n_words)
    ).cast("int")

    def chunked(side: str) -> DataFrame:
        sig = F.col("__sig")
        arr = F.array(
            *[
                F.concat(
                    *[
                        F.substring(sig, bounds[c] + 1, bounds[c + 1] - bounds[c])
                        for c in combo
                    ]
                )
                for combo in combos
            ]
        )
        return with_words(
            uniq.select(
                sig.alias(f"sig_{side}"),
                F.posexplode(arr).alias("chunk_idx", "chunk_hex"),
            ),
            side,
        )

    word_cols = [f"__{s}w{i}" for s in ("a", "b") for i in range(n_words)]
    if radius >= hex_len:
        # pigeonhole needs radius+1 >= hex_len+1 disjoint chunks of
        # >= 1 hex char — impossible: exact all-pairs over DISTINCT
        # signatures (see docstring)
        sig_pairs = (
            with_words(uniq.select(F.col("__sig").alias("sig_a")), "a")
            .join(
                with_words(uniq.select(F.col("__sig").alias("sig_b")), "b"),
                F.col("sig_a") < F.col("sig_b"),
            )
            .select("sig_a", "sig_b", dist.alias("hamming"))
            .where(F.col("hamming") <= radius)
        )
    else:
        # repartition on the join keys: Catalyst sizes the join inputs
        # from the PRE-Generate subtree (the distinct-signature
        # relation), so a diverse corpus at agree=3 tried to BROADCAST
        # a 100M-row exploded side (built single-threaded on the
        # driver); a forced shuffle_hash hint then OOM'd the build
        # maps at 632k distinct sigs (SHJ builds don't spill).  An
        # explicit exchange on (chunk_idx, chunk_hex) makes AQE plan
        # the join from the MEASURED post-explode size instead: tiny
        # duplicate-collapsed corpora still get a broadcast, diverse
        # corpora get a spill-safe sort-merge with skew splitting.
        sig_pairs = (
            chunked("a")
            .repartition("chunk_idx", "chunk_hex")
            .join(
                chunked("b").repartition("chunk_idx", "chunk_hex"),
                ["chunk_idx", "chunk_hex"],
            )
            .where((F.col("sig_a") < F.col("sig_b")) & (dist <= radius))
            .select("sig_a", "sig_b", dist.alias("hamming"))
            .distinct()
        )
    near = (
        sig_pairs.join(
            members.select(F.col("__id").alias("__ia"), F.col("__sig").alias("sig_a")),
            "sig_a",
        )
        .join(
            members.select(F.col("__id").alias("__ib"), F.col("__sig").alias("sig_b")),
            "sig_b",
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    ma = members.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__s"))
    mb = members.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__s"))
    exact = (
        ma.join(mb, "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return exact.unionByName(near)


def window_anchors(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """The anchor front-end of the suffix-array-style dedup family,
    shared by the one-shot and cross-set (decontamination) paths: the
    tokenized corpus (``__id``, ``__w`` word array; docs with < k
    words excluded) and the anchor stream (``__id``, ``__off``
    1-based word offset, ``__h`` xxhash64 of the k-word window) —
    O(corpus words) rows of 20 bytes, never the window strings,
    repartitioned on the uniform 64-bit hash so every consumer's
    equi-join reuses one canonical exchange.  Text normalization is
    the dedup-family ``_normalized`` (lowercase, collapse
    whitespace)."""
    words = F.split(_normalized(F.col(text_col)), " ")
    # Scale-adaptive spread (guide §2.5 input skew): the whole
    # tokenize → per-window slice/concat/xxhash64 transform (an
    # interpreted higher-order expression, ~k array ops per corpus
    # word) otherwise runs on a single task until the __h exchange
    # when the corpus scans as one split (measured: the anchor
    # stream alone cost ~4 s at sf0.1 with 31 cores idle).
    from tiki_e_commerce_analytics_etl_spark.io import spread_small_scan

    df = spread_small_scan(df)
    tok = (
        df.select(F.col(id_col).alias("__id"), words.alias("__w"))
        .where((F.size("__w") >= k) & (F.element_at("__w", 1) != ""))
    )
    # anchor stream: (id, 1-based word offset, window hash).  The
    # hash array is materialized in its OWN projection so the
    # transform lambda is evaluated once per doc, not re-inlined per
    # downstream reference (HOF re-evaluation trap, see module
    # docstrings).
    hashes = F.transform(
        F.sequence(F.lit(1), F.size("__w") - F.lit(k - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("__w"), i, k))),
    )
    # one canonical exchange on the join key: both candidate-join
    # sides reference the SAME repartitioned plan, so Spark's
    # ReuseExchange computes the tokenize→hash→explode front-end once
    # (without it the subtree re-executes per join branch).
    # NOTE (round 12, measured and REJECTED): an eager localCheckpoint
    # here read 20-90% SLOWER across the whole family
    # (substring_decontam 7.5 → 14.5 s, strip_dup_spans 7.0 → 10.9 s,
    # interleaved A/B) — AQE's runtime stage reuse already
    # deduplicates the identically-pruned branches, and the
    # materialization barrier + block I/O only added cost.  The
    # static plan's 8-16 apparent copies are pre-AQE.
    wins = (
        tok.select("__id", hashes.alias("__hs"))
        .select("__id", F.posexplode("__hs").alias("__p", "__h"))
        .select("__id", (F.col("__p") + 1).alias("__off"), "__h")
        .repartition("__h")
    )
    return tok, wins


def _verified_window_matches(
    df: DataFrame, text_col: str, id_col: str, k: int,
    max_doc_freq: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared front-end of the suffix-array-style dedup family: the
    tokenized corpus (``__id``, ``__w`` word array) and the VERIFIED
    cross-document sliding-window matches (id_a < id_b, off_a, off_b,
    __h, __win) — xxhash64 anchors over one narrow explode, uniform-key
    candidate equi-join, slice verification so a hash collision can
    add nothing.  Consumed by ``exact_substring_pairs`` (pair scores)
    and ``strip_duplicate_spans`` (span removal) so detect ∘ remove
    cannot drift.

    ``max_doc_freq`` — the hot-window scale lever: a window shared by
    m documents fans out to ~m²/2 candidate rows, so one
    boilerplate window in a million documents is a 5·10¹¹-row join
    ON ITS OWN.  When set, windows whose hash appears in more than
    ``max_doc_freq`` DISTINCT documents are excluded from candidate
    generation (one extra uniform-key distinct-doc count + broadcast-
    able anti-join on the bounded hot-hash set — the same strategy as
    ``strip_common_tiles``'s max_df).  On web-scale (100 TB) corpora
    SET THIS (~100 is a good default): one boilerplate window shared
    by m docs alone costs m²/2 candidate rows, and the cap's cost is
    one distinct-doc count.  Trade, stated exactly: a pair
    whose ONLY shared windows are boilerplate-hot is no longer found
    (Lee et al. treat such spans as boilerplate, not duplication —
    their removal tool caps the same way); any pair sharing at least
    one sub-cap window keeps that evidence, and spans extend only
    through surviving windows."""
    tok, wins = window_anchors(df, text_col, id_col, k)
    if max_doc_freq is not None:
        if max_doc_freq < 1:
            raise ValueError("max_doc_freq must be >= 1")
        # distinct-doc counts per hash: both aggregations reuse the
        # wins exchange (hash-partitioning on __h satisfies the
        # (__h, __id) and __h clusterings — no new shuffle), and the
        # bounded hot set rides an EXPLICIT broadcast so the anti-join
        # is map-side and PRESERVES the __h partitioning: the first
        # formulation re-repartitioned the surviving anchors, a second
        # full shuffle of the O(corpus words) stream (measured: the
        # capped x10 sweep wall dropped 23.1 → ~13 s without it)
        hot = (
            wins.select("__h", "__id")
            .distinct()
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select("__h")
        )
        wins = wins.join(F.broadcast(hot), "__h", "left_anti")
    cand = (
        wins.select(
            F.col("__id").alias("id_a"), F.col("__off").alias("off_a"), "__h"
        )
        .join(
            wins.select(
                F.col("__id").alias("id_b"), F.col("__off").alias("off_b"), "__h"
            ),
            "__h",
        )
        .where(F.col("id_a") < F.col("id_b"))
    )
    # verify candidates against the actual word slices (collision-proof)
    ta = tok.select(F.col("__id").alias("id_a"), F.col("__w").alias("__wa"))
    tb = tok.select(F.col("__id").alias("id_b"), F.col("__w").alias("__wb"))
    return tok, _verify_window_candidates(cand, ta, tb, k)


def _verify_window_candidates(
    cand: DataFrame, ta: DataFrame, tb: DataFrame, k: int
) -> DataFrame:
    """Slice-verify candidate window matches (collision-proof):
    ``cand`` (id_a, id_b, off_a, off_b, __h) joined to the per-doc
    word arrays ``ta`` (id_a, __wa) / ``tb`` (id_b, __wb); survivors
    carry the verified window STRING ``__win`` — only materialized
    for the candidate sliver, so shared-window counts are
    collision-proof (two distinct strings that xxhash64-collide must
    still count as two).  The output rides one pair-keyed exchange:
    every consumer (shared counts, diagonal streaks, covered
    positions) groups on a superset of (id_a, id_b), so this single
    exchange satisfies them all AND ReuseExchange runs the candidate
    join + verification once instead of once per consumer.  Shared by
    the one-shot family and the cross-set decontamination path."""
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(
            F.slice(F.col("__wa"), F.col("off_a"), k)
            == F.slice(F.col("__wb"), F.col("off_b"), k)
        )
        .select(
            "id_a",
            "id_b",
            "off_a",
            "off_b",
            "__h",
            F.concat_ws(
                " ", F.slice(F.col("__wa"), F.col("off_a"), k)
            ).alias("__win"),
        )
        .repartition("id_a", "id_b")
    )


def exact_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-document EXACT SUBSTRING pairs at ARBITRARY offsets — the
    suffix-array dedup of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022) re-expressed relationally:
    instead of a suffix array over the concatenated corpus, every
    SLIDING ``min_words``-word window is hashed (the anchor), cross-
    document anchor matches become candidates via a uniform-key
    equi-join, candidates are VERIFIED by re-slicing both documents
    (so a 64-bit hash collision can add nothing), and verified
    matches are extended to MAXIMAL runs on their alignment diagonal
    (off_a - off_b) with a row_number streak — the relational twin of
    suffix-array neighborhood extension.

    Exactness: a common word-span of m >= min_words at (a0, b0)
    yields verified window matches at (a0+j, b0+j), j = 0..m-k, all
    on one diagonal and offset-consecutive, so the streak length
    c = m-k+1 recovers m = c+k-1 exactly; conversely any streak of c
    consecutive verified windows chains (overlap k-1) into a common
    span of c+k-1 words.  ``max_run_words`` is therefore the EXACT
    longest common word-substring length (>= min_words) per pair —
    including internally-repetitive documents, because ALL window
    occurrences participate, not just first occurrences.

    Returns (id_a, id_b, shared_windows, max_run_words) with
    id_a < id_b; ``shared_windows`` = number of DISTINCT window
    strings the two documents share.

    Scale shape (the thing the suffix array buys single-node, bought
    here with shuffles): one narrow explode of (id, off, xxhash64)
    per word position — O(corpus words) rows of 20 bytes, never the
    window STRINGS; one equi-join on the uniform 64-bit anchor hash;
    verification and extension touch only candidates.  Windows shared
    by many documents fan out quadratically in the candidate join —
    inherent to PAIR output (Lee et al. emit spans, not pairs);
    callers wanting per-doc duplication fractions at boilerplate
    scale use duplicate_chunk_stats (inverted-index shape, no pair
    expansion).  Text is normalized like every dedup hash here
    (lowercase, collapse whitespace — ``_normalized``).

    100 TB scale note: on web-scale corpora SET ``max_doc_freq``
    (~100 is a good default) — one boilerplate window shared by m
    documents alone costs m²/2 candidate rows (measured: 178 s
    uncapped at 16k docs vs flat 1.7 s capped), and the cap's cost is
    one distinct-doc count + a broadcast anti-join on the bounded
    hot-hash set.  The recall trade is stated at
    ``_verified_window_matches``.
    """
    k = int(min_words)
    if k < 2:
        raise ValueError("min_words must be >= 2")
    tok, verified = _verified_window_matches(
        df, text_col, id_col, k, max_doc_freq=max_doc_freq
    )
    return _pair_scores(verified, k)


def _pair_scores(verified: DataFrame, k: int) -> DataFrame:
    """Pair scoring over a verified-window-match relation (id_a,
    id_b, off_a, off_b, __win): distinct shared window strings +
    the diagonal row_number streak that turns c consecutive verified
    windows into an EXACT longest-common-run of c+k-1 words.  Shared
    by ``exact_substring_pairs`` and ``substring_decontaminate`` so
    the two scorings cannot drift."""
    diag = (F.col("off_a") - F.col("off_b")).alias("__d")
    w = Window.partitionBy("id_a", "id_b", "__d").orderBy("off_a")
    streaks = (
        verified.select("id_a", "id_b", "off_a", diag)
        .withColumn("__sk", F.col("off_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "__d", "__sk")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("__run"))
        .groupBy("id_a", "id_b")
        .agg(F.max("__run").alias("max_run_words"))
    )
    shared = (
        verified.select("id_a", "id_b", "__win")
        .distinct()
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )
    return shared.join(streaks, ["id_a", "id_b"]).select(
        "id_a", "id_b", "shared_windows", "max_run_words"
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """The REMOVAL step of suffix-array dedup (Lee et al. 2022 strip
    one copy of every duplicated span): every word position of a
    document that falls inside a >= ``min_words``-word span shared
    with a SMALLER-id document is dropped, and the document is
    reassembled from its surviving words in order — the smallest id
    in a duplicate group keeps its copy (the ``exact_dedup``
    keep-smallest convention), a document can simultaneously be
    keeper (vs larger ids) and loser (vs smaller ids), and
    cross-document spans only (within-document repeats are a
    different policy, see ``strip_common_tiles`` for the
    boilerplate-tile variant).

    Shares ``_verified_window_matches`` with ``exact_substring_pairs``
    so detect ∘ remove cannot drift: a position is covered iff it lies
    in some verified k-word window match — exactly the positions the
    pair query's runs cover, since maximal runs are unions of
    overlapping verified windows.

    Returns (id_col, clean_text, n_words, kept_words); documents whose
    every word was duplicated come back with clean_text = '' rather
    than disappearing (the strip_common_tiles convention).  Text is
    normalized (lowercase, collapsed whitespace) like every dedup
    operator here.

    Scale shape: the pair-family joins plus one bounded explode of
    covered ranges (matches × k rows), an anti-join on (id, word
    position), and one per-doc reassembly aggregate with an explicit
    (pos, word) sort — partitioning-invariant output.

    100 TB scale note: SET ``max_doc_freq`` (~100) on web-scale
    corpora — the hot-window quadratic and the recall trade are the
    same as ``exact_substring_pairs``'s (see its scale note); a
    boilerplate-hot window then simply stays in every document, which
    for removal is usually the WANTED behavior (strip duplication,
    keep boilerplate for ``strip_common_tiles``).
    """
    k = int(min_words)
    if k < 2:
        raise ValueError("min_words must be >= 2")
    _tok, verified = _verified_window_matches(
        df, text_col, id_col, k, max_doc_freq=max_doc_freq
    )
    covered = (
        verified.select(
            F.col("id_b").alias("__id"),
            F.explode(
                F.sequence(F.col("off_b"), F.col("off_b") + F.lit(k - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    return _reassemble_minus(df, covered, text_col, id_col)


def _reassemble_minus(
    df: DataFrame, covered: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The shared removal back half: drop every (doc, word position)
    in ``covered`` (columns __id, __pos; 1-based) and reassemble each
    document from its surviving words in order.  Reassembly tokenizes
    ALL docs: documents holding no window are never covered and pass
    through intact; fully-covered docs come back with clean_text = ''
    rather than disappearing."""
    words = F.split(_normalized(F.col(text_col)), " ")
    toks = (
        df.select(F.col(id_col).alias("__id"), words.alias("__w"))
        .select("__id", F.posexplode("__w").alias("__p", "__word"))
        .where(F.col("__word") != "")
        .select("__id", (F.col("__p") + 1).alias("__pos"), "__word")
    )
    kept = toks.join(covered, ["__id", "__pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__word"))),
                lambda s: s["__word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("kept_words"),
    )
    n_words = F.when(
        _normalized(F.col(text_col)) != "", F.size(words)
    ).otherwise(F.lit(0))
    base = df.select(F.col(id_col), n_words.cast("int").alias("n_words"))
    return (
        base.join(rebuilt.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_words",
            F.coalesce("kept_words", F.lit(0)).alias("kept_words"),
        )
    )


def frame_signature_pairs(
    frames: DataFrame,
    id_col: str = "media_id",
    idx_col: str = "frame_idx",
    hash_col: str = "dhash",
    min_containment_ppm: int = 0,
) -> DataFrame:
    """VIDEO-level near-duplicate pairs from per-frame perceptual
    hashes (round 9) — the composition the frame-level operators
    stopped short of: ``multimodal.frame_dhash`` gives each sampled
    frame a dHash; here two videos become a candidate pair iff they
    SHARE a frame hash, and each pair is scored by

    - ``shared_hashes``  — distinct frame hashes in both videos,
    - ``n_frames_a/b``   — each video's distinct-hash count,
    - ``containment_ppm``— floor(1e6·shared/min(n_a, n_b)): 1e6 means
      one rendition's frame set is contained in the other's (re-encode,
      brightness shift, trim — the cases exact-md5
      ``video_frame_dedup`` misses),
    - ``max_run_frames`` — the longest ORDERED run of consecutive
      frame indices (both sides) with matching hashes: the diagonal
      (idx_a − idx_b) streak trick of ``exact_substring_pairs`` at
      window size 1, so temporal structure counts, not just the bag
      of frames.

    Input contract: one row per (video, frame_idx).  All-integer
    outputs — no float summation order anywhere.
    ``min_containment_ppm`` drops low-overlap pairs BEFORE run
    extension (the diagonal window then sees only surviving pairs via
    a semi-join) — essential when the per-frame hash space is coarse
    (tiny frames) and coincidental single-frame shares would swamp
    the output.

    Scale shape: candidates come ONLY from the equi-join on the
    64-bit frame hash (uniform keys; a hash shared by m videos costs
    m² pair rows — inherent to pair output, same argument as
    ``hex_hamming_pairs``); per-pair scores are two hash aggregates
    and one bounded window over matched frames.  No all-pairs scan of
    the video table.
    """
    # Materialize the narrow signature table ONCE (guide §8: every
    # shuffle but the last operates on a lightweight proxy — and the
    # proxy is computed once).  The per-video counts and both
    # pair-join sides need DIFFERENT column subsets, so column pruning
    # gives each branch a structurally different subtree and
    # ReuseExchange can never unify them — measured: the
    # video_neardup plan carried ~20 copies of the synth→demux→dhash
    # Python chain (60 Python stages).  The checkpoint is
    # (id, idx, hash) rows — ~24 B/row, frames-per-media × corpus —
    # which spills to local disk at scale; recomputing a media decode
    # per branch is strictly worse.
    f = (
        frames.select(
            F.col(id_col).alias("__id"),
            F.col(idx_col).cast("int").alias("__idx"),
            F.col(hash_col).alias("__h"),
        )
        .repartition("__h")
        .localCheckpoint(eager=True)
    )
    per_video = f.groupBy("__id").agg(
        F.countDistinct("__h").alias("__n")
    )
    da = f.select(F.col("__id").alias("id_a"), F.col("__idx").alias("__ia"), "__h")
    db = f.select(F.col("__id").alias("id_b"), F.col("__idx").alias("__ib"), "__h")
    matched = (
        da.join(db, "__h")
        .where(F.col("id_a") < F.col("id_b"))
        # pair-keyed exchange shared by shared-counts and run extension
        .repartition("id_a", "id_b")
    )
    shared = (
        matched.select("id_a", "id_b", "__h")
        .distinct()
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_hashes"))
    )
    na = per_video.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_frames_a"))
    nb = per_video.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_frames_b"))
    scored = (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "containment_ppm",
            F.floor(
                F.lit(1_000_000)
                * F.col("shared_hashes")
                / F.least("n_frames_a", "n_frames_b")
            ).cast("long"),
        )
    )
    pairs_in = matched.select(
        "id_a", "id_b", "__ia", (F.col("__ia") - F.col("__ib")).alias("__d")
    )
    if min_containment_ppm > 0:
        scored = scored.where(F.col("containment_ppm") >= min_containment_ppm)
        # run extension only for surviving pairs: the diagonal window
        # sorts the (usually 100x smaller) survivor match set
        pairs_in = pairs_in.join(
            scored.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
        )
    w = Window.partitionBy("id_a", "id_b", "__d").orderBy("__ia")
    runs = (
        pairs_in.withColumn("__sk", F.col("__ia") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "__d", "__sk")
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy("id_a", "id_b")
        .agg(F.max("__run").cast("int").alias("max_run_frames"))
    )
    return scored.join(runs, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "shared_hashes",
        "n_frames_a",
        "n_frames_b",
        "containment_ppm",
        "max_run_frames",
    )


def substring_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 6,
) -> DataFrame:
    """SUBSTRING-level benchmark decontamination (the GPT-3 appendix-C
    / Lee et al. 2022 §6.2 flavor): flag every training document that
    shares an exact word-span of >= ``min_words`` with ANY held-out
    evaluation document, with the exact longest shared run — stronger
    evidence than the bag-of-grams ``decontaminate`` (which broadcasts
    the eval gram SET and loses offsets/runs) and the exact tool the
    published decontamination pipelines actually use.

    Reuses the verified-window machinery of ``exact_substring_pairs``
    verbatim — anchors from ``window_anchors``, slice verification via
    ``_verify_window_candidates`` (hash collisions can add nothing),
    run extension via ``_pair_scores`` — but joins CORPUS anchors
    against EVAL anchors only, so candidate fan-out is corpus-side ×
    eval-side per window (never corpus²).  The eval side is tiny by
    construction (benchmarks are thousands of docs against billions),
    so its anchor stream rides an EXPLICIT broadcast: the corpus-side
    O(corpus words) anchor stream never shuffles at all.

    Returns (id, n_eval_partners, max_shared_run_words) — one row per
    CONTAMINATED corpus document (consumers anti-join or inspect);
    id_a/id_b universes are disjoint so no ordering filter applies.
    """
    k = int(min_words)
    if k < 2:
        raise ValueError("min_words must be >= 2")
    verified = _cross_set_verified(corpus, eval_df, text_col, id_col, k)
    pairs = _pair_scores(verified, k)
    return pairs.groupBy(F.col("id_a").alias("id")).agg(
        F.countDistinct("id_b").alias("n_eval_partners"),
        F.max("max_run_words").alias("max_shared_run_words"),
    )


def _cross_set_verified(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Verified k-word window matches CORPUS (id_a/off_a) × EVAL
    (id_b/off_b): anchors from ``window_anchors``, eval anchors ride
    an explicit broadcast (the corpus-side anchor stream never
    shuffles), slice verification via ``_verify_window_candidates``
    so hash collisions can add nothing."""
    tok_c, wins_c = window_anchors(corpus, text_col, id_col, k)
    tok_e, wins_e = window_anchors(eval_df, text_col, id_col, k)
    cand = wins_c.select(
        F.col("__id").alias("id_a"), F.col("__off").alias("off_a"), "__h"
    ).join(
        F.broadcast(
            wins_e.select(
                F.col("__id").alias("id_b"), F.col("__off").alias("off_b"), "__h"
            )
        ),
        "__h",
    )
    ta = tok_c.select(F.col("__id").alias("id_a"), F.col("__w").alias("__wa"))
    tb = tok_e.select(F.col("__id").alias("id_b"), F.col("__w").alias("__wb"))
    return _verify_window_candidates(cand, ta, tb, k)


def strip_contaminated_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 6,
) -> DataFrame:
    """The REMOVAL step of substring decontamination — the cross-set
    twin of ``strip_duplicate_spans`` (Lee et al. 2022 §6.2 trim
    rather than drop): every corpus word position inside a
    >= ``min_words``-word span shared with ANY evaluation document is
    removed, and the corpus document reassembles from its surviving
    words in order.  Unlike the internal-dup strip there is no keeper
    side: eval text must never survive in training data, so EVERY
    contaminated span is stripped from the corpus copy (the eval set
    itself is untouched — it is the held-out benchmark).

    Shares ``_cross_set_verified`` with ``substring_decontaminate``
    so detect ∘ remove cannot drift: exactly the positions the
    detection query's runs cover are removed.  Returns
    (id_col, clean_text, n_words, kept_words) — one row per CORPUS
    document, normalized text like every dedup operator here.

    Scale shape: the detection joins (corpus anchors never shuffle,
    eval side broadcast) plus one bounded covered-range explode
    (matches × k), an anti-join on (id, position), and the per-doc
    reassembly aggregate.  The hot-window consideration of
    ``strip_duplicate_spans`` does not arise: fan-out is corpus×eval
    per window, never corpus².
    """
    k = int(min_words)
    if k < 2:
        raise ValueError("min_words must be >= 2")
    verified = _cross_set_verified(corpus, eval_df, text_col, id_col, k)
    covered = (
        verified.select(
            F.col("id_a").alias("__id"),
            F.explode(
                F.sequence(F.col("off_a"), F.col("off_a") + F.lit(k - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    return _reassemble_minus(corpus, covered, text_col, id_col)
