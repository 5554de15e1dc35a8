"""Structured-Streaming wrappers for the reference's incremental /
late-data semantics (SURVEY.md §2.9).

The reference is daily batch, but its behaviors map one-to-one:
  - daily partition processing      → file-source micro-batches
  - 30-day rolling MERGE refetch    → foreachBatch upsert sink
  - is_partial provisional rows     → pre-watermark results
  - idempotent DELETE+INSERT        → exactly-once partition overwrite
    inside foreachBatch
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark.operators.merge import merge_upsert


def windowed_scores(events: DataFrame, ts_col: str = "ts", watermark: str = "1 day") -> DataFrame:
    """Watermarked daily aggregate — the trends group-max (A1) with
    late-data tolerance: rows older than the watermark are final;
    newer ones may still be revised (is_partial semantics)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"), F.col("keyword"))
        .agg(F.max("score").alias("score"))
        .select(F.col("w.start").cast("date").alias("date"), "keyword", "score")
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming ingest dedup: first occurrence of each key wins, with
    bounded state — the streaming twin of the batch first-seen dedup
    (D2) that a crawler re-delivery / at-least-once source needs.

    ``dropDuplicatesWithinWatermark`` keeps a key in state only until
    the watermark passes it, so state is O(keys per watermark window),
    not O(all keys ever) — the property that makes ingest dedup viable
    on an unbounded stream.  (Plain ``dropDuplicates`` on a stream
    accumulates state forever.)
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def foreach_batch_upsert(
    target_path: str,
    keys: list[str],
    tmp_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink that MERGEs each micro-batch into a parquet
    target — the streaming twin of the K6 composite-key upsert
    (trends_dag.py:652-677).  Replay-safe only because MERGE by key is
    idempotent, and the double overwrite is NOT atomic for concurrent
    readers; prefer ``foreach_batch_upsert_atomic`` (acid manifest
    commit, true exactly-once via transactional batch ids, readers
    always see complete snapshots).  Kept for bare-parquet targets
    read directly by ``spark.read.parquet``."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        try:
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, batch, keys)
        except Exception:  # first batch: no target yet
            merged = batch
        merged.write.mode("overwrite").parquet(tmp_path)
        spark.read.parquet(tmp_path).write.mode("overwrite").parquet(target_path)

    return apply


def foreach_batch_upsert_atomic(
    target_path: str,
    keys: list[str],
    app_id: str,
    stat_cols: list[str] = (),
) -> Callable[[DataFrame, int], None]:
    """Exactly-once foreachBatch MERGE sink on the acid manifest
    commit: each micro-batch MERGEs into the latest committed snapshot
    and commits atomically with the (app_id, batch_id) transaction
    recorded in the manifest.  A replayed batch after a crash-restart
    (Structured Streaming re-runs the last uncommitted batch from the
    checkpoint) is detected by its batch id and SKIPPED inside the
    serialized commit — exactly-once output without relying on MERGE
    idempotence, and readers racing the sink always see a complete
    snapshot (the `foreach_batch_upsert` temp-swap dance gives
    neither guarantee: its double overwrite can expose a half-written
    target and replays rewrite it).
    """
    from tiki_e_commerce_analytics_etl_spark import acid

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if acid.last_txn_version(target_path, app_id) >= batch_id:
            return  # replay of an already-committed batch
        try:
            target = acid.read_atomic(spark, target_path)
        except FileNotFoundError:
            merged = batch
        else:
            merged = merge_upsert(target, batch, keys)
        # stat_cols: the continuously-updated table keeps per-file zone
        # maps current, so readers range-prune against the live sink.
        acid.atomic_overwrite_partitions(
            merged, target_path, txn_app=app_id, txn_version=batch_id,
            stat_cols=list(stat_cols),
        )

    return apply


def foreach_batch_bloom_merge(
    target_path: str,
    key_col: str,
    app_id: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 7,
) -> Callable[[DataFrame, int], None]:
    """Exactly-once streaming maintenance of the corpus membership
    bitmap (operators/bloom.py): each micro-batch's keys fold into the
    acid-committed word table with ``bit_or`` — the sketch equivalent
    of the MERGE sink above: a batch dedup probes the continuously-
    maintained bitmap instead of joining ever-growing history.

    Replayed batches are skipped by (app_id, batch_id) inside the
    serialized commit, and bloom_merge is idempotent anyway (OR-ing a
    batch twice sets the same bits) — belt and braces.  The commit
    rewrites only the ≤ m/63-row word table, never the corpus.
    """
    from tiki_e_commerce_analytics_etl_spark import acid
    from tiki_e_commerce_analytics_etl_spark.operators import bloom

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if acid.last_txn_version(target_path, app_id) >= batch_id:
            return
        words = bloom.bloom_build(batch, key_col, m_bits=m_bits, k=k, seed=seed)
        try:
            existing = acid.read_atomic(spark, target_path)
        except FileNotFoundError:
            pass
        else:
            words = bloom.bloom_merge(existing, words)
        acid.atomic_overwrite_partitions(
            words, target_path, txn_app=app_id, txn_version=batch_id
        )

    return apply


def foreach_batch_sketch_merge(
    target_root: str,
    key_col: str,
    app_id: str,
    depth: int = 4,
    width: int = 4096,
    seed: int = 11,
) -> Callable[[DataFrame, int], None]:
    """Exactly-once streaming maintenance of the per-key FREQUENCY and
    CARDINALITY summaries (operators/sketch.py): each micro-batch's
    CMS cells fold into ``{root}/cms`` by cell sum (≡ the union
    sketch, exactly) and its HLL sketch unions into ``{root}/hll`` —
    so point-frequency, join-cardinality, and distinct-count questions
    over ALL history cost a KB-sized read, never a scan.  The 100 TB
    shape for planner statistics over a live stream.

    Crash consistency: per-table commits are idempotent under
    (app_id, batch_id) — each table checks its OWN cursor before
    merging, because unlike the bloom sink a replayed CMS/HLL fold is
    NOT naturally idempotent (re-summing a batch's cells would
    double-count it).  The
    whole-batch replay check is against the LAST table in the chain
    (hll); a crash between the cms and hll commits re-runs only the
    missing fold on redelivery.
    """
    from tiki_e_commerce_analytics_etl_spark import acid
    from tiki_e_commerce_analytics_etl_spark.operators import sketch as sketch_ops

    cms_path = f"{target_root}/cms"
    hll_path = f"{target_root}/hll"

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if acid.last_txn_version(hll_path, app_id) >= batch_id:
            return
        if acid.last_txn_version(cms_path, app_id) < batch_id:
            cells = sketch_ops.cms_build(
                batch, key_col, depth=depth, width=width, seed=seed
            )
            try:
                existing = acid.read_atomic(spark, cms_path)
            except FileNotFoundError:
                pass
            else:
                cells = sketch_ops.cms_merge(existing, cells)
            acid.atomic_overwrite_partitions(
                cells, cms_path, txn_app=app_id, txn_version=batch_id
            )
        sk = batch.agg(F.expr(f"hll_sketch_agg({key_col})").alias("sk"))
        try:
            existing_h = acid.read_atomic(spark, hll_path)
        except FileNotFoundError:
            pass
        else:
            sk = (
                sk.crossJoin(F.broadcast(existing_h.select(F.col("sk").alias("__old"))))
                .select(F.expr("hll_union(sk, __old)").alias("sk"))
            )
        acid.atomic_overwrite_partitions(
            sk, hll_path, txn_app=app_id, txn_version=batch_id
        )

    return apply


def read_sketch_stats(
    spark: SparkSession, target_root: str
) -> tuple[DataFrame, DataFrame]:
    """(cms_cells, hll_row) for a store maintained by
    ``foreach_batch_sketch_merge`` — feed cms_cells to
    ``sketch.cms_estimate``/``cms_join_size`` and read the distinct
    estimate with ``hll_sketch_estimate(sk)``."""
    from tiki_e_commerce_analytics_etl_spark import acid

    return (
        acid.read_atomic(spark, f"{target_root}/cms"),
        acid.read_atomic(spark, f"{target_root}/hll").select(
            F.expr("hll_sketch_estimate(sk)").alias("n_distinct")
        ),
    )

