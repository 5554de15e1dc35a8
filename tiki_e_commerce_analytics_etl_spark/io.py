"""Partitioned parquet IO + schema conformance.

Scale notes:
- Writes are Hive-partitioned by the date grain so Catalyst prunes
  partitions on every incremental read (reference: partition-decorator
  loads, load_to_bq.py:166-173; read-side ``WHERE date='{ds}'``,
  analytics_dag.py:159).
- ``overwrite_partitions`` relies on dynamic partition overwrite, the
  Spark-native equivalent of the reference's idempotent
  DELETE+INSERT / WRITE_TRUNCATE-partition pattern (K3/K7/K8).
- ``conform_schema`` is the reference's ordered-schema enforcement
  (add-missing-as-NULL + reorder + cast, transform_tiki.py:751-761)
  as a single ``select`` — pure projection, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Defined beside their daily-batch callers so the DAGs import them
# without this module; re-exported for the existing callers.
from tiki_e_commerce_analytics_etl_spark.plans.snapshot import conform_schema
from tiki_e_commerce_analytics_etl_spark.plans.testdata_mapping import read_table


# Spread-width floor: one task per 64 KiB of estimated input (hundreds
# of documents, ~0.5 s of interpreted higher-order-function work).
_SPREAD_BYTES_PER_TASK = 65536


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-spread ``df`` ahead of expensive per-row map work
    IFF its scan is too small to split wide on its own — the guarded
    form of "repartition immediately after the read" (optimization
    guide §2.5, input skew).  A small corpus arrives as ONE
    single-row-group parquet split, so any expensive interpreted
    map-side work (higher-order-function lambdas, n-gram explodes)
    downstream runs on a single task with every other core idle;
    spreading the raw rows first is one trivial shuffle amortized
    over that work.  At scale the scan already has >= parallelism
    splits and this is a no-op — never a forced repartition of a big
    corpus.  Only worth applying in front of work heavy enough to
    amortize the shuffle: a blanket floor in ``read_table`` was
    measured end-to-end and rejected (see ``read_table``'s note).

    - The size probe is the OPTIMIZED LOGICAL plan's estimated bytes
      (parquet footer sizes for scans), not ``df.rdd.getNumPartitions()``
      — the RDD conversion compiles a full physical plan per call on
      the driver and bypasses AQE's view of the plan.
    - Plans without size statistics (RDD-backed frames,
      ``createDataFrame``, ``localCheckpoint``) report
      ``spark.sql.defaultSizeInBytes`` (``Long.MaxValue`` by default).
      That sentinel means "unknown", not "wide": such a frame falls
      back to its partition count and is spread to the default
      parallelism when it has fewer partitions.
    - The spread width is floored at one task per
      ``_SPREAD_BYTES_PER_TASK`` estimated input bytes instead of
      always fanning to ``defaultParallelism``: at 32 local cores the
      unconditional 32-way fan-out made every consumer slower than at
      8 (0.31-0.8× scaling), since a tiny corpus split 32 ways pays 32
      task launches and 32 concurrent Python/HOF evaluations for
      milliseconds of work each.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if par <= 1:
        return df
    # The SQLConf getters parse size-suffixed values ("64m") to bytes.
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if est >= int(conf.defaultSizeInBytes()):
        if df._jdf.rdd().getNumPartitions() >= par:
            return df
        return df.repartition(par)
    if est >= par * int(conf.filesMaxPartitionBytes()):
        return df  # the scan already yields >= parallelism splits
    width = min(par, max(2, -(-est // _SPREAD_BYTES_PER_TASK)))
    return df.repartition(width)


def read_partitioned(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | tuple[str, ...] = (),
    mode: str = "overwrite",
    collect_stats: bool = True,
    key_cols: list[str] | tuple[str, ...] = (),
) -> None:
    """Hive-layout parquet write; with ``partitionOverwriteMode=dynamic``
    (set by session.configure) mode='overwrite' replaces only the
    partitions present in ``df`` — the reference's partition-truncate
    load (load_to_bq.py:185-188) without any decorator machinery.

    By default an ``ANALYZE TABLE``-style stats sidecar (``_stats.json``:
    row count + byte size) is published next to the data: the row count
    rides the write itself as an ``Observation`` metric (zero extra
    passes — BigQuery gives the reference these numbers for free) and
    feeds downstream sizing (``dedup.keep_latest_auto``,
    ``sampling.auto_shards``, ``multimodal.repartition_for_payload``).
    Cost per mode: full replace and append are O(batch) — observed
    rows, plus the previous sidecar for append; a dynamic PARTITION
    overwrite can't be decomposed that way (unknown partitions were
    replaced), so it re-sums footers, O(table files) of metadata reads.
    Remote paths skip the sidecar (stats.write_stats is a no-op there).

    ``key_cols`` declares the table's logical key columns: an
    approx-distinct cardinality rides the same Observation (HLL partial
    agg fused into the write — still zero extra passes) and is
    published as ``distinct_<col>`` per column plus a combined
    ``distinct_<c1>__<c2>`` entry when more than one is declared, which
    is exactly what ``operators.dedup.keep_latest_auto`` consults to
    pick its formulation.  Distinct counts don't add, so append mode
    publishes ``max(previous, batch)`` — a documented LOWER bound
    (true distinct of a union is ≥ either side) — and a dynamic
    partition overwrite drops the entries rather than publish stale
    numbers."""
    from pyspark.sql import Observation

    obs = None
    distinct_exprs: dict[str, object] = {}
    if collect_stats:
        if key_cols:
            for c in key_cols:
                distinct_exprs[f"distinct_{c}"] = F.approx_count_distinct(c)
            if len(key_cols) > 1:
                combined = "__".join(key_cols)
                distinct_exprs[f"distinct_{combined}"] = F.approx_count_distinct(
                    F.struct(*key_cols)
                )
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *[e.alias(k) for k, e in distinct_exprs.items()],
        )
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    if collect_stats:
        from . import stats as _stats

        got = obs.get
        batch_rows = int(got["rows"] or 0)
        distincts = {k: int(got[k] or 0) for k in distinct_exprs}
        if mode == "overwrite" and not partition_cols:
            rows = batch_rows  # full replace: batch IS the table
        elif mode == "append":
            prev = _stats.read_stats(path)
            prev_rows = prev.get("row_count") if prev else None
            rows = prev_rows + batch_rows if prev_rows is not None else None
            # lower-bound merge: |distinct(A ∪ B)| >= max(|A|, |B|)
            for k in list(distincts):
                if prev and isinstance(prev.get(k), int):
                    distincts[k] = max(distincts[k], prev[k])
        else:
            rows = None  # partition overwrite: recount from footers
            distincts = {}  # replaced-partition distincts are unknowable
        _stats.write_stats(path, rows, **distincts)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    atomic: bool = False,
) -> None:
    """Idempotent partition replace.  Default = Spark dynamic partition
    overwrite (in-place: fastest, but a reader racing the rewrite can
    observe a partial partition and a killed writer truncates it).
    ``atomic=True`` routes through :mod:`.acid`'s manifest commit —
    concurrent readers see old-or-new snapshots only and writer death
    never corrupts, matching the ACID the reference inherits from
    BigQuery (load_to_bq.py:272-299); read back with
    ``acid.read_atomic``."""
    if atomic:
        from . import acid

        acid.atomic_overwrite_partitions(df, path, partition_cols)
    else:
        write_partitioned(df, path, partition_cols, mode="overwrite")


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed managed table (catalog-backed — bucketing
    metadata doesn't survive a bare ``.parquet(path)`` write).

    This is the co-located-join primitive: two tables bucketed on the
    same key with the same bucket count join with NO exchange on either
    side — the reference's `CLUSTER BY` (bigquery_schema.sql:31,57)
    upgraded from read-locality to shuffle elimination.  Use for the
    big fact↔fact joins that AQE can't broadcast (e.g. snapshot ↔
    trends at full history scale); ``sort_cols`` additionally enables
    sort-merge without a sort step and row-group min/max skipping.

    Robustness: an interrupted run can leave the table's warehouse
    directory on disk with NO catalog entry (a fresh metastore never
    heard of it), in which case ``saveAsTable`` fails with
    LOCATION_ALREADY_EXISTS and ``DROP TABLE IF EXISTS`` can't help.
    For mode='overwrite' on an uncataloged table we remove the
    orphaned location first — same end state an overwrite of a
    cataloged table would produce.  The location is derived from the
    database the name resolves to (the current one when unqualified),
    the same database ``tableExists`` looked in, so a table of another
    database is never touched.
    """
    spark = df.sparkSession
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        import os as _os
        import shutil as _shutil
        from urllib.parse import urlparse as _urlparse

        db, _, name = table.rpartition(".")
        db = db or spark.catalog.currentDatabase()
        if spark.catalog.databaseExists(db):
            db_loc = _urlparse(spark.catalog.getDatabase(db).locationUri)
            if db_loc.scheme in ("", "file"):  # local warehouse only; remote FS never orphans here
                path = _os.path.join(db_loc.path, name.lower())
                if _os.path.isdir(path):
                    _shutil.rmtree(path, ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    compression: str = "zlib",
    mode: str = "overwrite",
) -> None:
    """ORC sink (Spark-native columnar twin of the parquet writer —
    same Hive partition layout, so Catalyst prunes partitions
    identically).  ORC matters as an interchange zone: Hive/Trino
    warehouses frequently hand training pipelines ORC, and Spark's
    reader keeps predicate pushdown + column pruning + vectorized
    decode for it, so a 100 TB ORC raw zone scans like parquet."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan; pass ``schema`` to skip inference (and get the same
    ordered-schema conformance contract as the parquet raw zone)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.orc(path)
    return conform_schema(df, schema) if schema is not None else df


def _order_checksum(id_col: str):
    """Order-sensitive shard checksum: Σ (pos · h(id) mod M) mod M with
    M = 2³¹−1 and h the first 6 md5 hex digits (≤ 2²⁴).  The modular
    reduction happens PER ROW before the sum: pos·h ≤ 2⁶³⁄₂²⁴ rows
    before the product overflows int64, and the summed residues stay
    under int64 for ~4·10⁹ rows per shard — a naive Σ pos·h silently
    wraps at ~10⁵ rows × 32-bit hashes under non-ANSI arithmetic,
    which is exactly the 100 TB corruption a checksum must not have.
    Identical expression in writer and verifier by construction."""
    m = F.lit(2147483647)
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("long")
    return F.pmod(F.sum(F.pmod(F.col("pos") * h, m)), m)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    token_col: str | None = None,
    n_shards: int | None = 16,
    seed: int = 7,
) -> dict:
    """Training-shard EXPORT: deterministically shuffle the corpus
    (``sampling.shuffle_shards`` — md5 permutation, per-shard
    row_number, no global sort), write one Hive partition per shard
    with rows PHYSICALLY ordered by serving position, and drop a
    ``_manifest.json`` (underscore: invisible to Spark readers, like
    ``_SUCCESS``) a data loader can verify before an epoch:
    per-shard row counts, token sums (when ``token_col`` is given)
    and a position-weighted integer checksum folded over (pos, id) —
    verification detects truncated, substituted, or duplicated rows
    and any edit to the stored ``pos`` column.

    Serving order is DEFINED by the stored ``pos`` column, not by
    physical file order: loaders MUST sort each shard by ``pos``
    (or read via ``verify_training_shards`` + an ORDER BY pos scan).
    Because the checksum aggregates the stored (pos, id) pairs with a
    commutative sum, a physical rewrite of a shard file that keeps
    the same (pos, id) rows passes verification — which is correct
    under the sort-by-pos contract, where physical order carries no
    meaning.  A loader that served rows in raw file order would skip
    that contract and could see a permutation the checksum cannot
    flag.

    Everything is deterministic in (corpus, seed, n_shards): re-export
    reproduces byte-identical ordering and manifest, so a 100 TB
    export is resumable/verifiable per shard rather than trusted as a
    whole.  The checksum is Σ pos·h(id) mod 2³¹−1 per shard with h
    the first 6 md5 hex digits (see ``_order_checksum``) —
    pos-weighted and computable as one hash aggregate; no collect
    beyond the bounded per-shard manifest rows.

    Returns the manifest dict (also written to ``path/_manifest.json``).
    """
    import json as _json
    import os as _os

    from tiki_e_commerce_analytics_etl_spark.operators.sampling import (
        auto_shards,
        shuffle_shards,
    )

    # Resolve the scale-proportional default HERE so the manifest
    # records the actual shard count a verifier/loader must expect.
    if n_shards is None:
        n_shards = auto_shards(df)
    sharded = shuffle_shards(df, id_col=id_col, n_shards=n_shards, seed=seed)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        _order_checksum(id_col).alias("checksum"),
    ]
    if token_col is not None:
        aggs.append(F.sum(F.col(token_col)).cast("long").alias("tokens"))
    stats = sharded.groupBy("shard").agg(*aggs).orderBy("shard").collect()
    manifest = {
        "n_shards": n_shards,
        "seed": seed,
        "id_col": id_col,
        "total_rows": int(sum(r["rows"] for r in stats)),
        "shards": {
            str(r["shard"]): {
                "rows": int(r["rows"]),
                "checksum": int(r["checksum"]),
                **({"tokens": int(r["tokens"])} if token_col is not None else {}),
            }
            for r in stats
        },
    }
    with open(_os.path.join(path, "_manifest.json"), "w") as f:
        _json.dump(manifest, f, sort_keys=True)
    return manifest


def verify_training_shards(spark: SparkSession, path: str) -> DataFrame:
    """Loader-side integrity check of a ``write_training_shards``
    export: re-fold each shard's position-weighted checksum and row
    count from the files and compare against the manifest.  Returns
    one row per shard (shard, rows, checksum, manifest_rows,
    manifest_checksum, ok) — a failed ``ok`` pinpoints WHICH shard
    has truncated, substituted, or duplicated rows (or edited pos
    values) without re-reading the rest.  Physical file order is NOT
    checked: serving order is the stored ``pos`` column and loaders
    must sort by it (see ``write_training_shards``)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_manifest.json")) as f:
        manifest = _json.load(f)
    id_col = manifest["id_col"]
    df = spark.read.parquet(path)
    got = df.groupBy("shard").agg(
        F.count(F.lit(1)).alias("rows"),
        _order_checksum(id_col).alias("checksum"),
    )
    rows = [
        (int(k), v["rows"], v["checksum"])
        for k, v in manifest["shards"].items()
    ]
    want = spark.createDataFrame(
        rows, "shard int, manifest_rows long, manifest_checksum long"
    )
    return (
        got.join(F.broadcast(want), "shard", "full")
        .select(
            "shard",
            "rows",
            "checksum",
            "manifest_rows",
            "manifest_checksum",
            (
                F.col("rows").eqNullSafe(F.col("manifest_rows"))
                & F.col("checksum").eqNullSafe(F.col("manifest_checksum"))
            ).alias("ok"),
        )
    )
