"""Catalog-style statistics without a metastore.

The reference leans on BigQuery's automatic table statistics (row
counts and logical bytes are free metadata there); Spark gets the same
numbers from ``ANALYZE TABLE`` — but only for catalog tables, and this
engine mostly reads bare parquet paths.  This module supplies the two
stats the operators actually consume — row count and byte size — from
sources that cost **no data scan**:

1. **Parquet footers** (``estimated_row_count``): ``df.inputFiles()``
   is driver-side metadata; each file's footer stores its exact row
   count, so a scan-shaped DataFrame gets an EXACT count in O(#files)
   footer reads.  Plans with Filter/Join/Aggregate nodes return the
   scan count as a documented UPPER bound (still the right direction
   for bucket sizing: overestimating shrinks buckets) unless
   ``require_exact=True``.
2. **Catalyst plan stats** (``estimated_size_bytes``): the optimizer's
   own ``sizeInBytes`` estimate (file sizes for scans, propagated
   through operators) — what AQE and the broadcast-threshold planner
   already use internally.
3. **Persisted sidecars** (``write_stats``/``read_stats``): an
   ``_stats.json`` written next to a saved table.  The row count rides
   the write itself as an ``Observation`` metric — no second pass —
   mirroring ``ANALYZE TABLE ... COMPUTE STATISTICS`` at zero cost.
   The underscore prefix keeps it invisible to Spark's directory scans.

Consumers: ``operators.dedup.keep_latest_auto`` picks its formulation
from (1)'s row count and (3)'s distinct-key counts;
``operators.sampling.auto_shards`` sizes its shard count from (1),
falling back to (3)'s sidecar and then to one ``count()``;
``operators.multimodal.repartition_for_payload`` accepts (3)'s
``total_bytes`` for remote-storage inputs where its own local
file-size probe sees nothing.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

_STATS_FILE = "_stats.json"

# Optimized-plan nodes that keep output rows == scan rows (footer sum
# is then exact).  Anything else (Filter, Join, Aggregate, Generate,
# Window-with-limit, Sample, ...) makes the footer sum an upper bound.
_ROW_PRESERVING = {"Project", "LogicalRelation", "Relation", "RepartitionByExpression", "Repartition", "Sort"}


def _plan_node_names(df: DataFrame) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    out: list[str] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return out


def _local_paths(df: DataFrame) -> list[str]:
    paths = []
    for uri in df.inputFiles():
        p = urlparse(uri)
        if p.scheme in ("file", ""):
            paths.append(p.path)
    return paths


def _read_stats_uri(spark, dir_uri: str) -> dict | None:
    """``_stats.json`` under ``dir_uri``, any scheme: plain file I/O
    for local paths, the Hadoop FileSystem API otherwise (one tiny
    metadata file — the route that still works on object storage,
    where local parquet-footer reads are impossible)."""
    parsed = urlparse(dir_uri)
    if parsed.scheme in ("", "file"):
        return read_stats(parsed.path or dir_uri)
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(dir_uri.rstrip("/") + "/" + _STATS_FILE)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)
    except Exception:
        return None


def _sidecar_row_count(df: DataFrame) -> int | None:
    """Row count from the ``_stats.json`` sidecars the engine's writes
    publish (``io.write_partitioned`` / ``write_stats``): each scanned
    file's table root is found by probing ≤3 ancestor directories
    (past Hive ``key=value`` partition dirs), each distinct root
    counts once, and if ANY scanned file has no stats-backed root the
    whole estimate is abandoned (a partial sum would UNDERcount, the
    wrong direction for bucket sizing)."""
    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    probed: dict[str, dict | None] = {}
    found: dict[str, int] = {}
    for uri in files:
        cur = uri.rsplit("/", 1)[0]
        hit = None
        for _ in range(3):
            if cur not in probed:
                probed[cur] = _read_stats_uri(spark, cur)
            st = probed[cur]
            if st is not None and isinstance(st.get("row_count"), int):
                hit = cur
                break
            nxt = cur.rsplit("/", 1)[0]
            if nxt == cur or nxt.endswith(":/") or nxt.endswith("://") or not nxt:
                break
            cur = nxt
        if hit is None:
            return None
        found[hit] = probed[hit]["row_count"]
    return sum(found.values()) if found else None


def estimated_row_count(df: DataFrame, require_exact: bool = False) -> int | None:
    """Row-count estimate, metadata cost only, tried in order:

    1. **Parquet footers** of locally readable inputs — exact per file.
    2. **Stats sidecars** (``_stats.json`` published at write time) via
       the Hadoop FileSystem API — the route that survives REMOTE
       storage, where (1) sees nothing.  The sidecar carries the whole
       table's count, so under partition pruning it is an upper bound
       — the documented (and for bucket sizing, correct) direction.

    Returns None when neither source backs the plan (e.g. in-memory
    relations) or, with ``require_exact=True``, when the plan contains
    non-row-preserving operators (sidecars are never used for exact
    mode: pruned scans keep no marker in the optimized plan).
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    paths = [p for p in _local_paths(df) if p.endswith(".parquet") and os.path.exists(p)]
    if not paths:
        return None if require_exact else _sidecar_row_count(df)
    if require_exact:
        extra = set(_plan_node_names(df)) - _ROW_PRESERVING
        if extra:
            return None
    total = 0
    for p in paths:
        total += pq.ParquetFile(p).metadata.num_rows
    return total


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own sizeInBytes estimate for the optimized plan (the
    number the broadcast planner and AQE consult); None if the bridge
    call fails or the planner reports its defaultSizeInBytes sentinel."""
    try:
        # py4j surfaces the scala BigInt as a Python int directly
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # Long.MaxValue / conf default means "unknown"
    return size if 0 <= size < (1 << 62) else None


def write_stats(path: str, row_count: int | None, size_bytes: int | None = None, **extra) -> dict | None:
    """Persist a stats sidecar next to a saved table.  ``row_count`` /
    ``size_bytes`` left as None are recomputed from the directory's
    parquet footers / file sizes (metadata-only, no data scan).

    Non-local paths (s3a://, hdfs://, ...) return None without writing:
    the sidecar is published with os-level file APIs, and a data write
    that succeeded must never be failed retroactively by its stats
    bookkeeping."""
    if urlparse(path).scheme not in ("", "file"):
        return None
    if (row_count is None or size_bytes is None) and os.path.isdir(path):
        import pyarrow.parquet as pq

        fsum = rsum = 0
        for dirpath, _dirs, files in os.walk(path):
            for name in files:
                if name.endswith(".parquet") and not name.startswith((".", "_")):
                    full = os.path.join(dirpath, name)
                    fsum += os.path.getsize(full)
                    if row_count is None:
                        rsum += pq.ParquetFile(full).metadata.num_rows
        if row_count is None:
            row_count = rsum
        if size_bytes is None:
            size_bytes = fsum
    stats = {"row_count": row_count, "size_bytes": size_bytes, **extra}
    tmp = os.path.join(path, _STATS_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, _STATS_FILE))  # atomic publish
    return stats


def read_stats(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _STATS_FILE)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None
