"""Atomic, concurrent-writer-safe table commits on a plain filesystem.

The reference gets ACID for free from BigQuery — a WRITE_TRUNCATE load
into a partition decorator is atomic per partition, and readers never
observe a half-loaded partition (load_to_bq.py:185-188, 272-299;
dags/analytics_dag.py:65-68).  ``io.overwrite_partitions`` (dynamic
partition overwrite) has no such guarantee: Spark deletes and rewrites
partition directories in place, so a reader racing the rewrite can list
a partially-written partition, and a writer killed mid-rewrite leaves
the table truncated.

This module supplies the missing guarantee with the same design Delta
Lake / Iceberg use (both public): **immutable data files + an atomic
metadata pointer**.

Layout under a table root::

    <path>/data/txn-<id>/...          immutable parquet (Hive dirs when
                                      partitioned); INVISIBLE until a
                                      manifest references it
    <path>/_manifests/v00000042.json  immutable snapshot: partition ->
                                      [relative data file paths], per-
                                      partition row counts, and the
                                      schema each live txn wrote (each
                                      distinct DDL string stored once,
                                      ``txn_schema`` maps txn -> index)

Commit protocol (``atomic_overwrite_partitions``):

1. Write the DataFrame's files under a fresh ``data/txn-<uuid>/``
   directory.  Readers only open files named by a committed manifest,
   so in-progress writes are invisible *by construction* — no hidden-
   file filtering tricks, no rename dance over live directories.
2. Read the current max manifest version N and merge the new
   partition file lists over the old snapshot (partitions present in
   the new data replace; absent partitions carry forward — the
   reference's partition-truncate semantics).
3. Publish ``v{N+1}.json`` CONTENT-atomically: the full payload is
   written and fsynced to a private ``*.tmp`` file, then installed
   under the version name with ``os.link`` — the *hardlink is the
   commit point*.  It either installs the complete, durable file or
   fails with EEXIST (a racing writer took the version; the loser
   re-reads the winner's snapshot, re-merges, and retries at N+2),
   so no reader can ever observe a half-written manifest and two
   writers serialize without a lock file.  A writer killed at any
   point before the link leaves only unreferenced data files and at
   worst an orphaned ``.tmp`` manifest (``vacuum`` collects both);
   killed after, the commit is complete.

Readers (``read_atomic``) list ``_manifests/``, pick the max version
(or an explicit ``version=`` for time travel), and read exactly the
files it names — an old-or-new snapshot across ALL partitions, which
is *stronger* than BigQuery's per-partition atomicity.  Each file is
read with the schema its transaction recorded, so planning a read
opens no parquet footer and starts no Spark job.  Old snapshots
stay readable until ``vacuum`` drops them, so an in-flight reader is
never broken by a concurrent commit (the paths it resolved still
exist) — the failure mode plain dynamic overwrite cannot avoid.

At 100 TB the same protocol holds with one substitution: the
exclusive-create primitive becomes the object store's conditional PUT
(S3 ``If-None-Match:*``, GCS ``x-goog-if-generation-match: 0``) —
exactly how Delta commits on S3/GCS — and manifests shard into a
manifest list once partition counts reach millions.  Data-file writes
scale as ordinary Spark parquet jobs; the commit itself is O(manifest)
driver-side metadata, not O(data).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


class CommitConflict(RuntimeError):
    """Another writer committed since the caller's base snapshot; the
    caller must re-read and redo its work (read-modify-write ops like
    compaction cannot blindly retry the merge — their staged data is
    derived from the stale snapshot)."""


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:08d}.json")


def _list_versions(path: str) -> list[int]:
    mdir = os.path.join(path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as f:
        return json.load(f)


_HIVE_ESCAPED = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {chr(0x7F)}


def _escape_partition_value(value: str | None) -> str:
    """Hive path escaping as Spark's ExternalCatalogUtils.escapePathName
    applies it when writing partition directories — pruning compares
    against directory names, so the user's raw value must be escaped
    the same way ('10:00' is on disk as '10%3A00')."""
    if value is None or value == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in str(value)
    )


def _txn_root(rel: str) -> str:
    """``data/txn-<id>`` of a manifest-relative data file path."""
    return os.path.join(*rel.split(os.sep)[:2])


def _txn_schemas(manifest: dict) -> dict[str, str]:
    """``{data/txn-<id>: DDL}`` for the manifest's transactions whose
    commit recorded a schema; empty for manifests written before
    schemas were recorded."""
    ddls = manifest.get("schemas", [])
    return {root: ddls[i] for root, i in manifest.get("txn_schema", {}).items()}


def _written_schema_ddl(df: DataFrame, partition_cols: list[str]) -> str:
    """``df``'s schema with the partition columns moved to the end — the
    column order (and, for partition columns, the types) a Hive-
    partitioned read of the written files must produce — as the DDL
    string ``DataFrameReader.schema`` accepts."""
    fields = [f for f in df.schema.fields if f.name not in partition_cols]
    fields += [df.schema[c] for c in partition_cols]
    return StructType(fields).toDDL()


def latest_version(path: str) -> int | None:
    """Highest committed snapshot version, or None for an empty table."""
    versions = _list_versions(path)
    return versions[-1] if versions else None


def _relative_parquet_files(root: str) -> dict[str, list[str]]:
    """Map partition dir (''" for unpartitioned) -> relative file paths
    for every parquet data file under ``root``."""
    out: dict[str, list[str]] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            rel_dir = os.path.relpath(dirpath, root)
            part = "" if rel_dir == "." else rel_dir
            out.setdefault(part, []).append(os.path.join(dirpath, name))
    return out


def _footer_rows(files) -> int:
    """Total rows of the given parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _json_stat(value):
    """Parquet-footer statistic → JSON-native, ORDER-PRESERVING value.
    ints/floats/strs pass through; bytes decode utf-8; date/datetime
    become ISO strings (lexicographic == chronological).  Returns None
    for kinds we can't order portably (stat dropped, file kept)."""
    import datetime

    if isinstance(value, bytes):
        try:
            return value.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(value, (datetime.date, datetime.datetime)):
        return value.isoformat()
    if isinstance(value, bool) or not isinstance(value, (int, float, str)):
        return None
    return value


def _file_column_stats(abs_path: str, cols: list[str]) -> dict[str, list]:
    """Per-column [min, max] for ``cols`` from the file's parquet
    footer (row-group statistics aggregated) — metadata-only, no data
    read.  Columns without usable stats are omitted (reader keeps the
    file conservatively)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for col in cols:
        idx = name_to_idx.get(col)
        if idx is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _json_stat(st.min), _json_stat(st.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if ok and lo is not None:
            out[col] = [lo, hi]
    return out


def atomic_overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | tuple[str, ...] = (),
    max_commit_retries: int = 20,
    mode: str = "overwrite",
    txn_app: str | None = None,
    txn_version: int | None = None,
    expected_base_version: int | None = None,
    stat_cols: list[str] | tuple[str, ...] = (),
) -> int:
    """Replace (``mode='overwrite'``) or extend (``mode='append'``)
    the partitions present in ``df`` — the whole table when
    unpartitioned — in ONE atomic commit; returns the new version.

    Safe against concurrent readers (they see the previous or the new
    snapshot, never a mix), concurrent writers (exclusive-create
    serializes commits; both land — overwrites merge per partition,
    appends never clobber each other), and writer death at any
    instant (an uncommitted transaction is invisible garbage for
    ``vacuum``).

    ``txn_app``/``txn_version`` give idempotent writes for replaying
    producers (the Delta ``txn`` action): the manifest records the
    highest version committed per app, and a commit whose version is
    <= the recorded one is SKIPPED (returns -1) — checked inside the
    serialized commit loop, so a replayed micro-batch can never land
    twice even against a racing writer.  Streaming foreachBatch sinks
    pass (query-id, batch-id).

    ``expected_base_version`` turns the commit into a compare-and-swap
    for read-modify-write callers (compaction): if any other writer
    committed after that version, ``CommitConflict`` is raised instead
    of merging — the staged data was derived from a stale snapshot and
    blindly merging it would drop the concurrent writer's rows.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if (txn_app is None) != (txn_version is None):
        raise ValueError("txn_app and txn_version must be given together")
    if txn_app is not None and last_txn_version(path, txn_app) >= txn_version:
        return -1  # fast path: already committed, skip the data write too
    if expected_base_version is not None and latest_version(path) != expected_base_version:
        # pre-stage CAS check: conflicting before the (expensive) data
        # write avoids orphaning a full staged copy of the table per
        # lost race; the authoritative check still runs in the commit
        # loop below.
        raise CommitConflict(
            f"{path}: expected base v{expected_base_version} but latest is "
            f"v{latest_version(path)}; re-read and redo the read-modify-write"
        )
    written_ddl = _written_schema_ddl(df, list(partition_cols))
    txn = uuid.uuid4().hex[:12]
    txn_rel = os.path.join(_DATA_DIR, f"txn-{txn}")
    txn_dir = os.path.join(path, txn_rel)
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)

    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*list(partition_cols))
    writer.parquet(txn_dir)

    new_parts: dict[str, list[str]] = {
        part: sorted(os.path.relpath(p, path) for p in files)
        for part, files in _relative_parquet_files(txn_dir).items()
    }
    # per-partition row counts from the new files' parquet footers
    # (metadata-only) — carried in the manifest so table-level stats
    # need no file listing at read time
    try:
        new_rows = {
            part: _footer_rows(os.path.join(path, f) for f in files)
            for part, files in new_parts.items()
        }
    except ImportError:  # pragma: no cover - pyarrow is baked in
        new_rows = {}

    # Per-FILE zone maps for the requested columns (footer metadata
    # only): read_atomic(ranges=...) skips whole files by [min, max] —
    # the file-level data skipping Delta/Iceberg keep in their
    # manifests, most selective after a z-order/sort layout.
    new_file_stats: dict[str, dict[str, list]] = {}
    if stat_cols:
        for files in new_parts.values():
            for rel in files:
                st = _file_column_stats(os.path.join(path, rel), list(stat_cols))
                if st:
                    new_file_stats[rel] = st

    def _abort(exc: Exception):
        # a staged-but-never-committed txn is pure garbage the moment
        # we raise: reclaim it now rather than pinning a full table
        # copy on disk until vacuum's grace expires
        shutil.rmtree(txn_dir, ignore_errors=True)
        raise exc

    for _ in range(max_commit_retries):
        versions = _list_versions(path)
        base = _read_manifest(path, versions[-1]) if versions else {"partitions": {}, "partition_cols": list(partition_cols)}
        if expected_base_version is not None:
            current = versions[-1] if versions else None
            if current != expected_base_version:
                _abort(CommitConflict(
                    f"{path}: expected base v{expected_base_version} but "
                    f"latest is v{current}; re-read and redo the "
                    "read-modify-write"
                ))
        if base.get("partitions") and list(base.get("partition_cols", [])) != list(partition_cols):
            _abort(ValueError(
                f"{path} is partitioned by {base.get('partition_cols')}, "
                f"but this write uses {list(partition_cols)}; mixing "
                "layouts would silently union incompatible row shapes"
            ))
        app_versions = dict(base.get("app_versions", {}))
        if txn_app is not None:
            # re-checked each retry: a racing replayer that committed
            # this (app, version) while we waited makes ours a no-op
            if app_versions.get(txn_app, -1) >= txn_version:
                shutil.rmtree(txn_dir, ignore_errors=True)  # staged copy unused
                return -1
            app_versions[txn_app] = txn_version
        merged = dict(base.get("partitions", {}))
        merged_rows = dict(base.get("partition_rows", {}))
        if mode == "append":
            for part, files in new_parts.items():
                merged[part] = sorted(merged.get(part, []) + files)
                if part in new_rows:
                    merged_rows[part] = merged_rows.get(part, 0) + new_rows[part]
        elif partition_cols:
            merged.update(new_parts)
            merged_rows.update(new_rows)
        else:
            merged = dict(new_parts)  # unpartitioned: full replace
            merged_rows = dict(new_rows)
        next_v = (versions[-1] + 1) if versions else 0
        # Zone maps: carry forward the base's per-file stats, overlay
        # this txn's, and prune entries for files no longer referenced.
        live = {f for files in merged.values() for f in files}
        merged_stats = {
            rel: st
            for rel, st in {**base.get("file_stats", {}), **new_file_stats}.items()
            if rel in live
        }
        # Schemas: likewise carried forward and pruned to live txns, each
        # distinct DDL stored once (a daily-partitioned table's txns
        # share one schema, so the manifest grows by a map entry per txn).
        live_roots = {_txn_root(f) for f in live}
        txn_ddls = {
            root: ddl
            for root, ddl in {**_txn_schemas(base), txn_rel: written_ddl}.items()
            if root in live_roots
        }
        ddls = sorted(set(txn_ddls.values()))
        manifest = {
            "version": next_v,
            "txn": txn,
            "partition_cols": list(partition_cols),
            "partitions": merged,
            "partition_rows": merged_rows,
            "app_versions": app_versions,
            "file_stats": merged_stats,
            "schemas": ddls,
            "txn_schema": {root: ddls.index(ddl) for root, ddl in txn_ddls.items()},
        }
        payload = json.dumps(manifest, sort_keys=True).encode()
        # THE commit point — and it must be CONTENT-atomic, not just
        # name-atomic: the payload is fully written and fsynced to a
        # private temp file first, then published with os.link, which
        # atomically either installs the complete file under the
        # version name or fails with EEXIST (a racing writer won; we
        # re-merge against their snapshot and retry).  A bare
        # O_EXCL-create-then-write would let a reader (or a crash)
        # observe a half-written manifest as the latest version —
        # bricking the table.  (At object-store scale: conditional PUT,
        # which is content-atomic by construction.)
        tmp = _manifest_path(path, next_v) + f".{txn}.tmp"
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            os.write(fd, payload)
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, _manifest_path(path, next_v))
        except FileExistsError:
            continue
        finally:
            os.unlink(tmp)
        return next_v
    _abort(RuntimeError(
        f"atomic commit to {path} lost {max_commit_retries} consecutive "
        "version races; raise max_commit_retries or reduce writer fan-in"
    ))


def _select_files(
    manifest: dict,
    partitions: dict[str, str] | None,
    ranges: dict[str, tuple] | None,
) -> tuple[list[str], list[str]]:
    """(kept, zone_map_skipped) relative file lists for a snapshot
    under partition- and range-pruning.  Shared by ``read_atomic`` and
    ``snapshot_files``."""
    part_map = manifest["partitions"]
    if partitions:
        cols = manifest.get("partition_cols") or []
        unknown = set(partitions) - set(cols)
        if unknown:
            raise ValueError(f"unknown partition columns {sorted(unknown)}; table has {cols}")
        wanted = {
            f"{c}={_escape_partition_value(partitions[c])}"
            for c in cols
            if c in partitions
        }
        part_map = {
            part: files
            for part, files in part_map.items()
            if wanted <= set(part.split(os.sep))
        }
    all_files = [f for files in part_map.values() for f in files]
    if not ranges:
        return all_files, []
    stats = manifest.get("file_stats", {})

    def _may_match(rel: str) -> bool:
        st = stats.get(rel)
        if not st:
            return True  # no zone map → keep conservatively
        for col, (lo, hi) in ranges.items():
            if col not in st:
                continue
            fmin, fmax = st[col]
            if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                return False
        return True

    kept, skipped = [], []
    for f in all_files:
        (kept if _may_match(f) else skipped).append(f)
    return kept, skipped


def snapshot_files(
    path: str,
    version: int | None = None,
    partitions: dict[str, str] | None = None,
    ranges: dict[str, tuple] | None = None,
) -> list[str]:
    """Relative data files a ``read_atomic`` with the same arguments
    would open — scan-planning introspection (how many files does this
    predicate touch?) without starting a Spark job."""
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {path}")
    kept, _ = _select_files(_read_manifest(path, version), partitions, ranges)
    return kept


def _read_rel_files(
    spark: SparkSession, path: str, rel_files: list[str], schemas: dict[str, str]
) -> DataFrame | None:
    """Union the given manifest-relative data files, per-transaction
    with that txn's basePath so Hive partition columns are re-derived;
    None when the list is empty.  ``schemas`` (``_txn_schemas``) gives
    the schema each txn wrote: Spark then infers none from a footer, so
    building the frame starts no job, and partition columns keep their
    written types.  A txn without one (committed before schemas were
    recorded) is read with inference, as it always was.  Shared by
    ``read_atomic`` and ``changes_between``."""
    by_txn: dict[str, list[str]] = {}
    for rel in rel_files:
        by_txn.setdefault(_txn_root(rel), []).append(os.path.join(path, rel))
    parts = None
    for txn_root, files in sorted(by_txn.items()):
        reader = spark.read.option("basePath", os.path.join(path, txn_root))
        if txn_root in schemas:
            reader = reader.schema(schemas[txn_root])
        df = reader.parquet(*sorted(files))
        # allowMissingColumns: a snapshot may mix transactions written
        # before and after a column was added (schema evolution);
        # columns absent from an older transaction read as NULL, the
        # standard add-column semantics.
        parts = df if parts is None else parts.unionByName(df, allowMissingColumns=True)
    return parts


def read_atomic(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partitions: dict[str, str] | None = None,
    ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read a committed snapshot (latest by default; ``version=`` for
    time travel).  Only files named by that manifest are opened, so a
    concurrent commit can never tear the result.

    Planning is metadata-only: the files and each transaction's schema
    come from the manifest, so building the DataFrame opens no parquet
    footer and starts no Spark job (a transaction committed before
    schemas were recorded falls back to footer inference).

    ``partitions={"snapshot_date": "2024-01-01"}`` prunes at the
    MANIFEST level — only the matching partitions' files are even
    listed, the metadata-side pruning BigQuery's partition decorators
    gave the reference (and what Catalyst would do from directory
    names, done here without touching the filesystem at all).

    Partitioned snapshots may span several transactions (each partition
    keeps the files of the txn that last replaced it); files are read
    per-transaction with that txn's directory as ``basePath`` so Spark
    re-derives the Hive partition columns, then unioned by name — scan
    count is bounded by the number of live transactions (≤ number of
    partitions, typically far fewer), not by file count.

    ``ranges={"col": (lo, hi)}`` prunes at the FILE level using the
    zone maps recorded by ``stat_cols=`` at write time: a file is
    skipped iff its [min, max] cannot intersect [lo, hi] (either bound
    may be None for one-sided predicates).  CONSERVATIVE — files
    without stats for a queried column are kept, and the caller still
    applies the actual row filter; pruning only shrinks the scan.
    Most selective after ``zorder_layout`` (multi-column) or a plain
    range sort (single-column) clustered the write.
    """
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {path}")
    manifest = _read_manifest(path, version)
    all_files, skipped = _select_files(manifest, partitions, ranges)
    if not all_files and not skipped:
        raise ValueError(
            f"snapshot v{version} of {path} is empty"
            + (f" for partitions {partitions}" if partitions else "")
        )
    # Every file zone-map-skipped: the predicate provably selects zero
    # rows, but we still need the snapshot's schema — read one file and
    # let the caller's filter produce the empty result.
    return _read_rel_files(spark, path, all_files or skipped[:1], _txn_schemas(manifest))


def snapshot_row_count(path: str, version: int | None = None) -> int | None:
    """Exact row count of a committed snapshot from manifest metadata
    alone — the catalog statistic BigQuery exposes for free, here paid
    once at commit time (footer sums of the committed files)."""
    if version is None:
        version = latest_version(path)
        if version is None:
            return None
    rows = _read_manifest(path, version).get("partition_rows")
    return sum(rows.values()) if rows else None


def commit_row_count(path: str, version: int) -> int:
    """Rows in the partitions that ``version``'s own transaction filled,
    from its manifest alone — for an overwrite commit, exactly the rows
    it wrote, so a caller needs no ``count()`` that re-runs the plan."""
    manifest = _read_manifest(path, version)
    root = os.path.join(_DATA_DIR, f"txn-{manifest['txn']}")
    rows = manifest.get("partition_rows", {})
    return sum(
        rows.get(part, 0)
        for part, files in manifest["partitions"].items()
        if any(_txn_root(f) == root for f in files)
    )


def parquet_row_count(root: str) -> int:
    """Rows in the parquet files under ``root`` (a plain Spark write),
    summed from their footers — a recount that starts no Spark job."""
    return _footer_rows(f for files in _relative_parquet_files(root).values() for f in files)


def last_txn_version(path: str, app: str) -> int:
    """Highest transactional version committed for ``app`` (-1 if
    none) — the replay cursor for idempotent producers."""
    version = latest_version(path)
    if version is None:
        return -1
    return int(_read_manifest(path, version).get("app_versions", {}).get(app, -1))


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    max_conflict_retries: int = 5,
    cluster_by: list[str] | tuple[str, ...] = (),
) -> int:
    """Rewrite the latest snapshot's files into a fresh transaction and
    commit it as a new version — the small-files remedy for tables fed
    by frequent atomic appends (streaming foreachBatch sinks).  Readers
    are never disturbed: the compacted snapshot replaces the pointer,
    and prior versions (with the small files) remain readable until
    ``vacuum``.  ``target_partitions`` defaults to Spark's own AQE
    coalescing of the read.

    Compaction is a read-modify-write, so it commits with
    compare-and-swap semantics: if any writer (e.g. the streaming
    sink) lands a version between the snapshot read and the commit,
    the commit raises ``CommitConflict`` and the WHOLE compaction
    redoes from the new snapshot — a plain merge-retry would replace
    the concurrent writer's partitions with files compacted from the
    stale snapshot, silently dropping its rows while the carried-
    forward app_versions suppress any replay."""
    for _ in range(max_conflict_retries):
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {path}")
        manifest = _read_manifest(path, version)
        df = read_atomic(spark, path, version=version)
        if cluster_by:
            # Delta OPTIMIZE-style clustering: range-partition + sort so
            # each output file covers a tight range of the cluster
            # columns — the layout that makes the re-recorded zone maps
            # actually selective (a plain round-robin repartition gives
            # every file the full value domain).
            df = df.repartitionByRange(
                *( [target_partitions] if target_partitions else [] ), *cluster_by
            ).sortWithinPartitions(*cluster_by)
        elif target_partitions:
            df = df.repartition(target_partitions)
        # Carry the zone maps through the rewrite: re-record stats for
        # every column any current file tracks — otherwise compaction
        # silently drops the table's data-skipping capability.
        stat_cols = sorted({c for st in manifest.get("file_stats", {}).values() for c in st})
        try:
            return atomic_overwrite_partitions(
                df,
                path,
                manifest.get("partition_cols") or (),
                expected_base_version=version,
                stat_cols=stat_cols,
            )
        except CommitConflict:
            continue  # someone committed meanwhile; recompact their data
    raise CommitConflict(
        f"compaction of {path} lost {max_conflict_retries} consecutive "
        "races against concurrent writers"
    )


def vacuum(
    path: str,
    keep_versions: int = 2,
    grace_seconds: float = 86400.0,
) -> list[str]:
    """Delete manifests older than the newest ``keep_versions`` and any
    transaction directory no retained manifest references; returns the
    removed paths.

    ``grace_seconds`` (default 24h, same contract as Delta VACUUM's
    retention) protects two kinds of in-flight work an unreferenced
    path cannot be distinguished from by reference-counting alone,
    each anchored to the RIGHT clock:

    - a WRITER that has staged its transaction directory but not yet
      committed its manifest: never-referenced paths are reclaimed
      only once their own mtime ages past the grace (a fresh stage is
      young by definition);
    - a READER still scanning files of a just-superseded version:
      superseded manifests (and the transactions only they reference)
      are reclaimed only once their SUPERSESSION has aged — measured
      from the commit time (manifest mtime) of the oldest RETAINED
      version, the moment the to-be-deleted state stopped being
      reachable as "latest".  File mtimes are useless here: a
      partition written a month ago and superseded one second ago has
      ancient mtimes but may still be mid-scan (Delta likewise anchors
      retention to the removal timestamp, not file creation).

    Size the grace to the longest writer stage + reader scan.  Tests
    pass 0 to reclaim immediately.
    """
    import time

    versions = _list_versions(path)
    keep = versions[-keep_versions:] if (versions and keep_versions > 0) else []
    live_txns = set()
    referenced_ever = set()
    for v in versions:
        refs = {
            _txn_root(rel)
            for files in _read_manifest(path, v)["partitions"].values()
            for rel in files
        }
        referenced_ever |= refs
        if v in keep:
            live_txns |= refs
    cutoff = time.time() - grace_seconds

    def aged(p: str) -> bool:
        try:
            return os.path.getmtime(p) <= cutoff
        except OSError:
            return False

    # supersession clock: everything not in `keep` stopped being
    # reachable-as-latest no later than the oldest kept commit
    supersession_aged = bool(keep) and aged(_manifest_path(path, keep[0]))

    removed = []
    for v in versions:
        if v not in keep and supersession_aged:
            p = _manifest_path(path, v)
            os.unlink(p)
            removed.append(p)
    mdir = os.path.join(path, _MANIFEST_DIR)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            # orphaned content-publish temp files from crashed commits
            if name.endswith(".tmp") and aged(os.path.join(mdir, name)):
                os.unlink(os.path.join(mdir, name))
                removed.append(os.path.join(mdir, name))
    data_root = os.path.join(path, _DATA_DIR)
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            rel = os.path.join(_DATA_DIR, name)
            full = os.path.join(data_root, name)
            if rel in live_txns:
                continue
            if rel in referenced_ever:
                # dropped by a newer commit: reader-protection clock
                if supersession_aged:
                    shutil.rmtree(full)
                    removed.append(full)
            elif aged(full):
                # never committed: writer-protection clock (own mtime)
                shutil.rmtree(full)
                removed.append(full)
    return removed


def _align_columns(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Project both frames onto the union of their columns (missing
    columns read as NULL — add-column schema evolution), in one fixed
    order so set operations line up positionally."""
    cols = list(dict.fromkeys([*a.columns, *b.columns]))
    types = {f.name: f.dataType for f in [*a.schema.fields, *b.schema.fields]}

    def proj(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.col(c) if c in df.columns else F.lit(None).cast(types[c]).alias(c)
                for c in cols
            ]
        )

    return proj(a), proj(b)


def changes_between(
    spark: SparkSession,
    path: str,
    from_version: int | None,
    to_version: int | None = None,
    row_level: bool = True,
    change_col: str = "_change_type",
) -> DataFrame:
    """Change-data-feed between two committed snapshots: the rows you
    must apply to the ``from_version`` snapshot to reach ``to_version``
    — 'insert' rows to add, 'delete' rows to remove (an update surfaces
    as a delete+insert pair; multiset semantics, so duplicate rows are
    counted).  This is the incremental-consumer contract Delta's CDF /
    BigQuery's APPENDS give the reference's downstream jobs: feed the
    deltas to ``merge.combine_aggregates`` / ``bloom_merge`` /
    ``cms_merge`` instead of recomputing from the full table.

    Cost is proportional to the CHANGED data, never the table: the
    file sets come from the two manifests (metadata only), and only
    files added or removed between the versions are scanned.  With
    ``row_level=True`` (default) the two sides are reconciled with
    multiset EXCEPT ALL, so physical rewrites that preserve content —
    compaction, re-clustering — produce an EMPTY feed (the shuffle for
    that reconciliation carries only the changed files' rows).
    ``row_level=False`` skips the reconciliation and returns the raw
    file-level feed: every row of every added file as 'insert' and of
    every removed file as 'delete' — cheaper, correct for append-only
    histories.

    ``from_version=None`` means "before the table existed": the whole
    ``to_version`` snapshot comes back as inserts (bootstrap path).
    """
    if to_version is None:
        to_version = latest_version(path)
        if to_version is None:
            raise FileNotFoundError(f"no committed snapshot under {path}")
    old_files: set[str] = set()
    schemas: dict[str, str] = {}
    if from_version is not None:
        old = _read_manifest(path, from_version)
        old_files = {f for fs in old.get("partitions", {}).values() for f in fs}
        schemas = _txn_schemas(old)
    new = _read_manifest(path, to_version)
    new_files = {f for fs in new.get("partitions", {}).values() for f in fs}
    # a txn's recorded schema never changes, so the two maps merge
    schemas.update(_txn_schemas(new))

    df_add = _read_rel_files(spark, path, sorted(new_files - old_files), schemas)
    df_rm = _read_rel_files(spark, path, sorted(old_files - new_files), schemas)

    if df_add is None and df_rm is None:
        base = read_atomic(spark, path, version=to_version).limit(0)
        return base.withColumn(change_col, F.lit("insert"))
    if df_add is not None and df_rm is not None:
        df_add, df_rm = _align_columns(df_add, df_rm)
        inserts, deletes = (
            (df_add.exceptAll(df_rm), df_rm.exceptAll(df_add))
            if row_level
            else (df_add, df_rm)
        )
    else:
        inserts, deletes = df_add, df_rm
    out = None
    for df, tag in ((inserts, "insert"), (deletes, "delete")):
        if df is None:
            continue
        tagged = df.withColumn(change_col, F.lit(tag))
        out = tagged if out is None else out.unionByName(tagged, allowMissingColumns=True)
    return out


def table_history(path: str) -> list[dict]:
    """Commit log of a table, newest first — the `DESCRIBE HISTORY`
    / BQ INFORMATION_SCHEMA.SNAPSHOTS introspection surface: one dict
    per committed version with its txn id, partition count, manifest
    row count (None before row stats existed), file count, and the
    transactional app cursors.  Metadata only: reads manifests, never
    data files, so it is O(versions) regardless of table size."""
    out = []
    for v in sorted(_list_versions(path), reverse=True):
        m = _read_manifest(path, v)
        rows = m.get("partition_rows")
        out.append(
            {
                "version": v,
                "txn": m.get("txn"),
                "partition_cols": m.get("partition_cols", []),
                "n_partitions": len(m.get("partitions", {})),
                "n_files": sum(len(fs) for fs in m.get("partitions", {}).values()),
                "n_rows": sum(rows.values()) if rows else None,
                "app_versions": m.get("app_versions", {}),
            }
        )
    return out


def next_changes(
    spark: SparkSession,
    path: str,
    cursor_path: str,
    consumer: str = "default",
    row_level: bool = True,
):
    """Cursor-managed incremental consumption: returns ``(feed_df |
    None, commit_fn)`` for everything committed since this consumer's
    last acknowledged version.  ``commit_fn()`` persists the new
    cursor AFTER the consumer has durably applied the feed — crash
    between apply and ack replays the same window (at-least-once;
    consumers that fold into acid tables get exactly-once via their
    own txn ids).  The scheduled-job face of ``changes_between`` —
    what a daily DAG task calls instead of tracking versions by hand.

    The cursor file is JSON {consumer: last_version} under
    ``cursor_path``; written atomically (temp + rename).
    """
    latest = latest_version(path)
    cursors: dict = {}
    if os.path.exists(cursor_path):
        with open(cursor_path) as f:
            cursors = json.load(f)
    last = cursors.get(consumer)
    if latest is None or (last is not None and last >= latest):
        return None, lambda: None

    feed = changes_between(spark, path, last, latest, row_level=row_level)

    def commit() -> None:
        cur: dict = {}
        if os.path.exists(cursor_path):
            with open(cursor_path) as f:
                cur = json.load(f)
        cur[consumer] = latest
        tmp = f"{cursor_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cur, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, cursor_path)

    return feed, commit
