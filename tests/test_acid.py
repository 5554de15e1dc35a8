"""Atomic-commit (acid.py) guarantees: crash safety, reader isolation,
writer-writer serialization, time travel, vacuum.

The crash tests inject faults at every stage of the commit protocol
(after data write / during manifest create) and assert readers still
see exactly the previous snapshot — the "kill a writer mid-rewrite,
readers see old-or-new never partial" contract plain dynamic partition
overwrite cannot provide.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark import acid, io


def _mk(spark, tag: str, n: int = 50, parts=("a", "b")):
    rows = [
        Row(k=i, payload=tag, p=parts[i % len(parts)]) for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _snapshot(spark, path, version=None):
    df = acid.read_atomic(spark, path, version=version)
    rows = df.collect()
    return len(rows), {r.payload for r in rows}, {r.p for r in rows}


def _referenced_txns(path):
    """Names of the txn dirs that some committed manifest references."""
    refs = set()
    for v in acid._list_versions(path):
        for files in acid._read_manifest(path, v)["partitions"].values():
            refs |= {rel.split(os.sep)[1] for rel in files}
    return refs


def test_commit_and_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    assert v0 == 0
    n, payloads, parts = _snapshot(spark, path)
    assert (n, payloads, parts) == (50, {"old"}, {"a", "b"})


def test_partition_replace_carries_forward_absent_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    only_a = _mk(spark, "new").filter(F.col("p") == "a")
    acid.atomic_overwrite_partitions(only_a, path, ["p"])
    df = acid.read_atomic(spark, path)
    got = {(r.p, r.payload) for r in df.collect()}
    assert got == {("a", "new"), ("b", "old")}
    assert df.count() == 50


def test_unpartitioned_full_replace(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path)
    acid.atomic_overwrite_partitions(_mk(spark, "new", n=7), path)
    n, payloads, _ = _snapshot(spark, path)
    assert (n, payloads) == (7, {"new"})


def test_writer_killed_after_data_write_is_invisible(spark, tmp_path, monkeypatch):
    """Death between the parquet write and the manifest create leaves
    the table bit-identical to the previous snapshot."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    before = _snapshot(spark, path)

    real_open = os.open

    def die_on_manifest(p, *a, **kw):
        if acid._MANIFEST_DIR in str(p) and ".json" in str(p):
            raise KeyboardInterrupt("writer killed at commit point")
        return real_open(p, *a, **kw)

    monkeypatch.setattr(os, "open", die_on_manifest)
    with pytest.raises(KeyboardInterrupt):
        acid.atomic_overwrite_partitions(_mk(spark, "doomed"), path, ["p"])
    monkeypatch.undo()

    assert _snapshot(spark, path) == before
    assert acid.latest_version(path) == 0
    # the orphaned txn dir exists but is unreferenced -> vacuum food
    txns = os.listdir(os.path.join(path, "data"))
    assert len(txns) == 2
    removed = acid.vacuum(path, keep_versions=1, grace_seconds=0)
    assert any("txn-" in r for r in removed)
    assert _snapshot(spark, path) == before


def test_writer_killed_mid_parquet_write_is_invisible(spark, tmp_path):
    """Death DURING the data write (simulated by an aborted Spark job)
    never perturbs readers: uncommitted files are never listed."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    before = _snapshot(spark, path)
    bad = _mk(spark, "doomed").withColumn(
        "boom", F.udf(lambda: (_ for _ in ()).throw(ValueError("die")))()
    )
    with pytest.raises(Exception):
        acid.atomic_overwrite_partitions(bad, path, ["p"])
    assert _snapshot(spark, path) == before


def test_concurrent_readers_never_see_partial(spark, tmp_path):
    """A reader loop racing a committing writer observes ONLY complete
    snapshots: every read is all-old or all-new across all partitions,
    with the full row count."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "v0"), path, ["p"])
    dfs = {tag: _mk(spark, tag).cache() for tag in ("v1", "v2", "v3")}
    for df in dfs.values():
        df.count()

    bad: list[tuple] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            n, payloads, parts = _snapshot(spark, path)
            if not (n == 50 and len(payloads) == 1 and parts == {"a", "b"}):
                bad.append((n, payloads, parts))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for tag, df in dfs.items():
            acid.atomic_overwrite_partitions(df, path, ["p"])
    finally:
        stop.set()
        t.join()
    assert bad == []
    assert _snapshot(spark, path)[1] == {"v3"}


def test_racing_writers_both_land(spark, tmp_path, monkeypatch):
    """Two writers committing from the same base version serialize via
    the exclusive create: the loser retries at the next version and
    neither update is lost (distinct partitions both visible)."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])

    df_a = _mk(spark, "wa").filter(F.col("p") == "a")
    df_b = _mk(spark, "wb").filter(F.col("p") == "b")

    # Force the race deterministically: while writer A commits, writer
    # B's commit has already taken A's intended version.
    real_open = os.open
    injected = {"done": False}

    def steal_version(p, *a, **kw):
        sp = str(p)
        if (
            not injected["done"]
            and acid._MANIFEST_DIR in sp
            and ".json" in sp
            and os.O_EXCL & a[0]
        ):
            injected["done"] = True
            acid.atomic_overwrite_partitions(df_b, path, ["p"])  # B wins v1
        return real_open(p, *a, **kw)

    monkeypatch.setattr(os, "open", steal_version)
    acid.atomic_overwrite_partitions(df_a, path, ["p"])  # A retries -> v2
    monkeypatch.undo()

    assert acid.latest_version(path) == 2
    got = {(r.p, r.payload) for r in acid.read_atomic(spark, path).collect()}
    assert got == {("a", "wa"), ("b", "wb")}


def test_time_travel_and_vacuum(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "v0"), path, ["p"])
    acid.atomic_overwrite_partitions(_mk(spark, "v1"), path, ["p"])
    acid.atomic_overwrite_partitions(_mk(spark, "v2"), path, ["p"])
    assert _snapshot(spark, path, version=1)[1] == {"v1"}
    assert _snapshot(spark, path)[1] == {"v2"}

    removed = acid.vacuum(path, keep_versions=1, grace_seconds=0)
    assert removed  # old manifests + unreferenced txn dirs
    assert _snapshot(spark, path)[1] == {"v2"}
    with pytest.raises(FileNotFoundError):
        acid._read_manifest(path, 0)


def test_io_overwrite_partitions_atomic_flag(spark, tmp_path):
    path = str(tmp_path / "t")
    io.overwrite_partitions(_mk(spark, "old"), path, ["p"], atomic=True)
    io.overwrite_partitions(
        _mk(spark, "new").filter(F.col("p") == "a"), path, ["p"], atomic=True
    )
    got = {(r.p, r.payload) for r in acid.read_atomic(spark, path).collect()}
    assert got == {("a", "new"), ("b", "old")}


def test_manifest_is_fsynced_valid_json(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "x"), path, ["p"])
    with open(acid._manifest_path(path, 0)) as f:
        m = json.load(f)
    assert m["version"] == 0 and m["partition_cols"] == ["p"]
    assert set(m["partitions"]) == {"p=a", "p=b"}
    for files in m["partitions"].values():
        for rel in files:
            assert os.path.exists(os.path.join(path, rel))


def test_atomic_append_and_compact(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "base"), path, ["p"])
    acid.atomic_overwrite_partitions(_mk(spark, "extra", n=20), path, ["p"], mode="append")
    n, payloads, parts = _snapshot(spark, path)
    assert (n, payloads, parts) == (70, {"base", "extra"}, {"a", "b"})

    # appends accumulate files; compaction rewrites them in one new
    # version without changing the data
    v = acid.compact(spark, path, target_partitions=1)
    assert v == acid.latest_version(path)
    assert _snapshot(spark, path) == (70, {"base", "extra"}, {"a", "b"})
    m = acid._read_manifest(path, v)
    assert sum(len(f) for f in m["partitions"].values()) <= 2  # 1 file/partition
    # pre-compaction version still time-travels
    assert _snapshot(spark, path, version=1)[0] == 70
    acid.vacuum(path, keep_versions=1, grace_seconds=0)
    assert _snapshot(spark, path) == (70, {"base", "extra"}, {"a", "b"})


def test_append_mode_rejected_values(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError):
        acid.atomic_overwrite_partitions(_mk(spark, "x"), path, ["p"], mode="upsert")


def test_schema_evolution_add_column(spark, tmp_path):
    """A partition committed before a column existed reads as NULL for
    that column when the snapshot mixes old and new transactions."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    widened = (
        _mk(spark, "new")
        .filter(F.col("p") == "a")
        .withColumn("extra", F.lit(42).cast("long"))
    )
    acid.atomic_overwrite_partitions(widened, path, ["p"])
    df = acid.read_atomic(spark, path)
    assert "extra" in df.columns
    got = {(r.p, r.payload, r.extra) for r in df.collect()}
    assert {(p, pay) for p, pay, _ in got} == {("a", "new"), ("b", "old")}
    assert all(e == 42 for p, _, e in got if p == "a")
    assert all(e is None for p, _, e in got if p == "b")


def test_snapshot_row_count_from_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "v0"), path, ["p"])
    assert acid.snapshot_row_count(path) == 50
    acid.atomic_overwrite_partitions(
        _mk(spark, "more", n=20), path, ["p"], mode="append"
    )
    assert acid.snapshot_row_count(path) == 70
    smaller = _mk(spark, "small", n=10).filter(F.col("p") == "a")
    acid.atomic_overwrite_partitions(smaller, path, ["p"])
    # partition a replaced (was 25+10=35 rows, now 5 as n=10 alternates a/b)
    assert acid.snapshot_row_count(path) == acid.read_atomic(spark, path).count()
    assert acid.snapshot_row_count(path, version=0) == 50  # time travel


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model check: random sequences of overwrite / partial-overwrite /
    append / compact / vacuum must keep the table equal to a pure-
    Python dict model of per-partition multisets at every step."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings

    ops = st.lists(
        st.tuples(
            st.sampled_from(["overwrite", "partial", "append", "compact", "vacuum"]),
            st.integers(min_value=1, max_value=4),  # rows per partition
        ),
        min_size=1,
        max_size=6,
    )

    counter = {"n": 0}

    @given(seq=ops)
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(seq):
        counter["n"] += 1
        path = str(tmp_path / f"m{counter['n']}")
        model: dict[str, list[tuple]] = {}
        for step, (op, rows) in enumerate(seq):
            tag = f"s{step}"
            batch = [(i, tag, p) for p in ("a", "b") for i in range(rows)]
            df = spark.createDataFrame(batch, "k: long, payload: string, p: string")
            if op == "overwrite":
                acid.atomic_overwrite_partitions(df, path, ["p"])
                model = {"a": [t for t in batch if t[2] == "a"],
                         "b": [t for t in batch if t[2] == "b"]}
            elif op == "partial":
                only_a = [t for t in batch if t[2] == "a"]
                acid.atomic_overwrite_partitions(
                    df.filter(F.col("p") == "a"), path, ["p"]
                )
                model["a"] = only_a
                model.setdefault("b", [])
            elif op == "append":
                acid.atomic_overwrite_partitions(df, path, ["p"], mode="append")
                for p in ("a", "b"):
                    model.setdefault(p, []).extend(t for t in batch if t[2] == p)
            elif op == "compact":
                if acid.latest_version(path) is not None:
                    acid.compact(spark, path, target_partitions=1)
            elif op == "vacuum":
                if acid.latest_version(path) is not None:
                    acid.vacuum(path, keep_versions=1, grace_seconds=0)
            if acid.latest_version(path) is not None:
                got = sorted(
                    (r.k, r.payload, r.p)
                    for r in acid.read_atomic(spark, path).collect()
                )
                want = sorted(t for ts in model.values() for t in ts)
                assert got == want, f"divergence after step {step} ({op})"
                assert acid.snapshot_row_count(path) == len(want)

    run()


def test_vacuum_grace_protects_inflight_writer(spark, tmp_path):
    """An uncommitted (staged) transaction directory younger than the
    grace period survives vacuum — reference-counting alone cannot
    tell a crashed writer's garbage from a writer that has not yet
    committed its manifest."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "v0"), path, ["p"])
    # stage a txn without committing (simulated in-flight writer)
    staged = os.path.join(path, "data", "txn-inflight0001")
    os.makedirs(os.path.join(staged, "p=a"))
    with open(os.path.join(staged, "p=a", "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    removed = acid.vacuum(path, keep_versions=1)  # default 24h grace
    assert os.path.isdir(staged), "grace period must protect fresh txns"
    assert not any("txn-inflight" in r for r in removed)
    removed = acid.vacuum(path, keep_versions=1, grace_seconds=0)
    assert not os.path.isdir(staged)


def test_compact_conflict_with_concurrent_append(spark, tmp_path, monkeypatch):
    """A writer landing between compaction's snapshot read and its
    commit must NOT lose rows: the stale compaction commit aborts with
    CommitConflict and the redo re-reads the writer's data."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "base"), path, ["p"])
    extra = _mk(spark, "late", n=20)

    real_open = os.open
    injected = {"done": False}

    def append_mid_compact(p, *a, **kw):
        sp = str(p)
        if (
            not injected["done"]
            and acid._MANIFEST_DIR in sp
            and sp.endswith(".tmp")
        ):
            injected["done"] = True
            acid.atomic_overwrite_partitions(extra, path, ["p"], mode="append")
        return real_open(p, *a, **kw)

    monkeypatch.setattr(os, "open", append_mid_compact)
    acid.compact(spark, path, target_partitions=1)
    monkeypatch.undo()

    got = {(r.payload) for r in acid.read_atomic(spark, path).collect()}
    assert got == {"base", "late"}, "concurrent append must survive compaction"
    assert acid.read_atomic(spark, path).count() == 70
    # the conflicted attempt's staged copy was reclaimed at abort time:
    # every txn dir on disk is referenced by some manifest
    assert set(os.listdir(os.path.join(path, "data"))) <= _referenced_txns(path)


def test_compact_conflict_when_writer_lands_after_snapshot_read(
    spark, tmp_path, monkeypatch
):
    """The other CAS instant: a transactional writer commits right
    after compaction READ its snapshot, so the stale compaction must
    conflict and redo from the new snapshot.
    The writer's rows and its (app, version) cursor both survive, so a
    replay of its batch after the compaction is still a no-op."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "base"), path, ["p"])
    late = _mk(spark, "late", n=20)

    real_read = acid.read_atomic
    injected = {"done": False}

    def racing_read(spark_, p, *a, **kw):
        df = real_read(spark_, p, *a, **kw)
        if not injected["done"]:
            injected["done"] = True
            acid.atomic_overwrite_partitions(
                late, path, ["p"], mode="append", txn_app="w", txn_version=1
            )
        return df

    monkeypatch.setattr(acid, "read_atomic", racing_read)
    v = acid.compact(spark, path, target_partitions=1)
    monkeypatch.undo()

    assert v == acid.latest_version(path) == 2  # base, late, compacted
    assert _snapshot(spark, path) == (70, {"base", "late"}, {"a", "b"})
    assert acid.last_txn_version(path, "w") == 1
    assert acid.atomic_overwrite_partitions(
        late, path, ["p"], mode="append", txn_app="w", txn_version=1
    ) == -1
    assert acid.latest_version(path) == 2
    # the stale compaction left no staged copy behind
    assert set(os.listdir(os.path.join(path, "data"))) == _referenced_txns(path)


def test_txn_app_replay_is_skipped(spark, tmp_path):
    """Idempotent producers: a commit whose (app, version) is at or
    below the app's recorded cursor returns -1 without writing data or
    burning a version; other apps keep their own cursors."""
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="together"):
        acid.atomic_overwrite_partitions(_mk(spark, "x"), path, ["p"], txn_app="a")
    assert acid.last_txn_version(path, "a") == -1
    assert acid.atomic_overwrite_partitions(
        _mk(spark, "b0"), path, ["p"], txn_app="a", txn_version=0
    ) == 0
    assert acid.atomic_overwrite_partitions(
        _mk(spark, "b1"), path, ["p"], txn_app="a", txn_version=1
    ) == 1
    txn_dirs = set(os.listdir(os.path.join(path, "data")))

    # a replay is skipped before its data is written: this frame fails
    # if any Spark job evaluates it
    replay_df = _mk(spark, "replay").withColumn("boom", F.raise_error(F.lit("written")))
    for replay in (1, 0):
        assert acid.atomic_overwrite_partitions(
            replay_df, path, ["p"], txn_app="a", txn_version=replay
        ) == -1
    assert acid.latest_version(path) == 1
    assert set(os.listdir(os.path.join(path, "data"))) == txn_dirs
    assert _snapshot(spark, path)[1] == {"b1"}

    # another app's first batch lands; both cursors are carried forward
    assert acid.atomic_overwrite_partitions(
        _mk(spark, "other"), path, ["p"], txn_app="b", txn_version=0
    ) == 2
    assert (acid.last_txn_version(path, "a"), acid.last_txn_version(path, "b")) == (1, 0)
    assert acid.table_history(path)[0]["app_versions"] == {"a": 1, "b": 0}


def test_txn_app_replay_racing_inside_commit_loop(spark, tmp_path, monkeypatch):
    """Two deliveries of the same (app, version) race: the second
    passes the pre-write cursor check, then loses the manifest race to
    the first.  Its retry must see the cursor inside the serialized
    commit loop and return -1, dropping its staged copy, so the batch
    lands exactly once."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "base"), path, ["p"])

    real_open = os.open
    injected = {"done": False}

    def deliver_twice(p, *a, **kw):
        sp = str(p)
        if not injected["done"] and acid._MANIFEST_DIR in sp and sp.endswith(".tmp"):
            injected["done"] = True
            assert acid.atomic_overwrite_partitions(
                _mk(spark, "first"), path, ["p"], txn_app="s", txn_version=5
            ) == 1
        return real_open(p, *a, **kw)

    monkeypatch.setattr(os, "open", deliver_twice)
    got = acid.atomic_overwrite_partitions(
        _mk(spark, "second"), path, ["p"], txn_app="s", txn_version=5
    )
    monkeypatch.undo()

    assert got == -1
    assert acid.latest_version(path) == 1
    assert _snapshot(spark, path)[1] == {"first"}
    assert set(os.listdir(os.path.join(path, "data"))) == _referenced_txns(path)


def test_partition_layout_mismatch_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "flat"), path)  # unpartitioned
    with pytest.raises(ValueError, match="partitioned by"):
        acid.atomic_overwrite_partitions(_mk(spark, "part"), path, ["p"])
    path2 = str(tmp_path / "t2")
    acid.atomic_overwrite_partitions(_mk(spark, "part"), path2, ["p"])
    with pytest.raises(ValueError, match="partitioned by"):
        acid.atomic_overwrite_partitions(_mk(spark, "flat"), path2)


def test_manifest_publish_is_content_atomic(spark, tmp_path, monkeypatch):
    """Kill the writer between manifest content write and publish: no
    version appears (readers keep the old snapshot), and no torn JSON
    can ever become the latest version because publish is a hardlink
    of a fully-fsynced file."""
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    before = _snapshot(spark, path)

    real_link = os.link

    def die_on_publish(src, dst, **kw):
        raise KeyboardInterrupt("killed at publish")

    monkeypatch.setattr(os, "link", die_on_publish)
    with pytest.raises(KeyboardInterrupt):
        acid.atomic_overwrite_partitions(_mk(spark, "doomed"), path, ["p"])
    monkeypatch.undo()

    assert acid.latest_version(path) == 0
    assert _snapshot(spark, path) == before
    # every manifest on disk parses (no torn content anywhere)
    for v in acid._list_versions(path):
        acid._read_manifest(path, v)
    # the orphaned .tmp is vacuum food under zero grace
    acid.vacuum(path, keep_versions=1, grace_seconds=0)
    mdir = os.path.join(path, acid._MANIFEST_DIR)
    assert not [n for n in os.listdir(mdir) if n.endswith(".tmp")]


def test_manifest_level_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "v0"), path, ["p"])
    only_a = acid.read_atomic(spark, path, partitions={"p": "a"})
    assert {r.p for r in only_a.collect()} == {"a"}
    assert only_a.count() == 25
    with pytest.raises(ValueError, match="unknown partition"):
        acid.read_atomic(spark, path, partitions={"nope": "x"})
    with pytest.raises(ValueError, match="empty"):
        acid.read_atomic(spark, path, partitions={"p": "zzz"})


def test_vacuum_protects_just_superseded_version(spark, tmp_path):
    """Retention anchors to SUPERSESSION time, not file mtime: a
    snapshot whose files are ancient but that stopped being latest
    only seconds ago must survive vacuum (a reader may be mid-scan)."""
    import time

    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old"), path, ["p"])
    # age v0's manifest and data as if committed 3 days ago
    old_time = time.time() - 3 * 86400
    os.utime(acid._manifest_path(path, 0), (old_time, old_time))
    for dirpath, _dirs, files in os.walk(os.path.join(path, "data")):
        os.utime(dirpath, (old_time, old_time))
        for f in files:
            os.utime(os.path.join(dirpath, f), (old_time, old_time))

    acid.atomic_overwrite_partitions(_mk(spark, "new"), path, ["p"])  # supersede NOW
    removed = acid.vacuum(path, keep_versions=1)  # default 24h grace
    assert removed == [], "ancient mtimes must not defeat reader protection"
    # time travel to v0 still works
    assert _snapshot(spark, path, version=0)[1] == {"old"}
    # once the supersession itself has aged, reclamation proceeds
    removed = acid.vacuum(path, keep_versions=1, grace_seconds=0)
    assert any(r.endswith("v00000000.json") for r in removed)


def test_vacuum_reclaims_garbage_on_never_committed_table(spark, tmp_path):
    """A writer that crashed before the table's FIRST commit leaves
    staged data and a tmp manifest; vacuum must reclaim them even
    though no manifest versions exist."""
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, acid._MANIFEST_DIR))
    staged = os.path.join(path, "data", "txn-dead00000001")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    with open(os.path.join(path, acid._MANIFEST_DIR, "v00000000.json.x.tmp"), "w") as f:
        f.write("{}")
    removed = acid.vacuum(path, keep_versions=1, grace_seconds=0)
    assert not os.path.isdir(staged)
    assert any(r.endswith(".tmp") for r in removed)


def test_partition_pruning_hive_escaped_values(spark, tmp_path):
    """Pruning must match Spark's Hive path escaping: a value with ':'
    lives on disk as '%3A', and the raw user value must still prune."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00"), (2, "2024-01-01 11:00")], "k: long, p: string"
    )
    acid.atomic_overwrite_partitions(df, path, ["p"])
    pruned = acid.read_atomic(spark, path, partitions={"p": "2024-01-01 10:00"})
    rows = pruned.collect()
    assert [r.k for r in rows] == [1]
    assert rows[0].p == "2024-01-01 10:00"


# ---------------------------------------------------------------- zone maps


def test_zone_map_file_skipping_with_zorder(spark, tmp_path):
    """Z-ordered write + stat_cols → range reads on EITHER column skip
    most files, and the pruned read returns exactly the full-scan rows."""
    from tiki_e_commerce_analytics_etl_spark.functions.layout import zorder_layout

    path = str(tmp_path / "zt")
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    laid = zorder_layout(df, ["x", "y"], bits=8, n_files=16)
    acid.atomic_overwrite_partitions(laid, path, stat_cols=["x", "y"])

    total = len(acid.snapshot_files(path))
    assert total >= 8  # layout actually produced multiple files

    for col in ("x", "y"):
        touched = len(acid.snapshot_files(path, ranges={col: (10, 13)}))
        assert touched < total / 2, (col, touched, total)
        got = (
            acid.read_atomic(spark, path, ranges={col: (10, 13)})
            .filter(F.col(col).between(10, 13))
        )
        exact = df.filter(F.col(col).between(10, 13))
        assert got.count() == exact.count()
        assert got.exceptAll(exact).count() == 0


def test_zone_map_conservative_without_stats(spark, tmp_path):
    """Writes without stat_cols keep every file under ranges=; a
    predicate provably matching nothing still returns a schema'd empty
    result after the caller's filter."""
    path = str(tmp_path / "plain")
    df = spark.range(0, 100).select(F.col("id").alias("x"))
    acid.atomic_overwrite_partitions(df.repartition(4), path)
    assert len(acid.snapshot_files(path, ranges={"x": (5, 6)})) == len(acid.snapshot_files(path))

    stat_path = str(tmp_path / "stat")
    acid.atomic_overwrite_partitions(
        df.repartitionByRange(4, "x").sortWithinPartitions("x"), stat_path, stat_cols=["x"]
    )
    # out-of-domain predicate skips EVERY file; read still has schema
    out = acid.read_atomic(spark, stat_path, ranges={"x": (1000, 2000)})
    assert out.filter(F.col("x").between(1000, 2000)).count() == 0
    assert "x" in out.columns


def test_zone_maps_survive_partition_merge(spark, tmp_path):
    """Stats carry forward for untouched partitions across commits and
    replaced files' stale stats are pruned from the manifest."""
    path = str(tmp_path / "pt")
    day1 = spark.createDataFrame([("d1", 1), ("d1", 2)], "ds string, v int")
    day2 = spark.createDataFrame([("d2", 100), ("d2", 200)], "ds string, v int")
    acid.atomic_overwrite_partitions(day1.repartition(1), path, ["ds"], stat_cols=["v"])
    acid.atomic_overwrite_partitions(day2.repartition(1), path, ["ds"], stat_cols=["v"])
    # v<=2 can only live in d1's file: d2's file is skipped via stats
    files = acid.snapshot_files(path, ranges={"v": (None, 2)})
    assert len(files) == 1 and "ds=d1" in files[0]

    # replacing d1 re-stats its new file and drops the old entry
    day1b = spark.createDataFrame([("d1", 50)], "ds string, v int")
    acid.atomic_overwrite_partitions(day1b.repartition(1), path, ["ds"], stat_cols=["v"])
    manifest = json.load(open(acid._manifest_path(path, acid.latest_version(path))))
    live = {f for fs in manifest["partitions"].values() for f in fs}
    assert set(manifest["file_stats"]) <= live
    assert len(acid.snapshot_files(path, ranges={"v": (None, 2)})) == 0


def test_compact_preserves_zone_maps(spark, tmp_path):
    """Compaction must re-record file stats for every column the table
    was tracking — data skipping survives the rewrite."""
    path = str(tmp_path / "zc")
    for lo in (0, 100, 200, 300):
        batch = spark.range(lo, lo + 100).select(F.col("id").alias("x")).coalesce(1)
        acid.atomic_overwrite_partitions(batch, path, mode="append", stat_cols=["x"])
    assert len(acid.snapshot_files(path, ranges={"x": (0, 50)})) == 1
    # plain compaction: stats re-recorded (round-robin layout, so they
    # exist but span the domain)
    acid.compact(spark, path, target_partitions=4)
    m = acid._read_manifest(path, acid.latest_version(path))
    assert m["file_stats"] and all("x" in st for st in m["file_stats"].values())
    # clustered compaction: tight per-file ranges -> pruning works again
    acid.compact(spark, path, target_partitions=4, cluster_by=["x"])
    total = len(acid.snapshot_files(path))
    pruned = len(acid.snapshot_files(path, ranges={"x": (0, 20)}))
    assert pruned < total
    got = acid.read_atomic(spark, path, ranges={"x": (0, 20)}).filter("x <= 20").count()
    assert got == 21


def _feed(spark, path, v_from, v_to=None, **kw):
    df = acid.changes_between(spark, path, v_from, v_to, **kw)
    return sorted((r.k, r.payload, r.p, r._change_type) for r in df.collect())


def test_changes_between_append_only(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(_mk(spark, "base", n=4), path, ["p"])
    v1 = acid.atomic_overwrite_partitions(
        _mk(spark, "delta", n=2), path, ["p"], mode="append"
    )
    feed = _feed(spark, path, v0, v1)
    assert feed == [(0, "delta", "a", "insert"), (1, "delta", "b", "insert")]
    # file-level shortcut agrees on append-only histories
    assert feed == _feed(spark, path, v0, v1, row_level=False)


def test_changes_between_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(_mk(spark, "old", n=4), path, ["p"])
    new_a = _mk(spark, "new", n=4).filter(F.col("p") == "a")
    v1 = acid.atomic_overwrite_partitions(new_a, path, ["p"])
    feed = _feed(spark, path, v0, v1)
    # partition a replaced: its old rows deleted, new rows inserted;
    # partition b untouched -> absent from the feed entirely
    assert feed == [
        (0, "new", "a", "insert"),
        (0, "old", "a", "delete"),
        (2, "new", "a", "insert"),
        (2, "old", "a", "delete"),
    ]


def test_changes_between_compaction_is_silent(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(_mk(spark, "x", n=6), path, ["p"])
    acid.atomic_overwrite_partitions(_mk(spark, "y", n=2), path, ["p"], mode="append")
    v2 = acid.compact(spark, path)
    # physical rewrite, identical content: row-level feed vs the
    # pre-compaction version carries only the real append
    feed = _feed(spark, path, v0, v2)
    assert feed == [(0, "y", "a", "insert"), (1, "y", "b", "insert")]
    # ...and v1 -> v2 (pure compaction) is EMPTY row-level, non-empty file-level
    assert _feed(spark, path, 1, v2) == []
    assert len(_feed(spark, path, 1, v2, row_level=False)) > 0


def test_changes_between_bootstrap_and_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(_mk(spark, "base", n=4), path, ["p"])
    boot = _feed(spark, path, None, v0)
    assert len(boot) == 4 and all(t == "insert" for *_, t in boot)
    assert _feed(spark, path, v0, v0) == []


def test_changes_between_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(_mk(spark, "base", n=2), path, ["p"])
    widened = _mk(spark, "wide", n=2).withColumn("extra", F.lit(7))
    v1 = acid.atomic_overwrite_partitions(widened, path, ["p"])
    df = acid.changes_between(spark, path, v0, v1)
    rows = {(r.k, r.payload, r.extra, r._change_type) for r in df.collect()}
    assert (0, "wide", 7, "insert") in rows
    assert (0, "base", None, "delete") in rows


def test_table_history(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "base", n=4), path, ["p"])
    acid.atomic_overwrite_partitions(_mk(spark, "more", n=2), path, ["p"], mode="append")
    hist = acid.table_history(path)
    assert [h["version"] for h in hist] == [1, 0]
    assert hist[0]["n_rows"] == 6 and hist[1]["n_rows"] == 4
    assert hist[0]["n_partitions"] == 2
    assert all(h["partition_cols"] == ["p"] for h in hist)


def test_refresh_from_feed_tracks_snapshot_aggregate(spark, tmp_path):
    """CDC feed + refresh_from_feed == recompute from the new snapshot,
    including after a partition overwrite that deletes rows."""
    from tiki_e_commerce_analytics_etl_spark.operators.merge import refresh_from_feed

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [Row(k=i, p="a" if i % 2 == 0 else "b", v=i * 10) for i in range(8)]
    )
    v0 = acid.atomic_overwrite_partitions(base, path, ["p"])

    state = refresh_from_feed(
        None,
        acid.changes_between(spark, path, None, v0),
        ["p"],
        sums=["v"],
    )

    # replace partition a with fewer, different rows
    repl = spark.createDataFrame([Row(k=100, p="a", v=7), Row(k=101, p="a", v=3)])
    v1 = acid.atomic_overwrite_partitions(repl, path, ["p"])
    state = refresh_from_feed(
        state, acid.changes_between(spark, path, v0, v1), ["p"], sums=["v"]
    )

    want = {
        (r.p): (r.s, r.n)
        for r in acid.read_atomic(spark, path)
        .groupBy("p")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r.p: (r.v_sum, r.n_rows) for r in state.collect()}
    assert got == want

    # wipe partition b entirely (overwrite with empty is not possible;
    # overwrite b with one row then check keys drop when deleted)
    only_b = spark.createDataFrame([Row(k=200, p="b", v=1)])
    v2 = acid.atomic_overwrite_partitions(only_b, path, ["p"])
    state = refresh_from_feed(
        state, acid.changes_between(spark, path, v1, v2), ["p"], sums=["v"]
    )
    got = {r.p: (r.v_sum, r.n_rows) for r in state.collect()}
    assert got[("b")] == (1, 1)


def test_tf_index_cdc_maintenance_serves_identical_bm25(spark, tmp_path):
    """Persistent inverted index: build (doc,term,tf) from a v0 corpus
    into an acid table, evolve the corpus (replace a partition), fold
    the CDC feed into the index, and assert (a) the refreshed index
    equals a from-scratch rebuild and (b) BM25 served from it equals
    BM25 over the raw new corpus."""
    from tiki_e_commerce_analytics_etl_spark.operators import ranking

    corpus_path = str(tmp_path / "corpus")
    docs0 = spark.createDataFrame(
        [
            Row(doc_id=1, p="a", text="spark shuffles data fast"),
            Row(doc_id=2, p="a", text="slow full scans hurt"),
            Row(doc_id=3, p="b", text="broadcast joins avoid shuffles"),
            Row(doc_id=4, p="b", text="data skipping with zone maps"),
        ]
    )
    v0 = acid.atomic_overwrite_partitions(docs0, corpus_path, ["p"])
    tf0 = ranking.term_frequencies(
        acid.read_atomic(spark, corpus_path), "text", "doc_id"
    )

    # corpus evolves: partition a replaced (doc 1 updated, doc 2 gone)
    docs1 = spark.createDataFrame(
        [Row(doc_id=1, p="a", text="spark shuffles data very very fast")]
    )
    v1 = acid.atomic_overwrite_partitions(docs1, corpus_path, ["p"])
    feed = acid.changes_between(spark, corpus_path, v0, v1)
    tf1 = ranking.refresh_tf_index(tf0, feed, "text", "doc_id")

    rebuilt = ranking.term_frequencies(
        acid.read_atomic(spark, corpus_path), "text", "doc_id"
    )
    assert sorted(map(tuple, tf1.collect())) == sorted(map(tuple, rebuilt.collect()))

    queries = spark.createDataFrame(
        [(0, "shuffles"), (0, "data"), (1, "zone")], "query_id long, term string"
    )
    from_index = ranking.bm25_from_tf(tf1, queries, k=3)
    from_raw = ranking.bm25_topk(
        acid.read_atomic(spark, corpus_path), queries, "text", "doc_id", k=3
    )
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, from_raw.collect())
    )


def test_next_changes_cursor_lifecycle(spark, tmp_path):
    """Cursor consumption: first call sees the bootstrap feed, commit
    advances the cursor, no-new-commits returns None, a crash before
    commit replays the same window, independent consumers track
    independently."""
    path = str(tmp_path / "t")
    cursor = str(tmp_path / "cursors.json")
    acid.atomic_overwrite_partitions(_mk(spark, "base", n=4), path, ["p"])

    feed, commit = acid.next_changes(spark, path, cursor)
    assert feed is not None and feed.count() == 4
    # crash before commit: the same window replays
    feed2, commit2 = acid.next_changes(spark, path, cursor)
    assert feed2.count() == 4
    commit2()
    assert acid.next_changes(spark, path, cursor)[0] is None

    acid.atomic_overwrite_partitions(_mk(spark, "more", n=2), path, ["p"], mode="append")
    feed3, commit3 = acid.next_changes(spark, path, cursor)
    assert feed3.count() == 2
    # a second consumer still sees everything from the start
    feed_b, commit_b = acid.next_changes(spark, path, cursor, consumer="b")
    assert feed_b.count() == 6
    commit3(); commit_b()
    assert acid.next_changes(spark, path, cursor)[0] is None
    assert acid.next_changes(spark, path, cursor, consumer="b")[0] is None


# ------------------------------------------------------ recorded schemas


def _strip_schemas(path):
    """Rewrite every manifest as a commit before schemas were recorded."""
    for v in acid._list_versions(path):
        m = acid._read_manifest(path, v)
        m.pop("schemas")
        m.pop("txn_schema")
        with open(acid._manifest_path(path, v), "w") as f:
            json.dump(m, f)


def _jobs_planning_read(spark, path, group):
    """Spark jobs started while ``read_atomic`` plans (no action)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan read_atomic")
    try:
        df = acid.read_atomic(spark, path)
        df.schema  # analysis, no action
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _three_txns(spark, path):
    for tag, part in (("t0", "a"), ("t1", "b"), ("t2", "c")):
        acid.atomic_overwrite_partitions(_mk(spark, tag, n=4, parts=(part,)), path, ["p"])


def test_schema_recorded_once_per_manifest_and_pruned(spark, tmp_path):
    path = str(tmp_path / "t")
    _three_txns(spark, path)
    m = acid._read_manifest(path, 2)
    assert m["schemas"] == ["k BIGINT,payload STRING,p STRING"]
    live = {acid._txn_root(f) for fs in m["partitions"].values() for f in fs}
    assert set(m["txn_schema"]) == live and len(live) == 3
    # replacing every partition leaves one live txn and one map entry
    acid.atomic_overwrite_partitions(_mk(spark, "all", n=6, parts=("a", "b", "c")), path, ["p"])
    m = acid._read_manifest(path, 3)
    assert m["txn_schema"] == {acid._txn_root(m["partitions"]["p=a"][0]): 0}


def test_read_atomic_planning_starts_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _three_txns(spark, path)
    assert _jobs_planning_read(spark, path, "acid-plan-recorded") == 0
    # the same snapshot without recorded schemas infers one per txn
    _strip_schemas(path)
    assert _jobs_planning_read(spark, path, "acid-plan-inferred") > 0


def test_manifest_without_schema_reads_same_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _three_txns(spark, path)
    acid.atomic_overwrite_partitions(
        _mk(spark, "wide", n=4, parts=("a",)).withColumn("extra", F.lit(1).cast("long")),
        path, ["p"],
    )
    with_schema = acid.read_atomic(spark, path)
    want = sorted(map(tuple, with_schema.collect()))
    _strip_schemas(path)
    old_path = acid.read_atomic(spark, path)
    assert old_path.schema == with_schema.schema
    assert sorted(map(tuple, old_path.collect())) == want
    # a commit over a pre-schema manifest records its own txn only; the
    # carried-forward txns keep reading through inference
    acid.atomic_overwrite_partitions(_mk(spark, "new", n=4, parts=("c",)), path, ["p"])
    m = acid._read_manifest(path, acid.latest_version(path))
    assert list(m["txn_schema"]) == [acid._txn_root(m["partitions"]["p=c"][0])]
    got = {(r.p, r.payload) for r in acid.read_atomic(spark, path).collect()}
    assert got == {("a", "wide"), ("b", "t1"), ("c", "new")}


def test_compact_records_schema_and_keeps_read_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    _three_txns(spark, path)
    before = acid.read_atomic(spark, path)
    rows = sorted(map(tuple, before.collect()))
    v = acid.compact(spark, path)
    m = acid._read_manifest(path, v)
    assert m["schemas"] and set(m["txn_schema"]) == {
        acid._txn_root(f) for fs in m["partitions"].values() for f in fs
    }
    after = acid.read_atomic(spark, path)
    assert after.schema == before.schema
    assert sorted(map(tuple, after.collect())) == rows


def test_string_partition_value_keeps_written_type(spark, tmp_path):
    """'007' is a string partition value: inference would read it back
    as the int 7 (or, once an 'abc' partition is live, as the string
    '7'); the recorded schema keeps the written string."""
    path = str(tmp_path / "t")
    v0 = acid.atomic_overwrite_partitions(
        spark.createDataFrame([(1, "007")], "k long, code string"), path, ["code"]
    )
    df = acid.read_atomic(spark, path)
    assert df.schema["code"].dataType.simpleString() == "string"
    assert [r.code for r in df.collect()] == ["007"]
    v1 = acid.atomic_overwrite_partitions(
        spark.createDataFrame([(2, "abc")], "k long, code string"), path, ["code"]
    )
    assert sorted(r.code for r in acid.read_atomic(spark, path).collect()) == ["007", "abc"]
    feed = acid.changes_between(spark, path, None, v1)
    assert feed.schema["code"].dataType.simpleString() == "string"
    assert sorted(r.code for r in feed.collect()) == ["007", "abc"]
    assert [r.code for r in acid.changes_between(spark, path, None, v0).collect()] == ["007"]


def test_partition_columns_keep_written_types(spark, tmp_path):
    """The date, long and timestamp partition columns the DAGs and
    streaming sinks write read back with their written types (inference
    would read the long 5 as an int)."""
    import datetime

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 2), 5, datetime.datetime(2024, 1, 2, 10, 30))],
        "k long, d date, n long, ts timestamp",
    )
    acid.atomic_overwrite_partitions(df, path, ["d", "n", "ts"])
    got = acid.read_atomic(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] == [
        ("k", "bigint"), ("d", "date"), ("n", "bigint"), ("ts", "timestamp"),
    ]
    assert [tuple(r) for r in got.collect()] == [tuple(df.first())]


def test_commit_and_parquet_row_counts_from_metadata(spark, tmp_path):
    path = str(tmp_path / "t")
    acid.atomic_overwrite_partitions(_mk(spark, "old", n=10), path, ["p"])
    v1 = acid.atomic_overwrite_partitions(_mk(spark, "new", n=4).filter(F.col("p") == "a"), path, ["p"])
    # only partition a's 2 new rows, not the carried-forward partition b
    assert acid.commit_row_count(path, v1) == 2
    assert acid.snapshot_row_count(path, v1) == 7
    plain = str(tmp_path / "plain")
    _mk(spark, "x", n=9).write.parquet(plain)
    assert acid.parquet_row_count(plain) == 9
