"""Orchestration layer: runner semantics (retries, trigger rules,
resume, locking, timeout) plus the four reference pipelines end-to-end
on the deterministic fixtures.

Reference behavior mirrored: dags/tiki_dag.py:17-20 (retries),
analytics_dag.py:336-355 (all_success gating), tiki_dag.py:34
(max_active_runs=1), trends_dag.py:687 / fx_rate_dag.py:472 (chains).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark import acid
from tiki_e_commerce_analytics_etl_spark.pipelines import (
    Pipeline,
    PipelineLocked,
    Task,
    analytics_pipeline,
    fx_pipeline,
    tiki_pipeline,
    trends_pipeline,
)

DS = "2024-03-01"  # the fixture batch's extracted_at date


# ---------------------------------------------------------------- runner


def test_cycle_detection():
    p = Pipeline("cyc")
    p.add(Task("a", lambda ctx: None, upstream=("b",)))
    p.add(Task("b", lambda ctx: None, upstream=("a",)))
    with pytest.raises(ValueError, match="cycle"):
        p.run(ds=DS)


def test_unknown_upstream():
    p = Pipeline("bad")
    p.add(Task("a", lambda ctx: None, upstream=("ghost",)))
    with pytest.raises(ValueError, match="unknown"):
        p.run(ds=DS)


def test_retry_then_success_records_delays():
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    slept: list[float] = []
    p = Pipeline("flaky")
    p.add(Task("t", flaky, retries=2, retry_delay=300.0))
    res = p.run(ds=DS, sleep=slept.append)
    assert res["t"].state == "success"
    assert res["t"].attempts == 3
    assert slept == [300.0, 300.0]  # tiki_dag.py:19 retry_delay=5min


def test_retries_exhausted_fails():
    p = Pipeline("dead")
    p.add(Task("t", lambda ctx: 1 / 0, retries=1))
    res = p.run(ds=DS, sleep=lambda s: None)
    assert res["t"].state == "failed"
    assert res["t"].attempts == 2
    assert "ZeroDivisionError" in res["t"].error


def test_trigger_rules_gate_downstream():
    ran: list[str] = []
    p = Pipeline("gate")
    p.add(Task("boom", lambda ctx: 1 / 0))
    p.add(Task("gated", lambda ctx: ran.append("gated"), upstream=("boom",)))
    p.add(
        Task(
            "cleanup",
            lambda ctx: ran.append("cleanup"),
            upstream=("boom",),
            trigger_rule="all_done",
        )
    )
    p.add(Task("transitive", lambda ctx: ran.append("transitive"), upstream=("gated",)))
    res = p.run(ds=DS)
    assert res["boom"].state == "failed"
    assert res["gated"].state == "skipped"
    assert res["transitive"].state == "skipped"  # skip propagates
    assert res["cleanup"].state == "success"
    assert ran == ["cleanup"]


def test_xcom_passing():
    p = Pipeline("xcom")
    p.add(Task("produce", lambda ctx: {"path": "/tmp/x", "rows": 5}))
    p.add(
        Task(
            "consume",
            lambda ctx: ctx.xcom["produce"]["rows"] * 2,
            upstream=("produce",),
        )
    )
    res = p.run(ds=DS)
    assert res["consume"].state == "success"


def test_resume_skips_succeeded_tasks(tmp_path):
    counts = {"a": 0, "b": 0}
    fail_b = {"on": True}

    def a(ctx):
        counts["a"] += 1
        return {"v": 1}

    def b(ctx):
        counts["b"] += 1
        if fail_b["on"]:
            raise RuntimeError("first run fails")
        return ctx.xcom["a"]["v"] + 1

    p = Pipeline("resume", state_dir=str(tmp_path))
    p.add(Task("a", a))
    p.add(Task("b", b, upstream=("a",)))
    r1 = p.run(ds=DS)
    assert r1["a"].state == "success" and r1["b"].state == "failed"

    fail_b["on"] = False
    r2 = p.run(ds=DS)
    assert r2["a"].state == "resumed"
    assert r2["b"].state == "success"
    assert counts == {"a": 1, "b": 2}  # a not re-executed

    # A DIFFERENT logical date runs everything fresh.
    r3 = p.run(ds="2024-03-02")
    assert r3["a"].state == "success"
    assert counts["a"] == 2


def test_unserializable_xcom_reexecutes_on_resume(tmp_path):
    counts = {"a": 0}

    def a(ctx):
        counts["a"] += 1
        return object()  # not JSON-serializable → no recorded xcom

    p = Pipeline("unser", state_dir=str(tmp_path))
    p.add(Task("a", a))
    p.run(ds=DS)
    p.run(ds=DS)
    assert counts["a"] == 2


def test_lock_blocks_second_run(tmp_path):
    p = Pipeline("locked", state_dir=str(tmp_path))
    p.add(Task("a", lambda ctx: None))
    lock = tmp_path / "locked.lock"
    lock.write_text(str(os.getpid()))  # a live pid holds the lock
    with pytest.raises(PipelineLocked):
        p.run(ds=DS)
    # Stale lock (dead pid) is reclaimed; the run proceeds.
    lock.write_text("999999999")
    res = p.run(ds=DS)
    assert res["a"].state == "success"
    assert not lock.exists()  # released afterwards


def test_timeout_fails_task():
    p = Pipeline("slow")
    p.add(Task("t", lambda ctx: time.sleep(5), timeout=0.2))
    res = p.run(ds=DS)
    assert res["t"].state == "failed"
    assert "TimeoutError" in res["t"].error


# ------------------------------------------------- reference pipelines


def _trends_fixture(spark, ds, keywords):
    rows = [
        ("2024-03-01", 80, 35, False),
        ("2024-02-29", 70, 30, False),
    ]
    return spark.createDataFrame(rows, "date string, iphone string, `tai nghe` string, isPartial string")


def _keyword_mapping(spark, active=True):
    rows = [
        (1789, "iphone", active),
        (8318, "tai nghe", active),
        (1883, "noi chien", active),
    ]
    return spark.createDataFrame(
        rows, "tiki_category_id long, trend_keyword string, is_active boolean"
    )


@pytest.fixture()
def platform_dirs(tmp_path):
    data_dir = str(tmp_path / "data")
    state_dir = str(tmp_path / "state")
    return data_dir, state_dir


def _run_all(spark, data_dir, state_dir, active_mapping=True):
    km_path = os.path.join(data_dir, "conf", "keyword_mapping")
    _keyword_mapping(spark, active=active_mapping).write.mode("overwrite").parquet(km_path)

    fx = fx_pipeline(state_dir)
    r_fx = fx.run(ds=DS, spark=spark, params={"data_dir": data_dir})

    tr = trends_pipeline(state_dir)
    r_tr = tr.run(
        ds=DS,
        spark=spark,
        params={"data_dir": data_dir, "keywords": ["iphone", "tai nghe"], "trends_fetch": _trends_fixture},
    )

    tk = tiki_pipeline(state_dir)
    r_tk = tk.run(ds=DS, spark=spark, params={"data_dir": data_dir})

    an = analytics_pipeline(state_dir)
    r_an = an.run(
        ds=DS,
        spark=spark,
        params={"data_dir": data_dir, "keyword_mapping_path": km_path},
    )
    return r_fx, r_tr, r_tk, r_an


def test_platform_end_to_end(spark, platform_dirs):
    data_dir, state_dir = platform_dirs
    r_fx, r_tr, r_tk, r_an = _run_all(spark, data_dir, state_dir)

    for res in (r_fx, r_tr, r_tk):
        assert all(t.state == "success" for t in res.values()), res
    assert r_an["build_daily_mart"].state == "success"
    assert r_an["check_data_quality"].state == "success"
    assert r_an["log_summary"].state == "success"

    # log_summary's payload persists in the run-state sidecar — verify
    # the xcom wiring actually carried the mart rows and check booleans.
    import json as _json

    state = _json.load(open(os.path.join(state_dir, f"analytics_pipeline__{DS}.json")))
    summary = state["log_summary"]["xcom"]
    assert summary["ds"] == DS and summary["mart_rows"] == 3
    assert all(summary["checks"].values())

    # Every row count the DAGs take from manifests or footers equals a
    # recount of what it names.
    def xcom(pipeline, task):
        return _json.load(open(os.path.join(state_dir, f"{pipeline}__{DS}.json")))[task]["xcom"]

    def table_rows(table):
        return acid.read_atomic(spark, os.path.join(data_dir, "warehouse", table)).count()

    staged = xcom("tiki_etl_pipeline", "transform_to_parquet")
    assert xcom("tiki_etl_pipeline", "load_to_bigquery") == {
        "fact_daily_snapshot": spark.read.parquet(staged["fact_daily_snapshot"]).count(),
        "dim_products": table_rows("dim_products"),
        "dim_categories": table_rows("dim_categories"),
    }
    fetched = xcom("trends_pipeline", "fetch_trends_data")
    assert fetched["row_count"] == spark.read.parquet(fetched["raw_path"]).count() > 0
    transformed = xcom("trends_pipeline", "transform_trends_data")
    assert transformed["transform_row_count"] == spark.read.parquet(transformed["parquet_file"]).count()
    assert xcom("trends_pipeline", "merge_to_fact")["fact_rows"] == table_rows("fact_google_trends")
    fx_staged = xcom("fx_pipeline", "transform_fx_data")["parquet_path"]
    assert xcom("fx_pipeline", "load_to_bigquery")["rows"] == spark.read.parquet(fx_staged).count() == 1

    mart = acid.read_atomic(spark, os.path.join(data_dir, "warehouse", "mart_daily_analytics"))
    rows = mart.collect()
    # 3 valid fixture products (101 deduped, 102, 103); ghost/freebie rejected.
    assert len(rows) == 3
    by_id = {int(r["product_id"]): r for r in rows}
    # The iphone row found Full trend data and the fetched fx fallback rate.
    assert by_id[101]["trend_signal_status"] == "Full Data"
    assert by_id[101]["fx_rate"] == pytest.approx(25400.0)

    # Re-trigger the SAME ds: every task resumes (no re-execution), and
    # the warehouse is unchanged — the idempotency the reference gets
    # from BigQuery MERGE / partition truncation.
    tk2 = tiki_pipeline(state_dir)
    r2 = tk2.run(ds=DS, spark=spark, params={"data_dir": data_dir})
    assert all(t.state == "resumed" for t in r2.values()), r2
    fact = acid.read_atomic(spark, os.path.join(data_dir, "warehouse", "fact_daily_snapshot"))
    assert fact.count() == 3


def test_quality_gate_skips_summary_on_bad_mart(spark, platform_dirs):
    data_dir, state_dir = platform_dirs
    # All keyword mappings inactive → every mart row lands in the
    # 'No Trend Data' arm → the some_full_trend_data ASSERT fails
    # (analytics_dag.py:328-347): check fails, summary is SKIPPED.
    *_, r_an = _run_all(spark, data_dir, state_dir, active_mapping=False)
    assert r_an["build_daily_mart"].state == "success"
    assert r_an["check_data_quality"].state == "failed"
    assert "QualityCheckError" in r_an["check_data_quality"].error
    assert r_an["log_summary"].state == "skipped"


def test_fact_load_is_partition_scoped(spark, platform_dirs):
    """A second day's run must not clobber the first day's partition."""
    data_dir, state_dir = platform_dirs
    tk = tiki_pipeline(state_dir)
    tk.run(ds=DS, spark=spark, params={"data_dir": data_dir})

    # Day 2 uses the same fixture batch; the raw path and warehouse
    # partition are keyed by snapshot_date (from the data), so we shift
    # the crawl source's extracted_at to fake a second day.
    from pyspark.sql import functions as F
    from tiki_e_commerce_analytics_etl_spark.plans import fixtures

    def day2(spark_, ds_):
        return fixtures.raw_products_fixture(spark_).withColumn(
            "_extracted_at",
            F.regexp_replace("_extracted_at", "2024-03-01", "2024-03-02"),
        )

    tk2 = tiki_pipeline(state_dir)
    tk2.run(ds="2024-03-02", spark=spark, params={"data_dir": data_dir, "crawl_source": day2})

    fact = acid.read_atomic(spark, os.path.join(data_dir, "warehouse", "fact_daily_snapshot"))
    per_day = {str(r["snapshot_date"]): r["n"] for r in fact.groupBy("snapshot_date").agg(F.count("*").alias("n")).collect()}
    assert per_day == {"2024-03-01": 3, "2024-03-02": 3}


def test_maintenance_pipeline_compacts_and_vacuums(spark, platform_dirs):
    from tiki_e_commerce_analytics_etl_spark.pipelines import maintenance_pipeline

    data_dir, state_dir = platform_dirs
    path = os.path.join(data_dir, "warehouse", "appendy")
    for i in range(4):  # many small append transactions
        batch = spark.createDataFrame([(i, f"v{i}")], "k int, v string").repartition(2)
        acid.atomic_overwrite_partitions(batch, path, mode="append")
    files_before = len(acid.snapshot_files(path))
    v_before = acid.latest_version(path)

    mp = maintenance_pipeline(state_dir)
    res = mp.run(
        ds="2024-03-05",
        spark=spark,
        params={"data_dir": data_dir, "keep_versions": 1, "grace_seconds": 0.0, "compact_target_partitions": 1},
    )
    assert all(t.state == "success" for t in res.values()), res
    assert acid.latest_version(path) == v_before + 1          # compaction committed
    assert len(acid.snapshot_files(path)) < files_before       # fewer files
    got = sorted(tuple(r) for r in acid.read_atomic(spark, path).collect())
    assert got == [(i, f"v{i}") for i in range(4)]              # data intact
    # old manifests vacuumed to retention
    assert acid._list_versions(path) == [acid.latest_version(path)]


def test_parallel_execution_overlaps_independent_tasks():
    p = Pipeline("par")
    for name in ("a", "b", "c"):
        p.add(Task(name, lambda ctx: time.sleep(0.5)))
    p.add(Task("join", lambda ctx: "done", upstream=("a", "b", "c")))
    start = time.perf_counter()
    res = p.run(ds=DS, max_workers=4)
    wall = time.perf_counter() - start
    assert all(r.state == "success" for r in res.values())
    assert wall < 1.2  # 3 × 0.5s overlapped, not serialized


def test_parallel_mode_preserves_trigger_semantics(tmp_path):
    p = Pipeline("par_gate", state_dir=str(tmp_path))
    p.add(Task("ok", lambda ctx: 1))
    p.add(Task("boom", lambda ctx: 1 / 0))
    p.add(Task("gated", lambda ctx: 2, upstream=("boom", "ok")))
    p.add(Task("cleanup", lambda ctx: 3, upstream=("boom",), trigger_rule="all_done"))
    res = p.run(ds=DS, max_workers=4)
    assert res["ok"].state == "success"
    assert res["boom"].state == "failed"
    assert res["gated"].state == "skipped"
    assert res["cleanup"].state == "success"
    # resume in parallel mode: succeeded tasks come back RESUMED
    res2 = p.run(ds=DS, max_workers=4)
    assert res2["ok"].state == "resumed"
    assert res2["cleanup"].state == "resumed"
    assert res2["boom"].state == "failed"


def test_backfill_runs_oldest_first_and_resumes(tmp_path):
    seen = []
    p = Pipeline("bf", state_dir=str(tmp_path))
    p.add(Task("t", lambda ctx: seen.append(ctx.ds) or {"ds": ctx.ds}))
    out = p.backfill(["2024-03-03", "2024-03-01", "2024-03-02"])
    assert seen == ["2024-03-01", "2024-03-02", "2024-03-03"]
    assert all(r["t"].state == "success" for r in out.values())
    out2 = p.backfill(["2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"])
    assert seen == ["2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"]
    assert out2["2024-03-02"]["t"].state == "resumed"
    assert out2["2024-03-04"]["t"].state == "success"


def test_empty_or_corrupt_lock_is_reaped(tmp_path):
    """A lock with no/garbage pid (crash between create and write under
    the old protocol, manual touch, disk corruption) must be treated as
    stale — NOT parsed as pid 0, which kill(0,0) reports alive forever."""
    p = Pipeline("reap", state_dir=str(tmp_path))
    p.add(Task("a", lambda ctx: "ok"))
    (tmp_path / "reap.lock").write_text("")
    assert p.run(ds=DS)["a"].state == "success"
    (tmp_path / "reap.lock").write_text("not-a-pid")
    assert p.run(ds=DS)["a"].state == "resumed"
    assert not (tmp_path / "reap.lock").exists()


def test_keyboard_interrupt_aborts_run_not_retried():
    calls = {"n": 0}

    def interrupted(ctx):
        calls["n"] += 1
        raise KeyboardInterrupt

    p = Pipeline("ctrlc")
    p.add(Task("t", interrupted, retries=3, retry_delay=300.0))
    slept = []
    with pytest.raises(KeyboardInterrupt):
        p.run(ds=DS, sleep=slept.append)
    assert calls["n"] == 1 and slept == []  # no retry, no sleep


def test_pipelines_import_leaves_operator_library_unloaded():
    """The daily batch imports only what its DAGs run: importing
    ``pipelines`` in a fresh interpreter must not load pandas, the
    curation dedup family, the legacy ``io`` sinks or ``streaming``."""
    import subprocess
    import sys

    pkg = "tiki_e_commerce_analytics_etl_spark"
    banned = ["pandas", f"{pkg}.operators.dedup", f"{pkg}.io", f"{pkg}.streaming"]
    code = (
        f"import sys, {pkg}.pipelines\n"
        f"print([m for m in {banned!r} if m in sys.modules])\n"
    )
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True, cwd=repo_root,
    )
    assert out.stdout.strip() == "[]"


# ------------------------------------------------- multi-table ingest chains
#
# A batch ingest committed across several acid tables, each under the
# same (app, batch_id) transaction: per-table cursors make every step
# idempotent, and the LAST table's cursor is the whole-batch replay
# check (the protocol ``foreach_batch_sketch_merge`` follows).  Built
# only from kept operators, so these tests pin down what acid promises
# such a chain: crash redelivery converges, compaction may interleave
# at any position, and compaction loses a race to the chain cleanly.

_M_BITS = 1 << 12


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _chain_tables(root):
    return {t: os.path.join(root, t) for t in ("hashes", "bloom", "bigrams", "corpus")}


def _ingest_chain(spark, root, batch, batch_id, app="ingest"):
    """Admit ``batch``'s content-new docs (exact dedup in-batch and
    against the corpus) through four commits: hashes=1, bloom=2,
    bigrams=3, corpus=4.  Returns the admitted count, or None when the
    corpus cursor shows the batch already landed."""
    from tiki_e_commerce_analytics_etl_spark.operators import dedup
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops
    from tiki_e_commerce_analytics_etl_spark.streaming.incremental import (
        foreach_batch_bloom_merge,
    )

    t = _chain_tables(root)
    if acid.last_txn_version(t["corpus"], app) >= batch_id:
        return None
    fresh = dedup.exact_dedup(batch)
    if acid.latest_version(t["corpus"]) is not None:
        seen = acid.read_atomic(spark, t["corpus"]).select("content_hash")
        fresh = fresh.join(seen, "content_hash", "left_anti")
    # materialized once: every commit below writes from the same rows
    fresh = fresh.select("doc_id", "text", "content_hash").localCheckpoint()

    def commit(df, path):
        acid.atomic_overwrite_partitions(
            df, path, mode="append", txn_app=app, txn_version=batch_id
        )

    commit(fresh.select("content_hash"), t["hashes"])
    foreach_batch_bloom_merge(t["bloom"], "content_hash", app, m_bits=_M_BITS)(
        fresh, batch_id
    )
    commit(text_ops._kn_bigram_stats(fresh, "text", "doc_id")[0], t["bigrams"])
    commit(fresh, t["corpus"])
    return fresh.count()


def _chain_state(spark, root):
    """Sorted row multiset of every chain table — byte-comparable."""
    return {
        name: sorted(tuple(r) for r in acid.read_atomic(spark, path).collect())
        for name, path in _chain_tables(root).items()
    }


def _chain_versions(root):
    return {name: acid.latest_version(p) for name, p in _chain_tables(root).items()}


def _assert_chain_invariants(spark, root):
    from tiki_e_commerce_analytics_etl_spark.operators import bloom
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    t = _chain_tables(root)
    corpus = acid.read_atomic(spark, t["corpus"])
    hashes = acid.read_atomic(spark, t["hashes"])
    # one distinct hash row per admitted doc
    assert hashes.count() == hashes.distinct().count() == corpus.count()
    assert sorted(r[0] for r in hashes.collect()) == sorted(
        r.content_hash for r in corpus.collect()
    )
    # the bloom has no false negatives against the hash table
    flags = bloom.bloom_probe(
        hashes, acid.read_atomic(spark, t["bloom"]), "content_hash", m_bits=_M_BITS
    )
    assert flags.where(~F.col("maybe_seen")).count() == 0
    # the summed per-batch bigram counts are the corpus's counts
    counts = acid.read_atomic(spark, t["bigrams"]).groupBy("w1", "w2").agg(
        F.sum("cbg").alias("cbg")
    )
    want = text_ops._kn_bigram_stats(corpus, "text", "doc_id")[0]
    assert sorted(map(tuple, counts.collect())) == sorted(map(tuple, want.collect()))


def test_incremental_ingest_dedups_across_batches_exactly_once(spark, tmp_path):
    """In-batch dups collapse to the smallest id, cross-batch dups of
    admitted content are rejected, replays are whole-batch no-ops that
    move no table, and the corpus is exactly the distinct content."""
    root = str(tmp_path / "root")
    b0 = _mk_docs(spark, [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha  BETA")])
    assert _ingest_chain(spark, root, b0, 0) == 2

    b1 = _mk_docs(spark, [(4, "gamma delta"), (5, "epsilon zeta")])
    assert _ingest_chain(spark, root, b1, 1) == 1

    versions = _chain_versions(root)
    assert _ingest_chain(spark, root, b1, 1) is None
    assert _chain_versions(root) == versions

    corpus = acid.read_atomic(spark, _chain_tables(root)["corpus"])
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2, 5]
    assert _ingest_chain(spark, root, _mk_docs(spark, [(6, "eta theta")]), 2) == 1
    _assert_chain_invariants(spark, root)


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4])
def test_ingest_crash_matrix_invariants(spark, tmp_path, monkeypatch, crash_at):
    """A crash at EVERY commit of the chain (hashes=1, bloom=2,
    bigrams=3, corpus=4): redelivering the batch re-runs only the
    missing commits — the committed tables skip it by their own
    cursor — and the store ends byte-identical to a crash-free run,
    with all invariants holding and a further replay moving nothing."""
    b0 = _mk_docs(spark, [(1, "seed content for the store with many words")])
    b1 = _mk_docs(
        spark,
        [(2, "crashing batch body with distinctive vocabulary here"),
         (3, "seed content for the store with many words")],
    )

    clean = str(tmp_path / "clean")
    _ingest_chain(spark, clean, b0, 0)
    _ingest_chain(spark, clean, b1, 1)

    root = str(tmp_path / "root")
    _ingest_chain(spark, root, b0, 0)
    real_commit = acid.atomic_overwrite_partitions
    state = {"calls": 0}

    def crashing(df, path, *a, **kw):
        state["calls"] += 1
        if state["calls"] == crash_at:
            raise RuntimeError("injected crash")
        return real_commit(df, path, *a, **kw)

    monkeypatch.setattr(acid, "atomic_overwrite_partitions", crashing)
    with pytest.raises(RuntimeError, match="injected"):
        _ingest_chain(spark, root, b1, 1)
    monkeypatch.setattr(acid, "atomic_overwrite_partitions", real_commit)

    t = _chain_tables(root)
    committed = [acid.last_txn_version(t[n], "ingest") for n in t]
    assert committed == [1] * (crash_at - 1) + [0] * (5 - crash_at)

    assert _ingest_chain(spark, root, b1, 1) == 1
    assert _chain_state(spark, root) == _chain_state(spark, clean)
    _assert_chain_invariants(spark, root)
    versions = _chain_versions(root)
    assert _ingest_chain(spark, root, b1, 1) is None
    assert _chain_versions(root) == versions


_CHAIN_BATCHES = [
    [(1, "alpha beta gamma delta epsilon"), (2, "another topic with its own words")],
    [(3, "alpha beta gamma delta epsilon"), (4, "fresh content for the second batch")],
    [(5, "third batch document entirely unlike the others")],
]


@pytest.fixture(scope="module")
def serial_chain_state(spark, tmp_path_factory):
    """The store after all of ``_CHAIN_BATCHES``, then compaction."""
    serial = str(tmp_path_factory.mktemp("serial"))
    for i, rows in enumerate(_CHAIN_BATCHES):
        _ingest_chain(spark, serial, _mk_docs(spark, rows), i)
    for p in _chain_tables(serial).values():
        acid.compact(spark, p)
    return _chain_state(spark, serial)


@pytest.mark.parametrize("compact_after", [1, 2, 3, 4])
def test_compact_interleaves_mid_ingest_chain(
    spark, tmp_path, monkeypatch, serial_chain_state, compact_after
):
    """Compaction of every table fires at EVERY position inside a live
    chain (after hashes=1 / bloom=2 / bigrams=3 / corpus=4): the chain
    keeps committing on top of the compacted versions, a later batch
    ingests normally, and the store equals the serial schedule (all
    batches, then compact).  The compactions carry the txn cursors
    forward, so a replay of the raced batch is still a no-op."""
    mk = lambda rows: _mk_docs(spark, rows)  # noqa: E731
    raced = str(tmp_path / "raced")
    _ingest_chain(spark, raced, mk(_CHAIN_BATCHES[0]), 0)
    real_commit = acid.atomic_overwrite_partitions
    state = {"calls": 0, "in_compact": False}

    def interleaving(df, path, *a, **kw):
        out = real_commit(df, path, *a, **kw)
        if state["in_compact"]:
            return out
        state["calls"] += 1
        if state["calls"] == compact_after:
            state["in_compact"] = True
            try:
                for p in _chain_tables(raced).values():
                    acid.compact(spark, p)
            finally:
                state["in_compact"] = False
        return out

    monkeypatch.setattr(acid, "atomic_overwrite_partitions", interleaving)
    assert _ingest_chain(spark, raced, mk(_CHAIN_BATCHES[1]), 1) == 1
    monkeypatch.setattr(acid, "atomic_overwrite_partitions", real_commit)
    _ingest_chain(spark, raced, mk(_CHAIN_BATCHES[2]), 2)
    for p in _chain_tables(raced).values():
        acid.compact(spark, p)

    assert _chain_state(spark, raced) == serial_chain_state
    assert _ingest_chain(spark, raced, mk(_CHAIN_BATCHES[1]), 1) is None


def test_compact_loses_race_to_ingest_and_retries(spark, tmp_path, monkeypatch):
    """The chain lands a whole batch BETWEEN compaction's snapshot read
    of the corpus and its commit.  The stale compaction must conflict
    and redo from the new snapshot: the racing batch's rows survive,
    the store equals the serial schedule, and the batch's replay is
    still skipped."""
    b0 = _mk_docs(spark, [(1, "first committed document with several words")])
    b1 = _mk_docs(spark, [(2, "the racing batch that lands mid compaction")])

    serial = str(tmp_path / "serial")
    _ingest_chain(spark, serial, b0, 0)
    _ingest_chain(spark, serial, b1, 1)
    acid.compact(spark, _chain_tables(serial)["corpus"])
    want = _chain_state(spark, serial)

    raced = str(tmp_path / "raced")
    _ingest_chain(spark, raced, b0, 0)
    corpus = _chain_tables(raced)["corpus"]
    real_read = acid.read_atomic
    state = {"injected": False}

    def racing_read(spark_, path, *a, **kw):
        df = real_read(spark_, path, *a, **kw)
        if path == corpus and not state["injected"]:
            state["injected"] = True  # set FIRST: the chain reads too
            _ingest_chain(spark, raced, b1, 1)
        return df

    monkeypatch.setattr(acid, "read_atomic", racing_read)
    v = acid.compact(spark, corpus)
    monkeypatch.setattr(acid, "read_atomic", real_read)

    assert state["injected"]
    assert v == acid.latest_version(corpus) == 2  # b0, b1, compacted
    assert _chain_state(spark, raced) == want
    assert _ingest_chain(spark, raced, b1, 1) is None


def test_lm_ingest_incremental_equals_oneshot(spark, tmp_path):
    """The chain's per-batch bigram count rows build the SAME
    Kneser-Ney model as the one-shot trainer over the corpus so far,
    after every batch and in every column including prob_ppb:
    ``kn_bigram_lm_from_counts`` re-derives all statistics from the
    summed count table."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    root = str(tmp_path / "root")
    t = _chain_tables(root)
    batches = [
        [(1, "the cat sat on the mat"), (2, "the dog sat on the log")],
        [(3, "a cat and a dog and a bird"), (4, "one two one two one")],
        [(5, "the bird sat on the cat quietly")],
    ]
    for i, rows in enumerate(batches):
        assert _ingest_chain(spark, root, _mk_docs(spark, rows), i) == len(rows)
        counts = acid.read_atomic(spark, t["bigrams"]).groupBy("w1", "w2").agg(
            F.sum("cbg").alias("cbg")
        )
        got = sorted(tuple(r) for r in text_ops.kn_bigram_lm_from_counts(counts).collect())
        corpus = acid.read_atomic(spark, t["corpus"])
        want = sorted(tuple(r) for r in text_ops.kn_bigram_lm(corpus).collect())
        assert got == want and want

    n_before = acid.read_atomic(spark, t["bigrams"]).count()
    assert _ingest_chain(spark, root, _mk_docs(spark, batches[0]), 0) is None
    assert acid.read_atomic(spark, t["bigrams"]).count() == n_before


def test_substring_ingest_incremental_equals_oneshot(spark, tmp_path):
    """Batch-incremental exact-substring detection ≡ the one-shot
    operator on the union.  Per batch, ``exact_substring_pairs`` over
    the batch finds the in-batch pairs and ``substring_decontaminate``
    of the batch against the committed corpus finds each new doc's
    history partners and longest shared run; together they reproduce
    ``exact_substring_pairs`` over the final corpus."""
    from tiki_e_commerce_analytics_etl_spark.operators import dedup

    path = str(tmp_path / "corpus")
    span = "the quick brown fox jumps over the lazy dog tonight"
    other = "completely different words about ships and harbors on tuesday"
    batches = [
        [  # in-batch pair (1, 2)
            (1, f"intro words then {span} and a tail"),
            (2, f"{span} with another ending entirely"),
            (3, other),
        ],
        [  # cross-batch pairs (1, 4), (2, 4)
            (4, f"prefix {span} suffix words here"),
            (5, "no shared content in this document at all whatsoever"),
        ],
        [  # batch-1-vs-batch-3 pair via doc 3's span; a short doc
            (6, f"{other} trailing extra"),
            (7, "tiny doc"),
        ],
    ]
    in_batch, cross, batch_of = [], set(), {}
    for i, rows in enumerate(batches):
        df = _mk_docs(spark, rows)
        batch_of.update({doc_id: i for doc_id, _ in rows})
        in_batch += [tuple(p) for p in dedup.exact_substring_pairs(df).collect()]
        if i:
            history = acid.read_atomic(spark, path)
            cross |= {tuple(r) for r in dedup.substring_decontaminate(df, history).collect()}
        acid.atomic_overwrite_partitions(
            df, path, mode="append", txn_app="ingest", txn_version=i
        )

    want = [tuple(p) for p in dedup.exact_substring_pairs(acid.read_atomic(spark, path)).collect()]
    assert want  # the fixture genuinely creates pairs
    assert sorted(in_batch) == sorted(p for p in want if batch_of[p[0]] == batch_of[p[1]])
    per_new_doc = {}
    for a, b, _shared, run in want:
        if batch_of[a] != batch_of[b]:
            new, old = (a, b) if batch_of[a] > batch_of[b] else (b, a)
            partners, best = per_new_doc.get(new, (set(), 0))
            per_new_doc[new] = (partners | {old}, max(best, run))
    assert cross == {(d, len(ps), run) for d, (ps, run) in per_new_doc.items()}
    assert acid.atomic_overwrite_partitions(
        _mk_docs(spark, batches[0]), path, mode="append", txn_app="ingest", txn_version=0
    ) == -1


def test_pair_jaccard_rerank_is_exact(spark):
    """The exact word-shingle Jaccard that reranks near-dup candidates
    (``ngram_jaccard_pairs``) is exact, not estimated: identical docs
    score 1.0, one differing shingle of two scores 1/3, and disjoint
    docs share no shingle and form no pair."""
    from tiki_e_commerce_analytics_etl_spark.operators import dedup

    df = _mk_docs(
        spark,
        [
            (1, "a b c d e f"), (2, "a b c d e f"),        # identical: j = 1.0
            (3, "g h i j k l"), (4, "g h i j k m"),        # 2 shingles, 1 shared: 1/3
            (5, "n o p q r"), (6, "v w x y z"),            # disjoint singles: no pair
        ],
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, n=5, threshold=0.0).collect()
    }
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)] == 1.0
    assert abs(got[(3, 4)] - 1 / 3) < 1e-12
