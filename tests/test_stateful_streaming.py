"""Drive the applyInPandasWithState sessionizer through a real
Structured Streaming query: parquet file source → memory sink,
availableNow trigger."""

import datetime as dt

from tiki_e_commerce_analytics_etl_spark.streaming import stateful


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_sessionize_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "events")
    rows = [
        (1, 100, _ts(0)),
        (2, 100, _ts(10)),   # session 1: 2 events
        (3, 100, _ts(50)),   # gap 40 min > 30 min → closes session 1
        (4, 200, _ts(5)),    # user 200: single open session (stays in state)
    ]
    batch = spark.createDataFrame(rows, "event_id: long, user_id: long, ts: timestamp")
    batch.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema).parquet(src)
        .select("user_id", "ts")
    )
    out = stateful.sessionize_stream(stream, gap_seconds=1800, timeout_ms=1000)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    # Expect 3 sessions: (100: 2 events, closed by gap), then the open
    # sessions for users 100 and 200 flushed by processing-time timeout.
    import time

    deadline = time.time() + 90
    rows = []
    while time.time() < deadline:
        rows = spark.sql("SELECT * FROM sessions_test").collect()
        if len(rows) >= 3:
            break
        time.sleep(1)
    q.stop()

    got = {(r["user_id"], r["n_events"]): r for r in rows}
    assert set(got) == {(100, 2), (100, 1), (200, 1)}
    r = got[(100, 2)]
    assert r["session_start"] == _ts(0)
    assert r["session_end"] == _ts(10)
    assert r["closed_by"] == "gap"
    assert got[(100, 1)]["closed_by"] == "timeout"
    assert got[(100, 1)]["session_start"] == _ts(50)
    assert got[(200, 1)]["closed_by"] == "timeout"


def test_windowed_scores_watermarked_stream(spark, tmp_path):
    """Watermarked daily group-max over a file-source stream (the
    trends A1 aggregate with late-data tolerance, §2.9)."""
    from tiki_e_commerce_analytics_etl_spark.streaming import incremental

    src = str(tmp_path / "scores")
    rows = [
        (dt.datetime(2024, 1, 1, 5), "phone", 10),
        (dt.datetime(2024, 1, 1, 18), "phone", 30),
        (dt.datetime(2024, 1, 2, 9), "phone", 20),
        (dt.datetime(2024, 1, 1, 12), "laptop", 7),
    ]
    batch = spark.createDataFrame(rows, "ts: timestamp, keyword: string, score: long")
    batch.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = incremental.windowed_scores(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("scores_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["date"]), r["keyword"]): r["score"]
        for r in spark.sql("SELECT * FROM scores_test").collect()
    }
    assert got == {
        ("2024-01-01", "phone"): 30,
        ("2024-01-02", "phone"): 20,
        ("2024-01-01", "laptop"): 7,
    }


def test_session_fn_unit_gap_and_timeout():
    """Exercise the state-transition function directly with a fake
    GroupState (unit level — no streaming engine)."""
    import pandas as pd

    class FakeState:
        def __init__(self, value=None, timed_out=False):
            self._v = value
            self.hasTimedOut = timed_out
            self.removed = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.removed = None, True

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    fn = stateful.make_session_fn(gap_seconds=1800)

    # Batch with an internal gap: one closed session + one kept open.
    state = FakeState()
    pdf = pd.DataFrame({"ts": [pd.Timestamp(_ts(0)), pd.Timestamp(_ts(10)), pd.Timestamp(_ts(50))]})
    out = pd.concat(list(fn((100,), iter([pdf]), state)))
    assert len(out) == 1
    assert out.iloc[0]["n_events"] == 2
    assert out.iloc[0]["closed_by"] == "gap"
    assert state.exists  # open session with 1 event retained
    assert state.get[2] == 1

    # Timeout flushes the open session.
    state.hasTimedOut = True
    out2 = pd.concat(list(fn((100,), iter([]), state)))
    assert len(out2) == 1
    assert out2.iloc[0]["closed_by"] == "timeout"
    assert state.removed


def test_dedup_stream_first_seen_bounded_state(spark, tmp_path):
    """Streaming ingest dedup (D2's streaming twin): duplicate keys
    within the watermark window collapse to one row; state is bounded
    by the watermark, not corpus lifetime."""
    from tiki_e_commerce_analytics_etl_spark.streaming import incremental

    src = str(tmp_path / "ingest")
    rows = [
        (dt.datetime(2024, 1, 1, 5), 1, "first"),
        (dt.datetime(2024, 1, 1, 6), 1, "dup-redelivery"),
        (dt.datetime(2024, 1, 1, 7), 2, "other"),
        (dt.datetime(2024, 1, 1, 8), 2, "dup-again"),
        (dt.datetime(2024, 1, 1, 9), 3, "unique"),
    ]
    batch = spark.createDataFrame(rows, "ts: timestamp, product_id: long, v: string")
    batch.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = incremental.dedup_stream(stream, ["product_id"], "ts", "1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT product_id FROM dedup_stream_test").collect()
    assert sorted(r.product_id for r in got) == [1, 2, 3]


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Exactly-once across restart: a second availableNow run on the
    same checkpoint must process only files that arrived after the
    first run — re-delivered source data is not re-landed."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_recovery")
    b1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id: long, v: string"
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(b1.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 3

    # second delivery: two new rows in a new file
    spark.createDataFrame([(4, "d"), (5, "e")], "id: long, v: string").coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()

    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]  # batch-1 rows exactly once


def test_atomic_upsert_sink_exactly_once_replay(spark, tmp_path):
    """The acid-backed foreachBatch sink: a replayed micro-batch (same
    batch id, as after a crash between sink commit and checkpoint
    write) must be skipped inside the serialized commit — target
    unchanged, no version burned by the replay."""
    from tiki_e_commerce_analytics_etl_spark import acid
    from tiki_e_commerce_analytics_etl_spark.streaming.incremental import (
        foreach_batch_upsert_atomic,
    )

    target = str(tmp_path / "t")
    sink = foreach_batch_upsert_atomic(target, ["id"], app_id="q1", stat_cols=["id"])

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id: long, v: string")
    sink(b0, 0)
    b1 = spark.createDataFrame([(2, "B"), (3, "c")], "id: long, v: string")
    sink(b1, 1)
    v_after = acid.latest_version(target)
    got = {(r.id, r.v) for r in acid.read_atomic(spark, target).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}

    # crash-replay of batch 1: skipped, nothing changes
    sink(b1, 1)
    sink(b0, 0)  # older replay likewise
    assert acid.latest_version(target) == v_after
    assert {(r.id, r.v) for r in acid.read_atomic(spark, target).collect()} == got

    # next batch still lands
    sink(spark.createDataFrame([(4, "d")], "id: long, v: string"), 2)
    assert acid.last_txn_version(target, "q1") == 2

    # the continuously-updated sink keeps zone maps current: an
    # out-of-range predicate skips every file
    assert len(acid.snapshot_files(target, ranges={"id": (100, 200)})) == 0
    assert acid.read_atomic(spark, target).count() == 4


def test_atomic_upsert_sink_streaming_end_to_end(spark, tmp_path):
    """Full Structured Streaming run through the atomic sink, restart
    included: second availableNow run on the same checkpoint merges
    only new files; every committed snapshot is complete."""
    from tiki_e_commerce_analytics_etl_spark import acid
    from tiki_e_commerce_analytics_etl_spark.streaming.incremental import (
        foreach_batch_upsert_atomic,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "t")
    schema = "id: long, v: string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("id long, v string")
            .parquet(src)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(foreach_batch_upsert_atomic(target, ["id"], "stream1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert {(r.id, r.v) for r in acid.read_atomic(spark, target).collect()} == {
        (1, "a"),
        (2, "b"),
    }
    spark.createDataFrame([(2, "B"), (3, "c")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    assert {(r.id, r.v) for r in acid.read_atomic(spark, target).collect()} == {
        (1, "a"),
        (2, "B"),
        (3, "c"),
    }


def test_stream_stream_interval_join_inner(spark, tmp_path):
    """Click attribution: conversions join their impression iff within
    the event-time window; both sides watermarked (bounded state)."""
    from tiki_e_commerce_analytics_etl_spark.streaming import joins

    imp_src = str(tmp_path / "imps")
    conv_src = str(tmp_path / "convs")
    imps = spark.createDataFrame(
        [("k1", _ts(0)), ("k2", _ts(5)), ("k3", _ts(10))], "event_key string, ts timestamp"
    )
    convs = spark.createDataFrame(
        [
            ("k1", _ts(20)),   # 20 min after imp → inside 1h window
            ("k2", _ts(4)),    # BEFORE the impression → no match
            ("k9", _ts(30)),   # unknown key → no match
        ],
        "event_key string, ts timestamp",
    )
    imps.coalesce(1).write.parquet(imp_src)
    convs.coalesce(1).write.parquet(conv_src)

    out = joins.attribute_events(
        spark.readStream.schema(imps.schema).parquet(imp_src),
        spark.readStream.schema(convs.schema).parquet(conv_src),
        max_delay="1 hour",
        watermark="2 hours",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_inner")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_key, delay_seconds FROM attrib_inner").collect()
    assert {(r.event_key, r.delay_seconds) for r in rows} == {("k1", 1200)}


def test_stream_stream_interval_join_outer_emits_unconverted(spark, tmp_path):
    """Left-outer: impressions with no conversion inside the window
    emit null-padded once the watermark passes the window."""
    import time as _time

    from tiki_e_commerce_analytics_etl_spark.streaming import joins

    imp_src = str(tmp_path / "imps")
    conv_src = str(tmp_path / "convs")
    schema = "event_key string, ts timestamp"
    spark.createDataFrame([("k1", _ts(0)), ("k2", _ts(1))], schema).coalesce(1).write.parquet(imp_src)
    spark.createDataFrame([("k1", _ts(10))], schema).coalesce(1).write.parquet(conv_src)

    out = joins.attribute_events(
        spark.readStream.schema(
            spark.read.parquet(imp_src).schema
        ).parquet(imp_src),
        spark.readStream.schema(spark.read.parquet(conv_src).schema).parquet(conv_src),
        max_delay="10 minutes",
        watermark="10 minutes",
        include_unconverted=True,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    # Advance the watermark far past every open window on BOTH sides so
    # the unmatched imp (k2) must be emitted null-padded.
    _time.sleep(3)
    spark.createDataFrame([("flushA", _ts(50))], schema).coalesce(1).write.mode("append").parquet(imp_src)
    spark.createDataFrame([("flushB", _ts(50))], schema).coalesce(1).write.mode("append").parquet(conv_src)

    deadline = _time.time() + 90
    got = {}
    while _time.time() < deadline:
        rows = spark.sql("SELECT event_key, delay_seconds FROM attrib_outer").collect()
        got = {r.event_key: r.delay_seconds for r in rows}
        if "k2" in got and "k1" in got:
            break
        _time.sleep(1)
    q.stop()
    assert got.get("k1") == 600
    assert "k2" in got and got["k2"] is None


def test_bloom_merge_sink_maintains_membership(spark, tmp_path):
    """Streaming bloom maintenance: micro-batches fold into the acid
    word table; the merged bitmap has no false negatives over ALL
    batches, replays are no-ops, and the bitmap equals a one-shot
    build over the union (bit_or idempotence + merge identity)."""
    from tiki_e_commerce_analytics_etl_spark import acid
    from tiki_e_commerce_analytics_etl_spark.operators import bloom
    from tiki_e_commerce_analytics_etl_spark.streaming.incremental import (
        foreach_batch_bloom_merge,
    )

    target = str(tmp_path / "bloom")
    m = 1 << 12
    sink = foreach_batch_bloom_merge(target, "k", app_id="qb", m_bits=m, k=4)

    b0 = spark.createDataFrame([(f"doc-{i}",) for i in range(50)], "k string")
    b1 = spark.createDataFrame([(f"doc-{i}",) for i in range(50, 90)], "k string")
    sink(b0, 0)
    sink(b1, 1)
    v_after = acid.latest_version(target)
    sink(b1, 1)  # crash-replay: skipped
    assert acid.latest_version(target) == v_after

    words = acid.read_atomic(spark, target)
    flags = bloom.bloom_probe(
        b0.unionByName(b1), words, "k", m_bits=m, k=4
    ).collect()
    assert all(r.maybe_seen for r in flags)

    oneshot = bloom.bloom_build(b0.unionByName(b1), "k", m_bits=m, k=4)
    assert sorted(map(tuple, words.collect())) == sorted(map(tuple, oneshot.collect()))


def test_sketch_merge_sink_equals_oneshot_and_recovers(spark, tmp_path):
    """Streaming CMS+HLL maintenance: after N micro-batches the cells
    table equals a one-shot cms_build over the union (cell-sum merge ≡
    union sketch, exactly), the HLL estimate tracks the true distinct
    count, whole-batch replays are no-ops, and a crash BETWEEN the cms
    and hll commits recovers on redelivery without double-counting the
    cms fold (the non-idempotent case the per-table cursors exist
    for)."""
    from pyspark.sql import functions as F

    from tiki_e_commerce_analytics_etl_spark import acid
    from tiki_e_commerce_analytics_etl_spark.operators import sketch as sketch_ops
    from tiki_e_commerce_analytics_etl_spark.streaming.incremental import (
        foreach_batch_sketch_merge,
        read_sketch_stats,
    )

    root = str(tmp_path / "stats")
    sink = foreach_batch_sketch_merge(root, "k", app_id="qs", depth=4, width=256)
    b0 = spark.createDataFrame([(f"k-{i % 30}",) for i in range(100)], "k string")
    b1 = spark.createDataFrame([(f"k-{i % 50}",) for i in range(80)], "k string")
    sink(b0, 0)
    sink(b1, 1)
    v = acid.latest_version(f"{root}/hll")
    sink(b1, 1)  # whole-batch replay: no-op
    assert acid.latest_version(f"{root}/hll") == v

    cells, hll = read_sketch_stats(spark, root)
    oneshot = sketch_ops.cms_build(b0.unionByName(b1), "k", depth=4, width=256)
    assert sorted(map(tuple, cells.collect())) == sorted(map(tuple, oneshot.collect()))
    est = hll.collect()[0]["n_distinct"]
    assert abs(est - 50) / 50 <= 0.1  # true distinct = 50

    # crash between the cms and hll commits on batch 2
    b2 = spark.createDataFrame([(f"k-{i % 10}",) for i in range(40)], "k string")
    orig = acid.atomic_overwrite_partitions
    calls = {"n": 0}

    def crashing(df, path, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # the hll commit of this batch
            raise RuntimeError("crash before hll commit")
        return orig(df, path, *a, **kw)

    import tiki_e_commerce_analytics_etl_spark.acid as acid_mod

    try:
        acid_mod.atomic_overwrite_partitions, saved = crashing, orig
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="crash"):
            sink(b2, 2)
    finally:
        acid_mod.atomic_overwrite_partitions = saved
    # redelivery finishes ONLY the hll fold — cms not double-counted
    sink(b2, 2)
    cells2, hll2 = read_sketch_stats(spark, root)
    oneshot2 = sketch_ops.cms_build(
        b0.unionByName(b1).unionByName(b2), "k", depth=4, width=256
    )
    assert sorted(map(tuple, cells2.collect())) == sorted(
        map(tuple, oneshot2.collect())
    )
    est2 = hll2.collect()[0]["n_distinct"]
    assert abs(est2 - 50) / 50 <= 0.1  # b2's keys are a subset
