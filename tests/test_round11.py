"""Round 11: regression tests for the round-10 ADVICE items plus the
new round-11 surface (blocklist broadcast-join route,
scale-proportional shard default, _auto_agree sidecar hint)."""

import pytest
from pyspark.sql import functions as F


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# ADVICE (round 10) regressions
# ---------------------------------------------------------------------------


def test_shard_manifest_detects_pos_edit_not_physical_order(spark, tmp_path):
    """ADVICE r10 (docstring contract): the shard checksum detects an
    edit to the stored pos column (serving order IS pos), while
    loaders are required to sort by pos — verify the checksum flags a
    pos tamper."""
    import json

    from tiki_e_commerce_analytics_etl_spark import io as io_mod

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    path = str(tmp_path / "shards")
    io_mod.write_training_shards(df, path, n_shards=2, seed=3)
    ok = io_mod.verify_training_shards(spark, path)
    assert all(r["ok"] for r in ok.collect())

    # tamper: swap two pos values inside one shard (same rows, same ids)
    raw = spark.read.parquet(path)
    shard0 = [r.asDict() for r in raw.filter(F.col("shard") == 0).collect()]
    assert len(shard0) >= 2
    shard0[0]["pos"], shard0[1]["pos"] = shard0[1]["pos"], shard0[0]["pos"]
    rest = raw.filter(F.col("shard") != 0)
    tampered = spark.createDataFrame(shard0, raw.schema).unionByName(rest)
    path2 = str(tmp_path / "tampered")
    tampered.write.mode("overwrite").partitionBy("shard").parquet(path2)
    with open(f"{path}/_manifest.json") as f:
        manifest = json.load(f)
    with open(f"{path2}/_manifest.json", "w") as f:
        json.dump(manifest, f)
    bad = {r["shard"]: r["ok"] for r in
           io_mod.verify_training_shards(spark, path2).collect()}
    assert bad[0] is False and bad[1] is True


# ---------------------------------------------------------------------------
# Round 11 #1: blocklist broadcast-join route
# ---------------------------------------------------------------------------


def test_blocklist_routes_are_equivalent(spark):
    """The literal array_contains route and the broadcast-join route
    must produce identical (doc_id, n_hits, distinct_hits, flagged)
    rows on the same corpus — including zero-hit docs, repeated hits,
    duplicate input terms, and docs whose text is empty."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    docs = _mk_docs(
        spark,
        [
            (1, "red fish blue fish RED fish"),
            (2, "nothing to see here"),
            (3, ""),
            (4, "fish red red red"),
        ],
    )
    terms = ["red", "fish", "red", "absent"]  # duplicate term on purpose
    lit = text_ops.blocklist_screen(docs, terms, max_hits=1, route="literal")
    join = text_ops.blocklist_screen(docs, terms, max_hits=1, route="join")
    assert lit.schema == join.schema
    a = sorted(tuple(r) for r in lit.collect())
    b = sorted(tuple(r) for r in join.collect())
    assert a == b
    by_id = dict((r[0], r[1:]) for r in a)
    assert by_id[1] == (5, 2, True)   # red×2 + fish×3, both terms, >1
    assert by_id[2] == (0, 0, False)
    assert by_id[3] == (0, 0, False)
    assert by_id[4] == (4, 2, True)


def test_blocklist_auto_route_picks_join_for_long_lists(spark):
    """route="auto" must stay on the literal path for short lists and
    switch to the broadcast-join path past join_threshold — visible as
    a join in the plan."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    docs = _mk_docs(spark, [(1, "alpha beta")])
    short = text_ops.blocklist_screen(docs, ["alpha"], route="auto")
    long_terms = [f"t{i}" for i in range(300)]
    long = text_ops.blocklist_screen(docs, long_terms, route="auto")
    assert "Join" not in short._jdf.queryExecution().executedPlan().toString()
    assert "Join" in long._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(ValueError, match="route"):
        text_ops.blocklist_screen(docs, ["x"], route="bogus")


# ---------------------------------------------------------------------------
# Round 11 #5: scale-proportional n_shards default
# ---------------------------------------------------------------------------


def test_auto_shards_scales_with_rows_and_respects_floor(spark, tmp_path):
    """auto_shards = clamp(ceil(rows / rows_per_shard), n_min, n_max):
    toy corpora stay at the floor (so fixed-corpus oracles never
    move), larger ones grow proportionally; parquet-backed plans use
    footer metadata, in-memory plans fall back to one count."""
    from tiki_e_commerce_analytics_etl_spark.operators import sampling

    small = spark.range(100).withColumnRenamed("id", "doc_id")
    assert sampling.auto_shards(small) == 8                       # floor
    assert sampling.auto_shards(small, rows_per_shard=10) == 10   # ceil(100/10)
    assert sampling.auto_shards(small, rows_per_shard=7) == 15    # ceil(100/7)
    assert sampling.auto_shards(small, rows_per_shard=1, n_max=32) == 32  # cap

    p = str(tmp_path / "docs.parquet")
    spark.range(1000).withColumnRenamed("id", "doc_id").write.parquet(p)
    pq = spark.read.parquet(p)
    assert sampling.auto_shards(pq, rows_per_shard=100) == 10     # footer route
    # shuffle_shards(n_shards=None) routes through the default
    out = sampling.shuffle_shards(pq, n_shards=None)
    assert out.select("shard").distinct().count() == 8            # floor at 1k rows


def test_write_training_shards_auto_resolves_in_manifest(spark, tmp_path):
    """n_shards=None resolves through auto_shards BEFORE sharding so
    the manifest records the actual count a loader must expect, and
    verification passes on the auto-sharded export."""
    from tiki_e_commerce_analytics_etl_spark import io as io_mod

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], "doc_id long, text string"
    )
    path = str(tmp_path / "auto_shards")
    manifest = io_mod.write_training_shards(df, path, n_shards=None)
    assert manifest["n_shards"] == 8  # the floor at toy scale
    assert len(manifest["shards"]) <= 8 and manifest["total_rows"] == 50
    ok = io_mod.verify_training_shards(spark, path)
    assert all(r["ok"] for r in ok.collect())


def test_bench_prior_medians_tolerates_missing_and_corrupt(tmp_path):
    """The --full drift compare must never break the bench on a
    missing or corrupt prior artifact (first run, interrupted write)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import bench

    assert bench._prior_medians(str(tmp_path / "nope.json")) == {}
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert bench._prior_medians(str(bad)) == {}
    good = tmp_path / "good.json"
    good.write_text('{"medians": {"q": 1.5}}')
    assert bench._prior_medians(str(good)) == {"q": 1.5}


# ---------------------------------------------------------------------------
# Round 11 #6: sig_count_hint / stats-sidecar route for agree="auto"
# ---------------------------------------------------------------------------


def _sig_table(spark, n=40, diverse=True):
    rows = [
        (i, f"{(i * 2654435761 % (1 << 64)) if diverse else (i % 3):016x}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "img_id long, sig string")


def test_auto_agree_hint_skips_probe_and_matches_probe_route(
    spark, monkeypatch
):
    """With sig_count_hint the auto route resolves at plan time: the
    approx_count_distinct probe never runs (patched to explode), and
    the chosen route matches what the probe would have chosen — pair
    output identical both above and below the crossover."""
    from tiki_e_commerce_analytics_etl_spark.operators import dedup

    sigs = _sig_table(spark)
    want_diverse = dedup.hex_hamming_pairs(
        sigs, "img_id", "sig", radius=2, agree="auto", auto_threshold=10
    ).collect()
    want_dupy = dedup.hex_hamming_pairs(
        sigs, "img_id", "sig", radius=2, agree=1
    ).collect()

    def boom(*a, **k):
        raise AssertionError("counting probe must not run with a hint")

    monkeypatch.setattr(dedup, "_auto_agree", boom)
    got_diverse = dedup.hex_hamming_pairs(
        sigs, "img_id", "sig", radius=2, agree="auto",
        auto_threshold=10, sig_count_hint=40,
    ).collect()
    got_dupy = dedup.hex_hamming_pairs(
        sigs, "img_id", "sig", radius=2, agree="auto",
        auto_threshold=10, sig_count_hint=3,
    ).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(got_diverse) == key(want_diverse)
    assert key(got_dupy) == key(want_dupy)


def test_auto_agree_stats_sidecar_route(spark, tmp_path, monkeypatch):
    """An engine-written signature table (io.write_partitioned with
    key_cols) publishes distinct_<sig>; hex_hamming_pairs consumes it
    via stats_path with zero counting jobs.  A path without the stat
    falls back to the probe."""
    from tiki_e_commerce_analytics_etl_spark import io as io_mod
    from tiki_e_commerce_analytics_etl_spark.operators import dedup

    sigs = _sig_table(spark)
    p = str(tmp_path / "sigs")
    io_mod.write_partitioned(sigs, p, key_cols=["sig"])

    def boom(*a, **k):
        raise AssertionError("counting probe must not run with a sidecar")

    monkeypatch.setattr(dedup, "_auto_agree", boom)
    stored = spark.read.parquet(p)
    got = dedup.hex_hamming_pairs(
        stored, "img_id", "sig", radius=2, agree="auto",
        auto_threshold=10, stats_path=p,
    )
    assert got.count() >= 0  # plan resolves and runs, no probe
    # no sidecar stat -> the probe fallback fires (and here, explodes)
    with pytest.raises(AssertionError, match="probe"):
        dedup.hex_hamming_pairs(
            sigs, "img_id", "sig", radius=2, agree="auto",
            auto_threshold=10, stats_path=str(tmp_path / "nope"),
        )
