"""Round-10 fourth-wave operators: word-stutter collapse, stratified
quotas, vocabulary growth and training-shard export.

Each test plants a hand-computable input and checks EXACT values; the
oracle gate (tools/check.py) separately proves bit-exactness against
DuckDB at three SFs for the query-level compositions.
"""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# training-shard export: deterministic order + verifiable manifest
# ---------------------------------------------------------------------------


def test_write_training_shards_roundtrip_and_verify(spark, tmp_path):
    from tiki_e_commerce_analytics_etl_spark import io as io_mod
    from tiki_e_commerce_analytics_etl_spark.operators.sampling import (
        shuffle_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}", (i % 7) + 1) for i in range(50)],
        "doc_id long, text string, tokens int",
    )
    path = str(tmp_path / "export")
    m1 = io_mod.write_training_shards(
        docs, path, token_col="tokens", n_shards=4, seed=7
    )
    assert m1["total_rows"] == 50 and len(m1["shards"]) <= 4
    assert sum(s["rows"] for s in m1["shards"].values()) == 50
    assert sum(s["tokens"] for s in m1["shards"].values()) == sum(
        (i % 7) + 1 for i in range(50)
    )

    # loader-side verification: every shard ok
    v = io_mod.verify_training_shards(spark, path).collect()
    assert v and all(r["ok"] for r in v)

    # determinism: re-export reproduces the manifest exactly
    m2 = io_mod.write_training_shards(
        docs, str(tmp_path / "export2"), token_col="tokens", n_shards=4, seed=7
    )
    assert m1["shards"] == m2["shards"]
    # a different seed is a different permutation
    m3 = io_mod.write_training_shards(
        docs, str(tmp_path / "export3"), token_col="tokens", n_shards=4, seed=8
    )
    assert m1["shards"] != m3["shards"]

    # the files really are in serving order (pos ascending per shard),
    # and (shard, pos) agrees with shuffle_shards' logical permutation
    got = spark.read.parquet(path)
    want = shuffle_shards(docs, n_shards=4, seed=7)
    assert (
        got.select("doc_id", "shard", "pos")
        .exceptAll(want.select("doc_id", "shard", "pos"))
        .count()
        == 0
    )
    import pandas as pd  # noqa: F401

    for shard in set(r["shard"] for r in v):
        pos_list = [
            r["pos"]
            for r in got.filter(F.col("shard") == shard)
            .orderBy("pos")
            .collect()
        ]
        assert pos_list == list(range(1, len(pos_list) + 1))


def test_verify_training_shards_detects_tamper(spark, tmp_path):
    from tiki_e_commerce_analytics_etl_spark import io as io_mod

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], "doc_id long, text string"
    )
    path = str(tmp_path / "export")
    io_mod.write_training_shards(docs, path, n_shards=2, seed=7)

    # tamper: drop one shard's files entirely
    import glob
    import os
    import shutil

    shard_dirs = sorted(glob.glob(os.path.join(path, "shard=*")))
    assert len(shard_dirs) == 2
    shutil.rmtree(shard_dirs[1])
    v = {r["shard"]: r["ok"] for r in io_mod.verify_training_shards(spark, path).collect()}
    assert len(v) == 2
    assert sum(1 for ok in v.values() if not ok) == 1


# ---------------------------------------------------------------------------
# stratified_quota_sample — exact counts, deterministic membership
# ---------------------------------------------------------------------------


def test_stratified_quota_exact_counts_and_determinism(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import sampling

    rows = [(i, "en" if i % 3 else "es") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_quota_sample(df, "doc_id", "lang", {"en": 7, "es": 5})
    got = out.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in got} == {"en": 7, "es": 5}
    # deterministic: same inputs -> same membership and ranks
    a = sorted((r["doc_id"], r["sample_rank"]) for r in out.collect())
    b = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in sampling.stratified_quota_sample(
            df, "doc_id", "lang", {"en": 7, "es": 5}
        ).collect()
    )
    assert a == b
    # ranks are 1..quota within each stratum
    per = {}
    for r in out.collect():
        per.setdefault(r["lang"], []).append(r["sample_rank"])
    assert sorted(per["en"]) == list(range(1, 8))
    assert sorted(per["es"]) == list(range(1, 6))


def test_stratified_quota_default_and_oversize_quota(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr")], "doc_id long, lang string"
    )
    # unlisted stratum drops entirely at default_quota=0
    out = sampling.stratified_quota_sample(df, "doc_id", "lang", {"en": 10})
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    # quota above the stratum size keeps the whole stratum
    out2 = sampling.stratified_quota_sample(
        df, "doc_id", "lang", {"fr": 99}, default_quota=1
    )
    got = {r["lang"]: r["doc_id"] for r in out2.collect()}
    assert got["fr"] == 3 and "en" in got


# ---------------------------------------------------------------------------
# collapse_word_stutter / vocab_growth
# ---------------------------------------------------------------------------


def test_collapse_word_stutter_hand_computed(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "batch batch batch stream stream spark"),
            (2, "a a b a a a c"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_ops.collapse_word_stutter(df).collect()}
    assert out[1]["clean_text"] == "batch stream spark"
    assert (out[1]["n_words"], out[1]["kept_words"]) == (6, 3)
    # non-adjacent repeats survive (this is stutter removal, not dedup)
    assert out[2]["clean_text"] == "a b a c"
    assert out[3]["clean_text"] == "solo" and out[3]["kept_words"] == 1


def test_vocab_growth_monotone_and_exact_on_planted_corpus(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    # 10 docs: doc i introduces exactly one new word and repeats word 0.
    rows = [(i, f"w{i} w0") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r["decile"], r["cum_vocab"], r["cum_tokens"])
        for r in text_ops.vocab_growth(df, deciles=5).collect()
    )
    assert len(out) == 5
    # monotone non-decreasing in both cumulative measures
    for a, b in zip(out, out[1:]):
        assert b[1] >= a[1] and b[2] >= a[2]
    # final checkpoint covers the whole corpus exactly
    assert out[-1][1] == 10  # w0..w9 (w0 introduced by doc 0)
    assert out[-1][2] == 20  # 2 tokens per doc


# ---------------------------------------------------------------------------
# randomized cross-checks against pure-Python references
# ---------------------------------------------------------------------------


def test_collapse_word_stutter_matches_python_reference(spark):
    import random

    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc"]
    rows = []
    for i in range(20):
        n = rng.randint(1, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in text_ops.collapse_word_stutter(df).collect()
    }
    for i, t in rows:
        ws = t.split(" ")
        want = [w for j, w in enumerate(ws) if j == 0 or w != ws[j - 1]]
        assert got[i] == " ".join(want), (i, t)
