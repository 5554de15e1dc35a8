"""Unit coverage for the round-4 featurization/ids additions:
contiguous id assignment equals global ROW_NUMBER for any shard count,
and hashed TF-IDF matches an independent model."""

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark.operators import features, ids


@pytest.mark.parametrize("n_shards", [1, 3, 16, 100])
def test_contiguous_ids_equal_global_rank(spark, n_shards):
    rows = [Row(k=i, v=(i * 37) % 101) for i in range(200)]
    df = spark.createDataFrame(rows)
    out = ids.assign_contiguous_ids(
        df, [F.col("v").desc(), F.col("k").asc()], n_shards=n_shards
    )
    got = {r.k: r.row_id for r in out.collect()}
    want = {
        r.k: i
        for i, r in enumerate(sorted(rows, key=lambda r: (-r.v, r.k)))
    }
    assert got == want


def test_contiguous_ids_empty_and_single(spark):
    df = spark.createDataFrame([], "k long, v long")
    assert ids.assign_contiguous_ids(df, [F.col("k")]).count() == 0
    one = spark.createDataFrame([Row(k=1, v=2)])
    assert ids.assign_contiguous_ids(one, [F.col("k")]).collect()[0].row_id == 0


def _md5_48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_hashed_tfidf_matches_model(spark):
    docs = [
        (0, "a a b c"),
        (1, "b c d"),
        (2, "a d d"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    dim = 32
    got = {
        (r.doc_id, r.feature): r.weight
        for r in features.hashed_tfidf(df, "text", "doc_id", dim=dim).collect()
    }
    # independent model
    n_docs = 3
    tf = {}
    for d, t in docs:
        for w in t.split():
            tf[(d, w)] = tf.get((d, w), 0) + 1
    dfreq = {}
    for (_, w) in tf:
        dfreq[w] = dfreq.get(w, 0) + 1
    want = {}
    for (d, w), c in tf.items():
        feat = _md5_48(w) % dim
        want[(d, feat)] = want.get((d, feat), 0.0) + c * ((n_docs + 1.0) / (dfreq[w] + 1.0))
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9), k
