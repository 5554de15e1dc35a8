"""Model-based coverage for the exact-integer unigram and bigram
rarity scores."""

from __future__ import annotations

import re
from collections import Counter

from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops


def _model_rarity(docs: list[tuple[int, str]], scale: int = 1_000_000):
    toks = {i: re.sub(r"\s+", " ", t.lower()).strip().split(" ") for i, t in docs}
    vocab = Counter(w for ws in toks.values() for w in ws)
    total = sum(vocab.values())
    out = {}
    for i, ws in toks.items():
        tf = Counter(ws)
        s = sum(c * ((total * scale) // vocab[w]) for w, c in tf.items())
        out[i] = (len(ws), s // len(ws))
    return out


def test_rarity_score_model(spark):
    docs = [
        (1, "the cat sat on the mat"),
        (2, "the the the the"),          # all common tokens -> low rarity
        (3, "zyzzyva qwerty"),           # hapaxes -> high rarity
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["id"]: (r["n_tokens"], r["rarity_scaled"])
        for r in text_ops.rarity_score(df, "text", "doc_id").collect()
    }
    assert got == _model_rarity(docs)
    # ranking sanity: common-token doc scores strictly below hapax doc
    assert got[2][1] < got[1][1] < got[3][1]


def test_rarity_score_partition_invariant(spark):
    docs = [(i, f"w{i % 7} w{i % 3} shared") for i in range(40)]
    df1 = spark.createDataFrame(docs, "doc_id long, text string").repartition(1)
    df8 = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    r1 = sorted(map(tuple, text_ops.rarity_score(df1).collect()))
    r8 = sorted(map(tuple, text_ops.rarity_score(df8).collect()))
    assert r1 == r8


def _model_bigram_rarity(docs, scale=1_000_000):
    from collections import Counter

    big = {i: [] for i, _ in docs}
    for i, t in docs:
        ws = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        big[i] = list(zip(ws, ws[1:]))
    cbg = Counter(b for bs in big.values() for b in bs)
    cpre = Counter()
    for (w1, _), c in cbg.items():
        cpre[w1] += c
    out = {}
    for i, bs in big.items():
        if not bs:
            continue
        tf = Counter(bs)
        s = sum(c * ((cpre[b[0]] * scale) // cbg[b]) for b, c in tf.items())
        out[i] = (len(bs), s // len(bs))
    return out


def test_bigram_rarity_model(spark):
    docs = [
        (1, "the cat sat on the mat"),
        (2, "the the the the"),       # one repeated bigram -> predictable
        (3, "mat the on sat cat"),    # common words, unusual sequence
        (4, "solo"),                  # <2 words: no output row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["id"]: (r["n_bigrams"], r["cond_rarity_scaled"])
        for r in text_ops.bigram_rarity(df, "text", "doc_id").collect()
    }
    assert got == _model_bigram_rarity(docs)
    assert 4 not in got
    # the shuffled doc scores strictly above the predictable one
    assert got[3][1] > got[2][1]
