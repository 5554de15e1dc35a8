"""Round-10 third-wave operators: the non-repetition Gopher quality
suite and leakage-safe cluster splits.

Each test plants a hand-computable corpus and checks EXACT values or
published invariants — the oracle gate (tools/check.py) separately
proves bit-exactness against DuckDB at three SFs.
"""

import pytest
from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops


def _docs(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# Gopher quality suite (non-repetition half)
# ---------------------------------------------------------------------------


def test_gopher_quality_hand_computed(spark):
    # Doc 0: 4 words, 18 word-chars -> mean 450 centi; all alphabetic;
    # stop hits: the, with (2).  One line, no bullets/ellipses/symbols.
    d0 = "the cat with whiskers"
    # Doc 1: bullet lines and an ellipsis-terminated line.
    d1 = "• first point\n- second point\nplain line ends...\n* third"
    # Doc 2: symbol soup — '#' chars and a unicode ellipsis.
    d2 = "tag1 # tag2 # code… end"
    # Doc 3: numeric tokens fail the alphabetic-word rule.
    d3 = "12345 67890 11 22 33"
    out = {
        r["id"]: r.asDict()
        for r in text_ops.gopher_quality(_docs(spark, [d0, d1, d2, d3])).collect()
    }

    r0 = out[0]
    assert r0["n_words"] == 4
    assert r0["mean_word_len_centi"] == (100 * 18) // 4 == 450
    assert r0["alpha_word_ppm"] == 1_000_000
    assert r0["stop_hits"] == 2
    assert r0["symbol_word_ppm"] == 0
    assert r0["bullet_line_ppm"] == 0
    # fails only the 50-word minimum
    assert not r0["pass_gopher"]

    r1 = out[1]
    assert r1["n_lines"] == 4
    # 3 of 4 lines bullet-started ('•', '-', '*')
    assert r1["bullet_line_ppm"] == (1_000_000 * 3) // 4
    # 1 of 4 lines ends in '...'
    assert r1["ellipsis_line_ppm"] == (1_000_000 * 1) // 4

    r2 = out[2]
    # 6 words; symbols: two '#' + one '…' = 3
    assert r2["n_words"] == 6
    assert r2["symbol_word_ppm"] == (1_000_000 * 3) // 6
    # '#' tokens carry no [a-z]; 'code…' does -> 4 of 6 alphabetic
    assert r2["alpha_word_ppm"] == (1_000_000 * 4) // 6

    r3 = out[3]
    assert r3["alpha_word_ppm"] == 0
    assert r3["stop_hits"] == 0
    assert not r3["pass_gopher"]


def test_gopher_quality_pass_flag_thresholds(spark):
    # A doc engineered to PASS every Gopher rule: 50 words of mean
    # length in [3, 10] including two required stop words.
    passing = " ".join(["the", "with"] + ["word"] * 48)
    # Its twin with 49 words fails ONLY the min-word rule.
    failing = " ".join(["the", "with"] + ["word"] * 47)
    out = {
        r["id"]: r
        for r in text_ops.gopher_quality(_docs(spark, [passing, failing])).collect()
    }
    assert out[0]["n_words"] == 50 and out[0]["pass_gopher"]
    assert out[1]["n_words"] == 49 and not out[1]["pass_gopher"]


def test_gopher_quality_empty_doc_row(spark):
    # Empty and whitespace-only docs still emit a (zeroed, failing)
    # row: filters consume this as a per-doc join.
    out = text_ops.gopher_quality(_docs(spark, ["", "   "])).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_words"] == 0
        assert r["mean_word_len_centi"] == 0
        assert not r["pass_gopher"]


# ---------------------------------------------------------------------------
# Leakage-safe cluster split
# ---------------------------------------------------------------------------


def test_cluster_safe_split_no_pair_straddles(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import sampling

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # a chain component {0,1,2}, a pair {10, 150}, the rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 150)], "id_a long, id_b long"
    )
    out = sampling.cluster_safe_split(docs, pairs, "doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 200
    # every doc of a component carries the component's min id and the
    # SAME split label
    for comp in ([0, 1, 2], [10, 150]):
        assert {rows[i]["component"] for i in comp} == {min(comp)}
        assert len({rows[i]["split"] for i in comp}) == 1
    # singletons label themselves
    assert rows[42]["component"] == 42
    # and the plain per-doc hash_split WOULD have leaked at least one
    # of the planted components across splits (the bug this fixes)
    naive = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(
            docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    leaked = any(
        len({naive[i] for i in comp}) > 1 for comp in ([0, 1, 2], [10, 150])
    )
    assert leaked, "planted components chosen to demonstrate the leak"


# ---------------------------------------------------------------------------
# Decontamination removal (strip_contaminated_spans)
# ---------------------------------------------------------------------------


def test_strip_contaminated_spans_planted(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import dedup as dedup_ops

    leak = "the quick brown fox jumps over the lazy dog"
    corpus = spark.createDataFrame(
        [
            # doc 0: leak embedded mid-document
            (0, "intro words here " + leak + " closing words trail"),
            # doc 1: clean
            (1, "entirely different content with no overlap at all"),
            # doc 2: the leak IS the whole document -> fully stripped
            (2, leak),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "prompt said " + leak + " answer follows")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_ops.strip_contaminated_spans(
            corpus, evals, min_words=6
        ).collect()
    }
    assert out[0]["clean_text"] == "intro words here closing words trail"
    assert out[0]["kept_words"] == 6
    assert out[1]["clean_text"] == corpus.collect()[1]["text"]
    assert out[2]["clean_text"] == "" and out[2]["kept_words"] == 0
    # the eval side is untouched by construction (operator returns
    # corpus rows only)
    assert set(out) == {0, 1, 2}
    # detect -> remove symmetry: re-detection on the stripped corpus
    # finds nothing
    stripped = dedup_ops.strip_contaminated_spans(
        corpus, evals, min_words=6
    ).select(F.col("doc_id"), F.col("clean_text").alias("text"))
    assert (
        dedup_ops.substring_decontaminate(stripped, evals, min_words=6).count()
        == 0
    )


def test_strip_contaminated_no_keeper_side(spark):
    # Internal strip keeps the smallest id's copy; the cross-set strip
    # must remove the span from EVERY corpus doc that carries it.
    from tiki_e_commerce_analytics_etl_spark.operators import dedup as dedup_ops

    leak = "one two three four five six seven"
    corpus = spark.createDataFrame(
        [(0, leak + " tail a"), (1, leak + " tail b")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(9, leak)], "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_ops.strip_contaminated_spans(
            corpus, evals, min_words=6
        ).collect()
    }
    assert out == {0: "tail a", 1: "tail b"}


# ---------------------------------------------------------------------------
# 4-gram Kneser-Ney (the recursion one level past the trigram)
# ---------------------------------------------------------------------------


def _py_kn4(texts):
    """Independent pure-Python 4-gram interpolated-KN reference
    (d = 3/4 at all three levels), returning prob per seen 4-gram."""
    from collections import Counter

    c1234 = Counter()
    for t in texts:
        ws = t.lower().split()
        for i in range(len(ws) - 3):
            c1234[tuple(ws[i : i + 4])] += 1
    c123, n1p123 = Counter(), Counter()
    nc234 = Counter()
    for (a, b, c, d), cnt in c1234.items():
        c123[(a, b, c)] += cnt
        n1p123[(a, b, c)] += 1
        nc234[(b, c, d)] += 1
    ncpre23, n1p23 = Counter(), Counter()
    nnc34 = Counter()
    for (b, c, d), cnt in nc234.items():
        ncpre23[(b, c)] += cnt
        n1p23[(b, c)] += 1
        nnc34[(c, d)] += 1
    ncmid3, n1p3 = Counter(), Counter()
    cont4 = Counter()
    for (c, d), cnt in nnc34.items():
        ncmid3[c] += cnt
        n1p3[c] += 1
        cont4[d] += 1
    d3 = len(nnc34)
    out = {}
    for (a, b, c, d), cnt in c1234.items():
        p2 = (
            max(4 * nnc34[(c, d)] - 3, 0) * d3 + 3 * n1p3[c] * cont4[d]
        ) / (4.0 * ncmid3[c] * d3)
        p3 = (max(4 * nc234[(b, c, d)] - 3, 0) + 3 * n1p23[(b, c)] * p2) / (
            4.0 * ncpre23[(b, c)]
        )
        p4 = (max(4 * cnt - 3, 0) + 3 * n1p123[(a, b, c)] * p3) / (
            4.0 * c123[(a, b, c)]
        )
        out[(a, b, c, d)] = p4
    return out


def test_kn4_matches_independent_reference(spark):
    import math

    texts = [
        "the cat sat on the mat and the cat sat on the rug",
        "a dog sat on the mat while the cat ran to the dog",
        "the cat sat on the mat again and again and again",
    ]
    ref = _py_kn4(texts)
    got = {
        (r["w1"], r["w2"], r["w3"], r["w4"]): r["prob_ppb"]
        for r in text_ops.kn_4gram_lm(_docs(spark, texts)).collect()
    }
    assert set(got) == set(ref)
    for k, p in ref.items():
        assert got[k] == math.floor(1e9 * p), k


def test_kn4_sums_to_one_per_context(spark):
    # ALL THREE interpolation levels normalize: summing the model
    # probability over every seen w4 of a context plus the backoff
    # mass of unseen w4 equals 1 — verified via the pure reference on
    # the same corpus the Spark run matched bit-for-bit above
    texts = [
        "one two three four one two three five one two three four",
        "two three four one two three five two three four six",
    ]
    ref = _py_kn4(texts)
    got = {
        (r["w1"], r["w2"], r["w3"], r["w4"]): r["prob_ppb"]
        for r in text_ops.kn_4gram_lm(_docs(spark, texts)).collect()
    }
    import math

    assert got == {k: math.floor(1e9 * p) for k, p in ref.items()}
    # per seen context the seen-w4 mass stays strictly below 1 (the
    # discount reserves backoff mass) and above 0
    from collections import defaultdict

    per_ctx = defaultdict(float)
    for (a, b, c, d), p in ref.items():
        per_ctx[(a, b, c)] += p
    for ctx, mass in per_ctx.items():
        assert 0.0 < mass < 1.0 + 1e-12, (ctx, mass)


def test_kn4_fluent_beats_scrambled(spark):
    train = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox runs over the lazy dog by the river side",
        "a quick brown fox jumps over a lazy dog near a river bank",
    ] * 3
    fluent = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the fox quick over brown lazy jumps the"
    tr = _docs(spark, train)
    sc = spark.createDataFrame(
        [(100, fluent), (101, scrambled)], "doc_id long, text string"
    )
    out = {
        r["id"]: r["logprob_unats"]
        for r in text_ops.kn4_doc_logprob(tr, sc).collect()
    }
    assert out[100] > out[101]
