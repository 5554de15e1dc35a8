"""Round 11: regression tests for the round-10 ADVICE items plus the
new round-11 surface (blocklist broadcast-join route, byte-level BPE,
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
# Round 11 #2: byte-level GPT-2 BPE — independent pure-Python reference
# (no engine imports: scanner pre-tokenizer with Java-regex semantics,
# re-derived byte table, Counter-based merge loop)
# ---------------------------------------------------------------------------

_ASCII_WS = set(" \t\n\x0b\f\r")
_CONTRACTIONS = ["'s", "'t", "'re", "'ve", "'m", "'ll", "'d"]


def _cat(c):
    import unicodedata

    return unicodedata.category(c)


def _ref_pieces(text):
    def is_l(c):
        return _cat(c).startswith("L")

    def is_n(c):
        return _cat(c).startswith("N")

    def is_ws(c):
        return c in _ASCII_WS

    out, i, n = [], 0, len(text)
    while i < n:
        m = None
        for c in _CONTRACTIONS:
            if text.startswith(c, i):
                m = c
                break
        if m is None:
            ch = text[i]
            if ch == " " and i + 1 < n and is_l(text[i + 1]):
                k = i + 1
                while k < n and is_l(text[k]):
                    k += 1
                m = text[i:k]
            elif is_l(ch):
                k = i
                while k < n and is_l(text[k]):
                    k += 1
                m = text[i:k]
            elif ch == " " and i + 1 < n and is_n(text[i + 1]):
                k = i + 1
                while k < n and is_n(text[k]):
                    k += 1
                m = text[i:k]
            elif is_n(ch):
                k = i
                while k < n and is_n(text[k]):
                    k += 1
                m = text[i:k]
            elif (ch == " " and i + 1 < n and not is_ws(text[i + 1])
                  and not is_l(text[i + 1]) and not is_n(text[i + 1])):
                k = i + 1
                while (k < n and not is_ws(text[k]) and not is_l(text[k])
                       and not is_n(text[k])):
                    k += 1
                m = text[i:k]
            elif not is_ws(ch):
                k = i
                while (k < n and not is_ws(text[k]) and not is_l(text[k])
                       and not is_n(text[k])):
                    k += 1
                m = text[i:k]
            else:
                k = i
                while k < n and is_ws(text[k]):
                    k += 1
                if k == n or k - i == 1:
                    m = text[i:k]
                else:
                    m = text[i:k - 1]
        out.append(m)
        i += len(m)
    return out


def _ref_b2u():
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("¡"), ord("¬") + 1))
          + list(range(ord("®"), ord("ÿ") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


def _ref_scan(s, l, r, m):
    res, i, n = [], 0, len(s)
    while i < n:
        if i + 1 < n and s[i] == l and s[i + 1] == r:
            res.append(m)
            i += 2
        else:
            res.append(s[i])
            i += 1
    return res


def _ref_byte_bpe(texts, n_merges):
    from collections import Counter

    b2u = _ref_b2u()
    pieces = Counter()
    for t in texts:
        pieces.update(_ref_pieces(t))
    state = {p: [b2u[b] for b in p.encode("utf-8")] for p in pieces}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for p, syms in state.items():
            w = pieces[p]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += w
        if not pc:
            break
        (l, r), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, cnt))
        state = {p: _ref_scan(s, l, r, l + r) for p, s in state.items()}
    return merges


_TRICKY_TEXTS = [
    "low low lower it's café 42",
    "I'll say we've done it'd work don't",
    "a  b   c\t\td\n\ne",          # multi-ws runs: lookahead trim
    "hello,world!!!  ...ok?",
    "x1y2z3 12ab 3.14 -42",
    " leading and trailing  ",
    "tabs\tand\nnewlines\r\nmixed",
    "naïve façade coöperate Ångström",
    "đường phố Hà Nội giá 5.000 ₫",   # Vietnamese + currency
    "emoji 🙂 mixed 🚀🚀 runs",
    "a'b c'd e's f'sx",               # contraction vs bare apostrophe
    "",
    "   ",
    " nbsp run",            # U+00A0 is NOT Java \s
]


def test_bytes_to_unicode_is_a_printable_bijection():
    """All 256 bytes map to 256 DISTINCT printable characters (no
    symbol collisions — a collision would silently merge different
    byte sequences), and the published anchor points hold."""
    from tiki_e_commerce_analytics_etl_spark.operators.text import bytes_to_unicode

    b2u = bytes_to_unicode()
    assert len(b2u) == 256 and len(set(b2u.values())) == 256
    assert all(c.isprintable() for c in b2u.values())
    assert b2u[ord(" ")] == "Ġ" and b2u[ord("\n")] == "Ċ"
    assert b2u[ord("a")] == "a" and b2u[ord("!")] == "!"  # printable: identity


def test_gpt2_pieces_matches_independent_reference(spark):
    """The JVM regex pre-tokenizer and the pure-Python scanner must
    agree piece-for-piece on contractions, space-prefixing, lookahead
    whitespace trimming, unicode letters/digits, and non-ASCII spaces
    — plus random corpora."""
    import random

    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    rng = random.Random(11)
    alphabet = list("ab 1!'é\t\n")
    randoms = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        for _ in range(60)
    ]
    texts = _TRICKY_TEXTS + randoms
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r["i"]: list(r["p"])
        for r in df.select(
            "i", text_ops.gpt2_pieces(F.col("text")).alias("p")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_pieces(t), (i, t, got[i], _ref_pieces(t))
    # pieces must reassemble the original text exactly (lossless)
    for t in texts:
        assert "".join(_ref_pieces(t)) == t


def test_byte_bpe_train_matches_independent_reference(spark):
    """Property: on random corpora the distributed trainer reproduces
    the independent reference's merge table exactly (ranks, symbols,
    counts) — argmax tiebreaks, resume-after-merge rewrites, byte
    mapping, and pre-tokenization all in lockstep."""
    import random

    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    rng = random.Random(42)
    vocab = ["low", "lower", "it's", "café", "42", "ab", "a", "xyz!"]
    for trial in range(3):
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 15)))
            for _ in range(rng.randrange(2, 6))
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = [
            (r["merge_rank"], r["left"], r["right"], r["merged"],
             r["pair_count"])
            for r in text_ops.byte_bpe_train(df, n_merges=6)
            .orderBy("merge_rank").collect()
        ]
        want = _ref_byte_bpe(texts, 6)
        assert got == want, (trial, texts, got, want)


def test_byte_bpe_tokenize_out_of_training(spark):
    """Apply on words never seen in training still tokenizes (the
    no-<unk> guarantee) and matches the reference's replay — including
    a multi-byte word no merge covers."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [(1, "low low lower newest newest widest")], "i long, text string"
    )
    merges_df = text_ops.byte_bpe_train(train, n_merges=6)
    merges = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], 0)
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    docs = [(1, "lowest đường 🙂"), (2, "it's 99 bottles")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_pieces"], r["n_bytes"], r["n_tokens"])
        for r in text_ops.byte_bpe_token_counts(df, merges_df).collect()
    }
    b2u = _ref_b2u()
    for did, t in docs:
        pieces = _ref_pieces(t)
        n_bytes = sum(len(p.encode("utf-8")) for p in pieces)
        n_tok = 0
        for p in pieces:
            syms = [b2u[b] for b in p.encode("utf-8")]
            for _, l, r, m, _ in merges:
                if len(syms) < 2:
                    break
                syms = _ref_scan(syms, l, r, m)
            n_tok += len(syms)
        assert got[did] == (len(pieces), n_bytes, n_tok)


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
