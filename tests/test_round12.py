"""Round-12 surface: multi-word PHRASE blocklist route, self-healing
bench canary, and the round-11 ADVICE fixes."""

from __future__ import annotations


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


# ---------------------------------------------------------------------------
# Round 12 #1: multi-word phrase blocklist route
# ---------------------------------------------------------------------------


def test_blocklist_phrase_routes_are_equivalent(spark):
    """Literal and broadcast-join routes must agree on MIXED word +
    phrase lists — overlapping phrase occurrences, docs shorter than
    the longest phrase, case/whitespace-denormalized terms, duplicate
    terms post-normalization, empty and NULL text."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    docs = _mk_docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown quick brown fox"),
            (3, None),
            (4, ""),
            (5, "fox"),
            (6, "  Quick   BROWN  fox  "),
        ],
    )
    terms = [
        "fox",
        "Quick  Brown",      # denormalized duplicate of "quick brown"
        "quick brown fox",
        "lazy",
        "the quick brown fox",
        "fox",               # duplicate single word
        "",                  # empty term drops
    ]
    lit = text_ops.blocklist_screen(docs, terms, max_hits=1, route="literal")
    join = text_ops.blocklist_screen(docs, terms, max_hits=1, route="join")
    assert lit.schema == join.schema
    a = sorted(tuple(r) for r in lit.collect())
    b = sorted(tuple(r) for r in join.collect())
    assert a == b
    by_id = dict((r[0], r[1:]) for r in a)
    # doc 1: fox, lazy, "quick brown", "quick brown fox",
    # "the quick brown fox" — one occurrence each
    assert by_id[1] == (5, 5, True)
    # doc 2: fox×1 + "quick brown"×2 (overlap counts per occurrence)
    # + "quick brown fox"×1; "the quick brown fox" absent
    assert by_id[2] == (4, 3, True)
    # NULL and empty text both normalize to zero-hit rows on BOTH
    # routes (round-11 ADVICE: no route-dependent size(NULL))
    assert by_id[3] == (0, 0, False)
    assert by_id[4] == (0, 0, False)
    assert by_id[5] == (1, 1, False)
    # doc 6 normalizes to "quick brown fox"
    assert by_id[6] == (3, 3, True)


def test_blocklist_single_word_lists_unchanged(spark):
    """A single-word list must behave exactly as the round-11 surface
    did (the phrase machinery is a no-op at size 1): per-occurrence
    counts, distinct terms, spine-complete output."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    docs = _mk_docs(
        spark,
        [(1, "red fish blue fish RED fish"), (2, "nothing here"), (3, "")],
    )
    for route in ("literal", "join"):
        out = dict(
            (r["doc_id"], (r["n_hits"], r["distinct_hits"], r["flagged"]))
            for r in text_ops.blocklist_screen(
                docs, ["red", "fish", "absent"], max_hits=1, route=route
            ).collect()
        )
        assert out == {1: (5, 2, True), 2: (0, 0, False), 3: (0, 0, False)}


def test_blocklist_phrase_shorter_doc_than_phrase(spark):
    """Docs shorter than a phrase produce NO n-grams at that size
    (guards the F.sequence(1, 0) descending-range trap)."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    docs = _mk_docs(spark, [(1, "brown fox"), (2, "fox")])
    terms = ["brown fox", "quick brown fox jumps"]
    for route in ("literal", "join"):
        out = dict(
            (r["doc_id"], r["n_hits"])
            for r in text_ops.blocklist_screen(docs, terms, route=route).collect()
        )
        assert out == {1: 1, 2: 0}


def test_blocklist_phrase_auto_route_plan(spark):
    """Phrase lists obey the same auto crossover: short mixed list →
    no join in the plan; >256 terms → broadcast join appears."""
    from tiki_e_commerce_analytics_etl_spark.operators import text as text_ops

    docs = _mk_docs(spark, [(1, "alpha beta gamma")])
    short = text_ops.blocklist_screen(docs, ["alpha beta"], route="auto")
    long_terms = ["alpha beta"] + [f"t{i} u{i}" for i in range(300)]
    long = text_ops.blocklist_screen(docs, long_terms, route="auto")
    assert "Join" not in short._jdf.queryExecution().executedPlan().toString()
    assert "Join" in long._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# Round 12 #5 + ADVICE: self-healing canary, both-direction solo ranking
# ---------------------------------------------------------------------------


def test_canary_self_heals_transient_spike():
    """A one-off >2x canary spike (the round-11 after_n=25 GC event)
    must be re-measured once; the retry's clean reading is recorded
    as `sec` with the spike preserved in `first_attempt`."""
    import bench

    readings = iter([7.385, 1.2])
    rec = bench.measure_canary(lambda: next(readings), 25, baseline=1.15)
    assert rec == {"after_n": 25, "sec": 1.2, "first_attempt": 7.385}


def test_canary_persistent_drift_survives_retry():
    """A move that REPRODUCES on the retry is real instrument drift
    and must be recorded at the retried value (with the first attempt
    kept as evidence)."""
    import bench

    readings = iter([5.0, 4.8])
    rec = bench.measure_canary(lambda: next(readings), 50, baseline=1.15)
    assert rec["sec"] == 4.8 and rec["first_attempt"] == 5.0


def test_canary_stable_reading_measures_once():
    """In-band readings (including the baseline itself) never pay a
    retry — the canary stays one execution per checkpoint."""
    import bench

    calls = []

    def measure():
        calls.append(1)
        return 1.3

    rec = bench.measure_canary(measure, 0, baseline=None)  # first reading
    assert rec == {"after_n": 0, "sec": 1.3} and len(calls) == 1
    rec = bench.measure_canary(measure, 25, baseline=1.2)
    assert rec == {"after_n": 25, "sec": 1.3} and len(calls) == 2


def test_solo_candidates_rank_both_drift_directions():
    """A 4x SPEEDUP must outrank a 3x slowdown for the re-measure cap
    (round-11 ADVICE: t/prior-only ranking dropped improvement-side
    outliers when the cap was tight)."""
    import bench

    prior = {"slow": 1.0, "fast": 4.0, "mild": 1.0}
    timings = {"slow": 3.0, "fast": 1.0, "mild": 2.1}
    out = bench.solo_candidates(["slow", "fast", "mild"], timings, prior, cap=2)
    assert out == ["fast", "slow"]
