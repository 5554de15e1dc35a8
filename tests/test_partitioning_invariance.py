"""Distribution-correctness guards: a query's RESULT must not depend on
the physical partitioning — the local proxy for "same answer on 4
cores and on 1000 executors".  Each query runs under materially
different execution layouts (shuffle-partition count swing + AQE
toggled) and the canonicalized results must match bit-for-bit.

Queries chosen for order-sensitivity risk: windows with tiebreaks
(sessionize, scd2), hash-threshold sampling,
inverted-index pair generation, and the Arrow-vectorized gram stage.
"""

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

QUERIES = [
    "sessionize",
    "scd2_products",
    "token_budget_mix",
    "ngram_jaccard",
    "hash_split",
    "dedup_latest",
    # round-3 additions with order-sensitivity risk: band-bucket pair
    # expansion, top-k ties, integer division over window leads,
    # full-outer status classification, quantile strata boundaries,
    # iterative label propagation
    "minhash_pairs",
    "bm25_search",
    "vocab_top_ngrams",
    "twap_daily",
    "snapshot_diff",
    "length_stratified_sample",
    "neardup_clusters",
    # round-4 additions: MG candidate sets vary with partitioning (the
    # exact recount must erase that), per-hash window counts, per-shard
    # row_number tiebreaks, chained funnel joins, boundary-scalar bins,
    # incremental fold, z-order bit math, blocked levenshtein pairs
    "heavy_hitters",
    "chunk_dedup",
    "shuffle_shards",
    "funnel",
    "equidepth_bins",
    "incremental_agg",
    "zorder_key",
    "fuzzy_names",
    "weighted_sample",
    "split_passages",
    # round-4 late additions: bitmap word agg + broadcast probe,
    # sketch-cell sums + min-estimate, iterative integer mass sums
    "bloom_screen",
    "cms_counts",
    "pagerank_parts",
    "hashed_tfidf",
    "contiguous_ids",
    "quantile_sketch",
    "skew_join_hybrid",
    "simhash_hamming",
    # engagement additions: double max across partial aggs, percentile
    # boundary scalars, integer-division lift math, bounded explode +
    # double dedupe, floor-div surprisal sums
    "rfm_segments",
    "basket_pairs",
    "rolling_active_users",
    "cohort_retention",
    "rarity_score",
    "rolling_actives_sketch",  # HLL register maxes are order-insensitive
    "scd2_lookup",       # interval residual over window-built spans
    "item_neighbors",    # per-item top-k ties broken by neighbor id
    "phrase_search",     # start-position semi-join chain
    "ab_test",           # single-row integer-count z arithmetic
    "curriculum_stages", # boundary scalars + md5-ordered stage windows
    "cms_join_size",     # exact integer cells + row inner products
    "hll_overlap",       # HLL register maxes are order-insensitive
    "frequent_triples",  # semi-join prune chain + triple counting
    "proximity_search",  # adjacent-bin expansion + distance residual
    "returning_users",   # bounded explode + semi-join retention
    "bigram_rarity",     # floor-div conditional surprisal sums
    # round-5 additions: distributed sort-rank boundaries (bucket
    # counts + offset ranks must erase the bucket layout), and the
    # approx-agreement gates (approx_percentile sketches vary with
    # partitioning — the ±1 tolerance must absorb it)
    "equidepth_approx_gate",
    "rfm_approx_gate",
    "curriculum_approx_gate",
    "avi_frame_sample",   # Arrow mux + demux stages, slice arithmetic
    "resample_ffill",     # ignorenulls window fill over exploded grid
    "price_percentiles",  # per-group sort-rank interpolation sums
    # the daily batch's own plans: broadcast joins over the fact scan,
    # full-outer MERGE arms, keep-latest winner under ties
    "golden_join",
    "merge_upsert_dim",
    "merge_upsert_composite",
    "snapshot_fact",
]


def _canon(df):
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check import canon

    return canon(df.toPandas())


@pytest.fixture
def restore_confs(spark):
    """Snapshot the layout confs and restore the SESSION's originals
    afterwards — hardcoding 'restore' values would silently leave later
    tests in the shared session running with a different parallelism
    than they were written for."""
    keys = ["spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_under_partitioning(spark, restore_confs, name):
    fn = entrymod.queries()[name]
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    a = _canon(fn(spark, SF_DIR))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    b = _canon(fn(spark, SF_DIR))
    assert a.equals(b), f"{name}: result depends on physical partitioning"
