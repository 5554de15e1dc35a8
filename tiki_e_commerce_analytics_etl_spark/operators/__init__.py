"""Operator library: dedup, merge/upsert, reshape, quality, sessions,
graph clustering, lexical ranking, text analysis, multimodal
plumbing, sampling, skew mitigation, diffing, and grouped-map
time-series repair.

Submodules (import the module, call its functions):
  dedup       keep_latest, exact_dedup, minhash_lsh_candidates
              (+ _portable md5 family), simhash / simhash_df /
              simhash_portable_df, ngram_jaccard_pairs, decontaminate
  merge       merge_upsert, merge_source_wins, antijoin_new_rows,
              scd2_from_history
  reshape     melt, melt_trends_wide, union_concat
  quality     Check, run_checks, checks_report, summary,
              zscore_outliers, mad_outliers, histogram
  sessions    sessionize, session_stats
  graph       connected_components, pagerank_integer, triangle_stats
  ranking     bm25_topk
  text        words, token_count, lang_id, quality_score, fingerprint,
              repetition_stats, redact_pii_df, top_ngrams
  multimodal  extract_features (real_decoder / fake_decoder),
              resize_images, frame_sample
  sampling    hash_sample, hash_split, token_budget_mix
  skew        with_salt, salted_count_distinct, salted_join_left_skewed
  diff        table_diff, diff_summary
  grouped     resample_ffill_daily, time_weighted_avg_daily
  asof        asof_join_backward
  range_join  range_join_points, interval_overlap_join
  time_rollup multi-granularity rollup
  hierarchy   pointer-jumping root resolution
"""
