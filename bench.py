#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is forced end-to-end with a noop-sink write (full computation,
no result serialization to the driver skewing the number). For the
EAGER_BUILD family (stream/registry twins, index builds, training loops)
the fn() build itself is real work and runs inside the timed window —
see the EAGER_BUILD note below (r12 VERDICT methodology fix, r13).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "volume_history_window",
    "volume_zscore",
    "pattern_mining",
    "hourly_volume",
    "json_key_volume",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "nearest_centroid",
    "ann_bruteforce",
    "text_quality",
    "doc_fingerprints",
    "user_sessions",
    "asof_signup_before_error",
    "rollup_volume",
    "value_percentiles",
    "embedding_near_dup_lsh",
    "large_volume_customers",
    "promo_revenue",
    "cheapest_supplier_per_part",
    "single_failed_supplier_orders",
    "top_quarter_suppliers",
    "repetition_scores",
    "pack_sequences",
    "sensitive_term_scrub",
    "domain_mix_sample",
    "duplicate_spans",
    "unigram_logprob",
    "dedup_paragraphs",
    "c4_line_stats",
    "ann_pq",
    "doc_length_quartiles",
    # round-3 additions (keep above list stable for cross-round diffs)
    "merge_events_upsert",
    "contamination_overlap",
    "dedup_keep_table",
    "weighted_sample_docs",
    "shard_assignment",
    "charclass_profile",
    "pii_scan",
    "embedding_int8_report",
    "funnel_stages",
    "robust_anomaly_stats",
    "dataset_card",
    "subword_token_counts",
    "cross_source_dup_matrix",
    "decontaminate_bloom",
    "distinct_actors_hll_registry",
    # round-4 additions
    "streaming_dedup_registry_twin",
    "dedup_substrings",
    "leakage_safe_split",
    "quality_feature_matrix",
    "embedding_pca",
    "value_quantiles_kll_registry",
    "perplexity_buckets",
    "snapshot_diff",
    "image_pixel_stats",
    "audio_pcm_stats",
    "user_retention_theta",
    "curate_corpus",
    # round-4 continuation
    "scd2_user_state",
    "events_in_windows_bucketed",
    "bpe_token_counts",
    "heavy_hitter_words",
    "quality_classifier_report",
    "sample_k_per_source",
    "profile_events",
    "vocab_growth_report",
    "temperature_mix_plan",
    "jpeg_pixel_stats",
    "mp4_frame_index",
    # round-4 continuation, second session
    "bm25_search",
    "chunk_documents",
    "fuzzy_customer_pairs",
    "image_dhash",
    "hourly_resample_ffill",
    "zorder_bucket_stats",
    "part_pagerank",
    "hybrid_search_rrf",
    "rolling_median_value",
    "join_overlap_theta",
    "activity_islands",
    "mean_shift_scores",
    "streaming_bm25_twin",
    "dsir_weights",
    "snapshot_timetravel_twin",
    "rag_chunk_search",
    "kn_trigram_logprob",
    # round-5 additions
    "count_window_stream_twin",
    "decayed_volume_stream_twin",
    "denstream_stream_twin",
    "perplexity_buckets_exact",
    "json_shred_profile",
    "ann_hnsw",
    "ann_ivf_hnsw",
    "matview_refresh_twin",
    "windowed_volume_stream_twin",
    "session_volume_stream_twin",
    "drift_report",
    "constraint_report",
    "audio_dominant_tone",
    "image_histogram_stats",
    "kn_trigram_pruned",
    "mjpeg_frame_pixel_stats",
    # round-6 additions
    "drift_window_twin",
    "cm_user_counts",
    "ann_hnsw_registry",
    "session_gap_sweep",
    "dsir_gumbel_sample",
    "bloom_point_lookup",
    "snapshot_cdc_twin",
    "skew_report",
    "tokenizer_fertility",
    "components_incremental_twin",
    "weekly_heavy_actors",
    "optimize_prune_twin",
    # round-6 continuation: the trends family, PMI collocations, and the
    # stream-stream join twin
    "cohort_retention",
    "event_transitions",
    "volume_trend",
    "cusum_changepoints",
    "ohlc_bars",
    "token_pmi",
    "stream_join_twin",
    # strict-sequencing funnel + exact sliding-window distinct
    "funnel_conversion",
    "rolling_distinct_users",
    # round-7 registrations (the r6-rehearsed queue)
    "textrank_keywords",
    "ddww_twin",
    "louter_twin",
    "fouter_twin",
    "hll_rolling_distinct",
    "maxsim_search",
    "branch_wap_twin",
    "seasonal_volume_decompose",
    "mad_anomaly",
    "unigram_token_counts",
    "dup_shingle_profile",
    "token_communities",
    "resample_daily_volume",
    "gif_frame_pixel_stats",
    "dictionary_match_counts",
    "maxsim_search_routed",
    "compression_quality",
    "tokenizer_compare",
    "vocab_divergence",
    "zipf_fit",
    # round-8 registrations (the r7-rehearsed queue)
    "dedup_containment",
    "holt_winters_daily",
    "html_text_extract",
    "url_parse",
    "url_domain_report",
    "wordpiece_token_counts",
    "bloom_semi_join",
    "curate_web_corpus",
    "router_twin",
    "normalize_text",
    "ann_recall_report",
    # round-8 session builds
    "association_rules",
    "kwic_snippets",
    "readability_scores",
    "token_entropy",
    "bucketed_join_twin",
    "word_triangles",
    "mmr_rerank",
    "salted_join_twin",
    "holt_winters_anomaly",
    "embedding_drift_report",
    # round-9 session builds
    "purchase_attribution",
    "novelty_scores",
    "equidepth_bins",
    "dhash_near_dup_report",
    "event_path_trigrams",
    "ewma_control_chart",
    "hard_negative_mining",
    "word_kcore",
    "record_linkage_fs",
    # round-10 additions (the 6 registered r10-queue entries)
    "rm3_expanded_search",
    "forecast_backtest_report",
    "lsh_quality_report",
    "ewma_volume_stream_twin",
    "rfm_segments",
    "profile_diff_report",
    # r11 registrations
    "char_window_dup_profile",
    "shard_manifest_diff",
    "proximity_rerank",
    "retrieval_eval_report",
    "jaccard_threshold_sweep",
    "manifest_timetravel_twin",
    "benford_deviation_report",
    # r12 registrations
    "bm25_incremental_twin",
    "doremi_domain_weights",
    "shared_affix_profile",
    "lcp_neighbor_profile",
    "rho1_token_selection",
    "source_coverage_report",
    "merkle_integrity_diff",
    # r13 registrations (merkle_tree_update is pure-plan; the other six do
    # registry commits / driver-loop work inside fn() and are EAGER_BUILD)
    "merkle_tree_update",
    "bm25_delete_twin",
    "bm25_compaction_twin",
    "greedy_coverage_order",
    "doremi_iterated",
    "lsh_incremental_twin",
    "char_window_incremental_twin",
]

# Queries whose fn(spark, sf_dir) call itself performs real execution work —
# availableNow micro-batches, txlog registry commits, HNSW/PQ/bloom index
# builds, vocab-grain training loops, driver-side greedy/MW iterations —
# rather than pure lazy plan construction. r12 VERDICT methodology fix:
# for these, the fn() build is the real cost of the operator, so it runs
# INSIDE the timed window (build + noop-sink execution together). The one-time
# timing discontinuity this creates for the twin/registry family is
# annotated in BENCH_diff_r13.md rather than adjudicated as regression.
EAGER_BUILD = {n for n in HEADLINE if n.endswith("_twin") or "registry" in n} | {
    "ann_hnsw",            # HNSW graph build (driver-bounded) at fn() time
    "ann_ivf_hnsw",        # centroid HNSW build at fn() time
    "ann_recall_report",   # HNSW build + IVF probes at fn() time
    "ann_pq",              # PQ codebook training + query collect at fn() time
    "bloom_point_lookup",  # staging write + bloom build at fn() time
    "part_pagerank",       # |V| count job at fn() time, then 8 cut power steps
    "bpe_token_counts",    # BPE merge-training loop at fn() time
    "unigram_token_counts",   # unigram-LM EM loop at fn() time
    "wordpiece_token_counts", # WordPiece merge training at fn() time
    "tokenizer_compare",      # trains all three tokenizers at fn() time
    "doremi_iterated",        # T=3 MW loop, domain-grain collects at fn() time
    "greedy_coverage_order",  # k greedy argmax collects at fn() time
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from logstream_processing_service_spark.catalog import all_specs
    from logstream_processing_service_spark.session import get_spark

    spark = get_spark(app_name="logstream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {s.name: s for s in all_specs()}

    # JVM/codegen warm-up outside the timings: the first executed job pays
    # JIT compilation + parquet footer reads (~2-3s) that say nothing about
    # the plans under test
    from logstream_processing_service_spark.sources import load_table

    load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, float] = {}
    # Pure-plan queries run FIRST, the EAGER_BUILD family last: the
    # eager twins' streaming micro-batches and registry builds leave the
    # shared local JVM with loaded state-store providers and GC pressure
    # that measurably slows LATER queries (r13 adjudication: codec/text
    # queries interleaved after stream twins ran 3-10x slower in-bench
    # than standalone, and reverted exactly when re-run 3x warm in a
    # fresh session). Phasing the run isolates that contamination to the
    # eager block, whose members are individually noisy anyway (state
    # store maintenance timing varies run to run).
    ordered = [n for n in HEADLINE if n not in EAGER_BUILD] + [
        n for n in HEADLINE if n in EAGER_BUILD
    ]
    for name in ordered:
        fn = specs[name].fn
        if name in EAGER_BUILD:
            # fn() drives micro-batches / builds registries / trains state:
            # that IS the operator's cost — time build + execution together
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
        else:
            # pure plan construction: one warm build to materialize table
            # metadata outside the timing
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        # operators persist() intermediate frames (shingle streams, stat
        # frames); the cache lifecycle contract is CALLER-owned — drop them
        # here so a 49-query run doesn't accumulate dead cached frames that
        # compete with shuffle/execution memory (each query builds fresh
        # DataFrames, so there is never cross-query cache reuse to keep)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    print(line)
    # Also persist the COMPLETE line: the driver's BENCH_r{N}.json record
    # keeps only a 2000-char tail, which truncates the first half of the
    # per-query map — the committed full artifact is what
    # tools/bench_diff.py diffs round over round (r6 VERDICT #3).
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_full_latest.json",
        ),
    )
    with open(out, "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
