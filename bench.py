#!/usr/bin/env python
"""Benchmark the catalog's headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

With no arguments, times every HEADLINE query once and prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>}
and writes the same line to BENCH_full_latest.json ($SPARK_GRAFT_BENCH_OUT).

  python bench.py name1 name2 ... [--reps N] [--sf DIR]
times the named catalog queries N times in the given order, prints one JSON
line per rep and then a line with each query's min and median, and writes
no file: the before/after instrument for a change to a few operators.

Each query is forced end-to-end with a noop-sink write (full computation,
no result serialization to the driver skewing the number). A query's fn()
build is timed together with the write when fn() runs Spark work itself
(stream/registry twins, index builds, training loops, iterative rounds):
that work is part of the operator's cost. A pure plan's build, which only
reads table metadata, stays outside the timer. ``time_query`` is the one
place that applies this rule, and ``times_build`` names the timed builds.
tools/scaling_study.py times its queries through the same function.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
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
    # registry commits / driver-loop work inside fn() and have timed builds)
    "merkle_tree_update",
    "bm25_delete_twin",
    "bm25_compaction_twin",
    "greedy_coverage_order",
    "doremi_iterated",
    "lsh_incremental_twin",
    "char_window_incremental_twin",
]

# Queries whose fn(spark, sf_dir) call itself runs Spark jobs —
# availableNow micro-batches, txlog registry commits, HNSW/PQ/bloom index
# builds, vocab-grain training loops, driver-side greedy/MW iterations,
# iterative graph rounds and driver collects of planning inputs — rather
# than pure lazy plan construction. For these the fn() build is part of
# the operator's cost, so it runs INSIDE the timed window (build +
# noop-sink execution together); see ``time_query``.
# Stream twins and registry queries are timed the same way by name
# (``times_build``), so they are not listed here.
# tests/test_bench_protocol.py checks that every other HEADLINE query's
# fn() submits no job beyond its parquet schema reads.
EAGER_BUILD = {
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
    # near-dup clusters: connected-components rounds, each cut + probed
    "curate_corpus",
    "dedup_keep_table",
    "leakage_safe_split",
    "quality_classifier_report",  # logistic-regression fit + AUC at fn() time
    "textrank_keywords",   # |V| count + cut PageRank power steps at fn() time
    "token_communities",   # cut label-propagation rounds at fn() time
    "word_kcore",          # one count per k-core peel at fn() time
    "association_rules",   # distinct-user count for the supports at fn() time
    "decontaminate_bloom",  # bloom filter built by a collect at fn() time
    "bloom_semi_join",      # bloom filter built by a collect at fn() time
    "embedding_pca",       # PCA fit (dim probe + covariance collect) at fn() time
    "shard_assignment",    # row count that sizes the shards at fn() time
}


def times_build(name: str) -> bool:
    """Whether ``time_query`` times ``name``'s fn() build: the EAGER_BUILD
    names, plus any stream twin (drives micro-batches) or registry query
    (commits to its txlog) in fn(), catalog or not."""
    return name in EAGER_BUILD or name.endswith("_twin") or "registry" in name


def time_query(spark, name: str, fn, sf_dir: str) -> float:
    """Seconds for one catalog query, forced end to end through the noop
    sink. A pure plan is built once outside the timer (that build reads
    table metadata only); a build that runs Spark work (``times_build``)
    is timed with the write."""
    if times_build(name):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
    else:
        df = fn(spark, sf_dir)
        t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    elapsed = round(time.perf_counter() - t0, 3)
    # operators persist() intermediate frames (shingle streams, stat
    # frames); the cache lifecycle contract is CALLER-owned — drop them
    # here so a long run doesn't accumulate dead cached frames that
    # compete with shuffle/execution memory (each query builds fresh
    # DataFrames, so there is never cross-query cache reuse to keep)
    spark.catalog.clearCache()
    return elapsed


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="catalog queries to time")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args(argv)
    if args.reps != 1 and not args.names:
        ap.error("--reps times a named subset; the default run is one pass")
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    from logstream_processing_service_spark.catalog import all_specs
    from logstream_processing_service_spark.session import get_spark

    specs = {s.name: s for s in all_specs()}
    unknown = [n for n in args.names if n not in specs]
    if unknown:
        ap.error(f"not catalog queries: {', '.join(unknown)}")

    spark = get_spark(app_name="logstream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up outside the timings: the first executed job pays
    # JIT compilation + parquet footer reads (~2-3s) that say nothing about
    # the plans under test
    from logstream_processing_service_spark.sources import load_table

    load_table(spark, args.sf, "lineitem").groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()

    if args.names:
        _time_subset(spark, specs, args.names, args.reps, args.sf)
    else:
        _time_headline(spark, specs, args.sf)
    spark.stop()


def _time_subset(spark, specs, names: list[str], reps: int, sf_dir: str) -> None:
    """One JSON line per rep, then the per-query min and median."""
    runs: dict[str, list[float]] = {n: [] for n in names}
    for r in range(reps):
        timings = {n: time_query(spark, n, specs[n].fn, sf_dir) for n in names}
        for n, t in timings.items():
            runs[n].append(t)
        print(json.dumps({"rep": r, "queries": timings}), flush=True)
    print(json.dumps({
        "median": {n: round(statistics.median(v), 3) for n, v in runs.items()},
        "min": {n: min(v) for n, v in runs.items()},
    }), flush=True)


def _time_headline(spark, specs, sf_dir: str) -> None:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Pure-plan queries run FIRST, the timed-build family last: the
    # eager twins' streaming micro-batches and registry builds leave the
    # shared local JVM with loaded state-store providers and GC pressure
    # that measurably slows LATER queries (r13 adjudication: codec/text
    # queries interleaved after stream twins ran 3-10x slower in-bench
    # than standalone, and reverted exactly when re-run 3x warm in a
    # fresh session). Phasing the run isolates that contamination to the
    # eager block, whose members are individually noisy anyway (state
    # store maintenance timing varies run to run).
    ordered = [n for n in HEADLINE if not times_build(n)] + [
        n for n in HEADLINE if times_build(n)
    ]
    timings = {n: time_query(spark, n, specs[n].fn, sf_dir) for n in ordered}

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


if __name__ == "__main__":
    main()
