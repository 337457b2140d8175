#!/usr/bin/env python
"""Two-point scaling study for the flagship dedup/curation/retrieval path
(r4 VERDICT "Next round" #6): every 100 TB claim so far is a plan-shape
argument; this measures the actual wall-clock scaling exponent per query
across a 10x corpus-size step and flags anything super-linear.

Corpus points:
  - sf0.01 (500 docs)  — warm-up / third point
  - sf0.1  (5,000 docs) — the driver's bench SF
  - scale10 (50,000 docs) — synthetic 10x slice of sf0.1, generated as:
    copy 0 = the original documents; copies k=1..9 = doc_id + k*5000 and
    the word sequence deterministically shuffled with seed (doc_id, k).
    This preserves the vocabulary, document-length, source and lang
    distributions exactly (so df-cap guards and funnel rules see the
    same marginals) while making the copies mutually non-near-duplicate
    (shingle sets are order-dependent); the original corpus's internal
    near-dup families survive once. Non-document tables are copied from
    sf0.1 so loaders resolve.

Exponent: log(t_50k / t_5k) / log(10) from the per-query MIN of
``reps`` runs of ``bench.time_query``, bench.py's timing protocol (min is
the right estimator under this VM family's
documented run-to-run drift). alpha <= ~1.15 is linear-with-noise;
> 1.3 triggers a diagnosis per the VERDICT's done-criterion.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_substrings",
    "contamination_overlap",
    "bm25_search",
    "curate_corpus",
    # r5 additions (r5 VERDICT "Next round" #6)
    "kn_trigram_pruned",
    "perplexity_buckets_exact",
    "json_shred_profile",       # scales with events (also 10x'd below)
    "mjpeg_frame_pixel_stats",  # synthetic payloads derive from documents
    # r6 additions
    "cm_user_counts",               # events-grain: CM build dominates
    "session_gap_sweep",            # events-grain: one window shuffle
    "components_incremental_twin",  # documents-grain: LSH + contraction
    "drift_window_twin",            # events-grain: 3 commits + refreshes
    # r6 continuation (trends family + collocations)
    "cohort_retention",         # events-grain: one user-keyed shuffle
    "event_transitions",        # events-grain: user-keyed lag window
    "ohlc_bars",                # events-grain: single aggregation
    "funnel_conversion",        # events-grain: one sort, two windows
    "rolling_distinct_users",   # events-grain: day-grain sets + window
    "token_pmi",                # documents-grain: bigram vocab joins
    # r6 continuation-4 (the r7 queue)
    "maxsim_search",            # documents-grain: token-pair stream
    "seasonal_volume_decompose",  # events-grain: daily windows
    "mad_anomaly",              # events-grain: two value sorts
    "unigram_token_counts",     # documents-grain: train + encode
    "dup_shingle_profile",      # documents-grain: df join at long grain
    "token_communities",        # vocab-grain: |edges|-bounded iterations
    "resample_daily_volume",    # events-grain: daily agg + spine windows
    "gif_frame_pixel_stats",    # documents-grain: per-payload decode
    "dictionary_match_counts",  # documents-grain: one AC pass per doc
    "maxsim_search_routed",     # documents-grain: bucket-pruned pairs
    "compression_quality",      # documents-grain: one deflate per doc
    "vocab_divergence",         # vocab-grain: sources² × union vocab grid
    "zipf_fit",                 # vocab-grain: count + TakeOrdered + tiny fit
    # r7 session (the r8 queue)
    "dedup_containment",        # documents-grain: shingle inverted index
    "holt_winters_daily",       # events-grain: daily agg + tiny recurrence
    "html_text_extract",        # documents-grain: zero-shuffle JVM regex
    "url_domain_report",        # documents-grain: parse + one aggregate
    "wordpiece_token_counts",   # documents-grain: train + encode (eager)
    "bloom_semi_join",          # lineitem-grain: bloom prefilter + semi
    "curate_web_corpus",        # documents-grain: composed funnel
    "normalize_text",           # documents-grain: Arrow NFKC pass
    # r8 session builds
    "association_rules",        # events-grain: distinct-basket self-join
    "kwic_snippets",            # documents-grain: one regex pass
    "readability_scores",       # documents-grain: zero-shuffle formulas
    "token_entropy",            # documents-grain: (doc, token) combine
    "word_triangles",           # vocab-grain: oriented wedge join
    "purchase_attribution",     # events-grain: one user window pass
    "novelty_scores",           # documents-grain: shingle min-aggregate
    "equidepth_bins",           # events-grain: type-keyed rank windows
    # r9 session builds (dhash is documents-grain via synthetic
    # payloads; trigrams/ewma are events-grain; kcore is vocab-grain;
    # hard_negative_mining and record_linkage_fs are embeddings-/
    # customer-grain — those tables are not 10x'd in the decade, so
    # they are bench-only)
    "dhash_near_dup_report",
    "event_path_trigrams",
    "ewma_control_chart",
    "word_kcore",
    # r10 queue
    "rm3_expanded_search",      # documents-grain: two BM25 passes
    "forecast_backtest_report", # events-grain: daily series + HW fit
    "lsh_quality_report",       # documents-grain: shingle sig + verify
    # r11 queue
    "char_window_dup_profile",  # documents-grain: char-window df join
    "shard_manifest_diff",      # documents-grain: one id join + 16-row agg
    "proximity_rerank",         # documents-grain stage 1; candidate stage 2
    "retrieval_eval_report",    # documents-grain: 2 rankings + qrel scan
    "jaccard_threshold_sweep",  # documents-grain: full co-shingle pair join
    "benford_deviation_report", # events-grain: one scan + 9-row spine
    # r12 queue
    "bm25_incremental_twin",    # posting-grain: 2 commits + merged search
    "doremi_domain_weights",    # documents-grain: vocab agg + |D|-row tilt
    "shared_affix_profile",     # documents-grain: 10-rung short-key window
    "lcp_neighbor_profile",     # documents-grain: first-char sort + lag/lead
    "rho1_token_selection",     # documents-grain: vocab agg + broadcast probe
    "source_coverage_report",   # shingle-grain: two hash aggregates
    "merkle_integrity_diff",    # doc-grain: two scans + 73-row tree join
    "merkle_tree_update",       # doc-grain hash diff + tree-grain patch
    # r13 queue
    "bm25_delete_twin",         # posting-grain: tombstone append + anti-join
    "greedy_coverage_order",    # shingle-grain pass + k bounded rounds
    "doremi_iterated",          # vocab-grain: 2 aggregates x T rounds
    "lsh_incremental_twin",     # band-key-grain: 2 commits + merged pairs
    "bm25_compaction_twin",     # posting-grain: delete + fold + plain read
    "char_window_incremental_twin",  # window-hash postings, df at read
    # r14 queue (unregistered; resolved via _extra_queries).
    # ann_ivf_incremental_twin is embeddings-grain — that table is not
    # 10x'd in the decade (the r9 hard_negative_mining rule), so it is
    # bench-only.
    "lsh_compaction_twin",        # band-key-grain: 3 commits + fold + pairs
    "merkle_repair_plan",         # doc-grain hash scans + ≤64-row plan
    "doremi_to_mix_pipeline",     # doremi rounds + |domains|-row rate math
    "bloom_incremental_twin",     # word-grain: 2 KB-sized commits + OR-merge
    "snapshot_restore_twin",      # doc-grain: 2 commits + manifest-only restore
    "cm_incremental_twin",        # cell-grain: 2 sketch commits + sum-merge
    "snapshot_vacuum_twin",       # doc-grain: 2 commits + rewrite + dir GC
    "zorder_prune_twin",          # events-grain: z write + manifest-skip read
    "cm_lifecycle_twin",          # cell-grain: 4 commits + neg-delete + fold
    "bloom_rebuild_twin",         # word-grain: 3 commits (rebuild) + probe
    # r14 optimization round (VERDICT #9: measure the r13/r14-touched
    # operators' scaling claims, not just argue them). part_pagerank is
    # lineitem-grain — that table is not 10x'd in the decade, so its
    # iteration claim is measured by the dedicated SCALE_PAGERANK edge
    # decade below instead.
    "streaming_dedup_registry_twin",  # documents-grain: per-batch LSH registry
    "stream_join_twin",           # events-grain: input-derived state parts
    "louter_twin",                # events-grain: outer-join state store
    "ewma_volume_stream_twin",    # events-grain: keyed EWMA state
    "count_window_stream_twin",   # events-grain: count-window state
    "denstream_stream_twin",      # events-grain: per-key grouped-map floor
    "dedup_simhash",              # documents-grain: conv()-hash signatures
    "doc_fingerprints",           # documents-grain: conv()-hash one pass
]


def _extra_queries():
    """(spark, sf_dir) callables for the query functions not registered in
    the catalog (the rehearsed r14 queue), timed like registered ones."""
    import importlib

    modules = {
        "lsh_compaction_twin": "queries_text",
        "merkle_repair_plan": "queries_curation",
        "doremi_to_mix_pipeline": "queries_curation",
        "ann_ivf_incremental_twin": "queries_vector",
        "bloom_incremental_twin": "queries_text",
        "snapshot_restore_twin": "queries_relational",
        "cm_incremental_twin": "queries_relational",
        "snapshot_vacuum_twin": "queries_relational",
        "zorder_prune_twin": "queries_relational",
        "cm_lifecycle_twin": "queries_relational",
        "bloom_rebuild_twin": "queries_text",
    }
    return {
        name: getattr(
            importlib.import_module(f"logstream_processing_service_spark.{mod}"),
            f"q_{name}",
        )
        for name, mod in modules.items()
    }


SCALE_DIR = "/tmp/logstream_scale10"
SCALE100_DIR = "/tmp/logstream_scale100"
SCALE1000_DIR = "/tmp/logstream_scale1000"
SRC_SF = "/root/testdata/sf0.1"

# doc-grain flagships measured at the third decade under SCALE_100=1
SCALE100_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_substrings",
    "contamination_overlap",
    "bm25_search",
    "token_pmi",
    # continuation-4 doc-grain candidates
    "maxsim_search",
    "dup_shingle_profile",
    "token_communities",
    # r9 doc-grain flagships: the dedup-aware sampling signal and the
    # perceptual near-dup report — two decades make the sub-linear
    # exponents a trend, not a point estimate
    "novelty_scores",
    "dhash_near_dup_report",
    # r11 registrations with non-trivial absolute cost: a third decade
    # turns their pre-registration exponents into a curve
    "char_window_dup_profile",
    "proximity_rerank",
    "retrieval_eval_report",
    "jaccard_threshold_sweep",
    # r12-queue heavyweight: the two-level LCP probe's linear-asymptote
    # claim gets its third point
    "lcp_neighbor_profile",
    # r12's priciest registration (3.1 s at sf0.1): the no-df-cap
    # shingle-inventory aggregates get a third point
    "source_coverage_report",
    # r13 session: the incremental-registry family's costliest members
    # get a third point — their O(|delta|) ingest claim is the 100 TB
    # argument, so the exponent should bend DOWN as the fixed commit
    # overhead amortizes (eager-timed per the r13 methodology)
    "lsh_incremental_twin",
    "char_window_incremental_twin",
)


def _ensure_corpus(path: str, build) -> None:
    """Build the corpus at ``path`` unless a finished build of SRC_SF is
    there. The ``_COMPLETE`` marker is written after ``build`` returns,
    so an interrupted build, or one from another source SF, is removed
    and rebuilt rather than measured."""
    marker = os.path.join(path, "_COMPLETE")
    try:
        with open(marker) as fh:
            if fh.read() == SRC_SF:
                return
    except FileNotFoundError:
        pass
    shutil.rmtree(path, ignore_errors=True)
    build()
    with open(marker, "w") as fh:
        fh.write(SRC_SF)


def build_scale10() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(SCALE_DIR, exist_ok=True)
    for f in os.listdir(SRC_SF):
        if f != "documents.parquet":
            shutil.copy(os.path.join(SRC_SF, f), os.path.join(SCALE_DIR, f))
    t = pq.read_table(os.path.join(SRC_SF, "documents.parquet"))
    rows = t.to_pylist()
    n0 = len(rows)
    out = []
    for k in range(10):
        for r in rows:
            if k == 0:
                out.append(r)
                continue
            words = r["text"].split(" ")
            rng = random.Random(r["doc_id"] * 37 + k)
            rng.shuffle(words)
            text = " ".join(words)
            out.append(
                {
                    "doc_id": r["doc_id"] + k * n0,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )
    big = pa.Table.from_pylist(out, schema=t.schema)
    # multi-row-group file so scans parallelize like real multi-file data
    pq.write_table(
        big, os.path.join(SCALE_DIR, "documents.parquet"), row_group_size=5000
    )
    # events 10x for the events-grain queries (json_shred_profile): k
    # copies with offset event_ids, payloads/types/ts kept verbatim so
    # JSON key/type marginals are preserved exactly
    te = pq.read_table(os.path.join(SRC_SF, "events.parquet"))
    ne = te.num_rows
    import pyarrow.compute as pc

    parts = []
    for k in range(10):
        t2 = te.set_column(
            te.schema.get_field_index("event_id"),
            "event_id",
            pc.add(te.column("event_id"), k * ne),
        )
        parts.append(t2)
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(SCALE_DIR, "events.parquet"),
        row_group_size=50_000,
    )
    print(f"scale10 built: {len(out)} docs, {10 * ne} events", flush=True)


HEAPS_DIR = "/tmp/logstream_scale10_heaps"
HEAPS_BETA = 0.7
# the operators whose cost is VOCAB-grain: the shuffle decades preserve
# the token inventory, so their 10x exponents there carry an unmeasured
# vocab-growth term (r6 VERDICT #4) — this decade measures it
HEAPS_QUERIES = (
    "maxsim_search",
    "dup_shingle_profile",
    "token_communities",
    "textrank_keywords",
    "vocab_divergence",
    "zipf_fit",
    "token_pmi",
    # r8 additions: the tokenizer TRAINERS are the most vocab-sensitive
    # operators in the repo (distinct-word tables drive the EM/merge
    # loops), so the growing-vocabulary decade is the honest one for
    # them; dedup_containment's heaps exponent (0.545, r7) re-measures
    # alongside for trend continuity.
    "wordpiece_token_counts",
    "unigram_token_counts",
    "dedup_containment",
    # r8 builds at vocab grain
    "word_triangles",
    "token_entropy",
    # r9: novelty_scores is shingle-grain (the family the frozen-vocab
    # decade is adversarial for — scaling-decade-shapes memory), so its
    # honest exponent is the Heaps one (VERDICT r8 #6)
    "novelty_scores",
    # r9: word_kcore peels the bigram-vocab edge list — vocab-grain by
    # construction, so the growing-vocabulary decade is the honest one
    "word_kcore",
    # r10 queue: rm3 joins the tf table against a query-vocab frame
    # (df table is vocab-grain) and lsh_quality is shingle-grain — both
    # in the family the frozen-vocab decade is adversarial for
    "rm3_expanded_search",
    "lsh_quality_report",
)


def build_scale10_heaps() -> None:
    """10x documents with vocabulary growing per Heaps' law
    (V ∝ n^0.7): copy k>0 replaces ~20% of word occurrences with types
    from a per-copy NEW-token pool sized so the union vocabulary hits
    V0·10^0.7. The shuffle decade (build_scale10) preserves vocabulary
    exactly — right for corpus-grain costs, blind to vocab-grain ones;
    this is the corpus shape a growing real crawl has (new vocab arrives
    as tail types with real occurrence mass)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(HEAPS_DIR, exist_ok=True)
    for f in os.listdir(SRC_SF):
        if f != "documents.parquet":
            shutil.copy(os.path.join(SRC_SF, f), os.path.join(HEAPS_DIR, f))
    t = pq.read_table(os.path.join(SRC_SF, "documents.parquet"))
    rows = t.to_pylist()
    n0 = len(rows)
    v0 = len({w for r in rows for w in r["text"].split(" ") if w})
    v_new_total = int(v0 * (10.0**HEAPS_BETA - 1.0))
    per_copy = max(1, v_new_total // 9)
    out = []
    for k in range(10):
        for r in rows:
            if k == 0:
                out.append(r)
                continue
            rng = random.Random(r["doc_id"] * 101 + k)
            words = [
                f"hx{k}w{rng.randrange(per_copy)}"
                if w and rng.random() < 0.2
                else w
                for w in r["text"].split(" ")
            ]
            rng.shuffle(words)
            text = " ".join(words)
            out.append(
                {
                    "doc_id": r["doc_id"] + k * n0,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )
    big = pa.Table.from_pylist(out, schema=t.schema)
    pq.write_table(
        big, os.path.join(HEAPS_DIR, "documents.parquet"),
        row_group_size=5000,
    )
    v1 = len({w for r in out for w in r["text"].split(" ") if w})
    print(
        f"scale10-heaps built: {len(out)} docs, vocab {v0} -> {v1} "
        f"(target x{10.0**HEAPS_BETA:.2f}, actual x{v1 / v0:.2f})",
        flush=True,
    )


def build_scale100() -> None:
    """500k-doc slice: the scale10 recipe with 100 seeded shuffle
    copies (marginals preserved, copies mutually non-near-dup); only
    documents — the doc-grain flagships don't read other tables, which
    are copied from sf0.1 so loaders resolve."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(SCALE100_DIR, exist_ok=True)
    for f in os.listdir(SRC_SF):
        if f != "documents.parquet":
            shutil.copy(
                os.path.join(SRC_SF, f), os.path.join(SCALE100_DIR, f)
            )
    t = pq.read_table(os.path.join(SRC_SF, "documents.parquet"))
    rows = t.to_pylist()
    n0 = len(rows)
    writer = pq.ParquetWriter(
        os.path.join(SCALE100_DIR, "documents.parquet"), t.schema
    )
    for k in range(100):
        out = []
        for r in rows:
            if k == 0:
                out.append(r)
                continue
            words = r["text"].split(" ")
            rng = random.Random(r["doc_id"] * 37 + k)
            rng.shuffle(words)
            text = " ".join(words)
            out.append(
                {
                    "doc_id": r["doc_id"] + k * n0,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )
        writer.write_table(pa.Table.from_pylist(out, schema=t.schema))
    writer.close()
    print(f"scale100 built: {100 * n0} docs", flush=True)


SCALE1000_QUERIES = (
    # fourth decade (5M docs) for the two VERDICT-watched doc-grain
    # flagships only — three measured decades make the exponent a
    # curve, not a line through two points
    "novelty_scores",
    "dhash_near_dup_report",
)


def build_scale1000() -> None:
    """5M-doc slice: the scale100 recipe with 1000 seeded shuffle
    copies, streamed to the parquet writer batch-by-batch (~1.5 GB)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(SCALE1000_DIR, exist_ok=True)
    for f in os.listdir(SRC_SF):
        if f != "documents.parquet":
            shutil.copy(
                os.path.join(SRC_SF, f), os.path.join(SCALE1000_DIR, f)
            )
    t = pq.read_table(os.path.join(SRC_SF, "documents.parquet"))
    rows = t.to_pylist()
    n0 = len(rows)
    writer = pq.ParquetWriter(
        os.path.join(SCALE1000_DIR, "documents.parquet"), t.schema
    )
    for k in range(1000):
        out = []
        for r in rows:
            if k == 0:
                out.append(r)
                continue
            words = r["text"].split(" ")
            rng = random.Random(r["doc_id"] * 37 + k)
            rng.shuffle(words)
            text = " ".join(words)
            out.append(
                {
                    "doc_id": r["doc_id"] + k * n0,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )
        writer.write_table(pa.Table.from_pylist(out, schema=t.schema))
    writer.close()
    print(f"scale1000 built: {1000 * n0} docs", flush=True)


def main() -> None:
    reps = int(os.environ.get("SCALE_REPS", "3"))
    _ensure_corpus(SCALE_DIR, build_scale10)

    from logstream_processing_service_spark.catalog import all_specs
    from logstream_processing_service_spark.session import get_spark, scratch_dir
    from logstream_processing_service_spark.sources import load_table

    spark = get_spark(app_name="scaling-study")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {s.name: s for s in all_specs()}
    extras = _extra_queries()

    load_table(spark, SRC_SF, "documents").count()  # JVM warm-up

    from bench import time_query

    def run(name: str, sf_dir: str) -> float:
        fn = specs[name].fn if name in specs else extras[name]
        return min(time_query(spark, name, fn, sf_dir) for _ in range(reps))

    def run_matview_refresh(sf_dir: str) -> float:
        """Time ONE incremental refresh of a FIXED 10k-row delta on top
        of a base table built from sf_dir's events — the O(delta) claim
        measured: the number should be ~flat across the 10x base step
        (alpha ~ 0), because refresh reads only the delta's files plus
        the KB-sized stored view."""
        from pyspark.sql import functions as F

        from logstream_processing_service_spark.operators import txlog as TX
        from logstream_processing_service_spark.operators.matview import (
            ViewSpec,
            refresh_matview,
        )

        spec_ = ViewSpec(
            group_cols=("event_type",),
            sum_cols=("value",),
            minmax_cols=("user_id",),
        )
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value", "user_id"
        )
        delta = ev.limit(10_000).drop("event_id")
        best = float("inf")
        for _ in range(reps):
            base = scratch_dir("scale_mv")
            tdir, vdir = f"{base}/t", f"{base}/v"
            TX.commit(tdir, ev.drop("event_id"), mode="overwrite")
            refresh_matview(spark, vdir, tdir, spec_)  # full, untimed
            TX.commit(tdir, delta, mode="append")
            t0 = time.perf_counter()
            info = refresh_matview(spark, vdir, tdir, spec_)
            best = min(best, time.perf_counter() - t0)
            assert info["mode"] == "incremental", info
            shutil.rmtree(base, ignore_errors=True)
        return round(best, 3)

    # SCALE_100=1: add a third decade (500k docs) for the doc-grain
    # flagships — two measured decades make the sub-linear exponents a
    # trend, not a point estimate. Events are not 100x'd (doc queries
    # only; the slice reuses the scale10 recipe with 100 copies).
    hundred = os.environ.get("SCALE_100") == "1"
    if hundred:
        _ensure_corpus(SCALE100_DIR, build_scale100)

    # SCALE_1000=1: a FOURTH decade (5M docs) for the flagship pair
    thousand = os.environ.get("SCALE_1000") == "1"
    if thousand:
        _ensure_corpus(SCALE1000_DIR, build_scale1000)

    # SCALE_HEAPS=1: a vocab-GROWTH decade (V ∝ n^0.7) for the
    # vocab-grain operators whose shuffle-decade exponents are blind to
    # type-inventory growth (r6 VERDICT #4)
    heaps = os.environ.get("SCALE_HEAPS") == "1"
    if heaps:
        _ensure_corpus(HEAPS_DIR, build_scale10_heaps)

    # SCALE_ONLY=a,b,c restricts the run (e.g. just the third-decade set)
    only = os.environ.get("SCALE_ONLY")
    queries = (
        [q for q in QUERIES if q in set(only.split(","))] if only else QUERIES
    )

    table: dict[str, dict] = {}
    for name in queries:
        r = {
            "sf0.01": run(name, "/root/testdata/sf0.01"),
            "sf0.1": run(name, SRC_SF),
            "scale10": run(name, SCALE_DIR),
        }
        r["alpha_10x"] = round(
            math.log(r["scale10"] / r["sf0.1"]) / math.log(10.0), 3
        )
        if hundred and name in SCALE100_QUERIES:
            r["scale100"] = run(name, SCALE100_DIR)
            r["alpha_100x"] = round(
                math.log(r["scale100"] / r["scale10"]) / math.log(10.0), 3
            )
        if thousand and name in SCALE1000_QUERIES:
            r["scale1000"] = run(name, SCALE1000_DIR)
            if "scale100" in r:
                r["alpha_1000x"] = round(
                    math.log(r["scale1000"] / r["scale100"])
                    / math.log(10.0), 3
                )
        if heaps and name in HEAPS_QUERIES:
            r["heaps10"] = run(name, HEAPS_DIR)
            r["alpha_heaps"] = round(
                math.log(r["heaps10"] / r["sf0.1"]) / math.log(10.0), 3
            )
        table[name] = r
        print(json.dumps({name: r}), flush=True)

    if not only:
        r = {
            "sf0.1": run_matview_refresh(SRC_SF),
            "scale10": run_matview_refresh(SCALE_DIR),
        }
        r["alpha_10x"] = round(
            math.log(r["scale10"] / r["sf0.1"]) / math.log(10.0), 3
        )
        table["matview_refresh_delta10k"] = r
        print(json.dumps({"matview_refresh_delta10k": r}), flush=True)

    # SCALE_PAGERANK=1: edge decade for the pagerank ITERATION claim
    # (r13: one exchange per power step; r14: caller-owned cache
    # lifecycle). part_pagerank's input table (lineitem) is not 10x'd in
    # the shuffle decade, so the operator is measured directly: edges =
    # co_order_edges(sf0.1 lineitem), and the 10x point unions 9 offset
    # copies (node ids + k·max_id) — ten disjoint copies of the same
    # graph, so |V| and |E| scale exactly 10x with identical structure.
    # Edges are localCheckpointed before timing: the claim under test is
    # the 8-iteration power loop, not the edge build (bench.py times the
    # full declared query; this isolates the iterations).
    if os.environ.get("SCALE_PAGERANK") == "1":
        from pyspark.sql import functions as F

        from logstream_processing_service_spark.operators.graph import (
            co_order_edges,
            pagerank,
        )

        li = load_table(spark, SRC_SF, "lineitem")
        e1 = co_order_edges(li).localCheckpoint()
        top = e1.agg(F.max(F.greatest("src", "dst"))).collect()[0][0]
        assert top is not None, (
            f"SCALE_PAGERANK: no co-order edges in {SRC_SF}/lineitem"
        )
        mx = top + 1
        e10 = e1
        for kk in range(1, 10):
            e10 = e10.unionByName(
                e1.select(
                    (F.col("src") + kk * mx).alias("src"),
                    (F.col("dst") + kk * mx).alias("dst"),
                )
            )
        e10 = e10.localCheckpoint()

        def run_pr(edges) -> float:
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                pagerank(edges, symmetric=True).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            return round(best, 3)

        r = {"edges_1x": run_pr(e1), "edges_10x": run_pr(e10)}
        r["alpha_10x"] = round(
            math.log(r["edges_10x"] / r["edges_1x"]) / math.log(10.0), 3
        )
        table["pagerank_iterations_edge_decade"] = r
        print(json.dumps({"pagerank_iterations_edge_decade": r}), flush=True)
    print(json.dumps(table), flush=True)


if __name__ == "__main__":
    main()
