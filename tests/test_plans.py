"""Physical-plan shape tests: the scale guarantees the docstrings claim must
actually show up in the executed plan (pushdown, broadcast, partial agg, no
cartesian products). A regression here is a 100 TB regression even when the
sf0.001 numbers still look fine.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _events(spark):
    from logstream_processing_service_spark.sources import load_table

    return load_table(spark, SF_DIR, "events")


def test_scan_slice_pushes_predicates(spark):
    from logstream_processing_service_spark.operators.relational import scan_slice

    plan = _plan(scan_slice(_events(spark)).select("event_id", "event_type"))
    assert "PushedFilters" in plan
    # the id-range and IN-list predicates reach the parquet scan
    assert "GreaterThanOrEqual(event_id" in plan
    assert "In(event_type" in plan


def test_log_templates_prunes_columns(spark):
    from logstream_processing_service_spark.operators.relational import log_templates

    plan = _plan(log_templates(_events(spark)))
    # the parquet scan's output column list must not include value/ts
    scan_line = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    cols = scan_line.split("[", 2)[1].split("]")[0]
    read = {c.split("#")[0] for c in cols.split(",")}
    assert read == {"event_id", "user_id", "event_type", "props"}


def test_mine_patterns_is_one_aggregate(spark):
    from logstream_processing_service_spark.operators.relational import mine_patterns

    plan = _plan(mine_patterns(_events(spark)))
    # the first row rides through the aggregate: no join back to it
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1


def test_pricing_summary_partial_aggregation(spark):
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    df = specs["pricing_summary"].fn(spark, SF_DIR)
    plan = _plan(df)
    # map-side combine: HashAggregate appears as partial+final pair
    assert plan.count("HashAggregate") >= 2
    # the shipdate filter reaches the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_nearest_centroid_no_shuffle_of_fact_side(spark):
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    lines = _plan(specs["nearest_centroid"].fn(spark, SF_DIR)).splitlines()
    # the centroids are broadcast as one row and every embedding takes its
    # argmin in place: the embeddings side is neither exchanged nor windowed
    at = next(i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln)
    col = lines[at].index("BroadcastNestedLoopJoin")
    fact_side = list(
        itertools.takewhile(lambda ln: ln[col:col + 1] == ":", lines[at + 1:])
    )
    assert fact_side and "Scan" in "\n".join(fact_side)
    assert not any("Exchange" in ln for ln in fact_side)
    assert not any("Window" in ln for ln in lines)


def test_anomaly_flags_on_one_partition_shuffle_nothing(spark, tmp_path):
    """The anomaly pass reads its history as one partition: every window
    of the features and the flags is then met without an exchange, and
    the batch statistics are joined in by no nested-loop join."""
    from logstream_processing_service_spark.operators import relational as R

    path = str(tmp_path / "history")
    R.batch_volume(_events(spark)).write.parquet(path)
    history = spark.read.parquet(path).coalesce(1)
    plan = _plan(R.flag_anomalies(R.volume_zscore(history)))
    assert "Window" in plan
    assert "Exchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_paths_never_cartesian(spark):
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    for name in ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
                 "embedding_near_dup_lsh"]:
        plan = _plan(specs[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_incident_upsert_uses_semi_anti_joins(spark):
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["incident_upsert_split"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_sessionize_single_exchange_per_key(spark):
    from logstream_processing_service_spark.operators.relational import sessionize

    plan = _plan(sessionize(_events(spark)))
    # the window pass and the session aggregation share the user_id
    # hash-partitioning: exactly one exchange on user_id in the plan
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len([l for l in exchanges if "user_id" in l]) == 1


def _ivfpq_codes(spark, path):
    """The package's partitioned parquet layout: the IVF+PQ codes table
    ``build_ivfpq_index`` writes PARTITIONED BY bucket (the registered
    ``ann_ivfpq_index`` query's storage). Returns the coarse centroids."""
    from logstream_processing_service_spark.operators.similarity import (
        build_ivfpq_index,
        label_centroids,
    )
    from logstream_processing_service_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = label_centroids(emb)
    build_ivfpq_index(emb, cents, path, m=8, n_centroids=16)
    return cents


def test_partitioned_layout_prunes(spark, tmp_path):
    """Partitioned sink + a partition-key predicate => directory-level
    pruning (PartitionFilters), the layout contract for 100 TB."""
    from logstream_processing_service_spark.plans import (
        partition_filters,
        scan_columns,
    )

    path = str(tmp_path / "ivfpq")
    _ivfpq_codes(spark, path)
    codes = spark.read.parquet(path)
    bucket = codes.select("bucket").first()["bucket"]
    back = codes.filter(F.col("bucket") == bucket).select("vec_id")
    assert "bucket" in partition_filters(back)
    # pruned read touches only the needed data column (+ the partition
    # column itself, which is directory metadata, not file IO)
    assert scan_columns(back) == {"vec_id", "bucket"}
    # and the result matches a read of that partition's directory alone
    want = spark.read.parquet(f"{path}/bucket={bucket}").count()
    assert back.count() == want > 0


def test_plan_helpers_roundtrip(spark):
    from logstream_processing_service_spark.operators.relational import (
        mine_patterns,
        scan_slice,
    )
    from logstream_processing_service_spark.plans import (
        count_exchanges,
        has_cartesian,
        pushed_filters,
    )

    assert "event_id" in pushed_filters(scan_slice(_events(spark)))
    assert not has_cartesian(mine_patterns(_events(spark)))
    assert count_exchanges(mine_patterns(_events(spark))) >= 1


def test_salted_join_matches_plain_join(spark):
    from logstream_processing_service_spark.operators.relational import salted_join

    ev = _events(spark).select("event_id", "user_id", "event_type")
    dim = (
        _events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    plain = ev.join(dim, "user_id").select("event_id", "user_total")
    salted = salted_join(ev, dim, "user_id", salt_col_source="event_id").select(
        "event_id", "user_total"
    )
    assert plain.count() == salted.count()
    diff = plain.exceptAll(salted).count() + salted.exceptAll(plain).count()
    assert diff == 0
    # the join key actually includes the salt
    plan = _plan(salted)
    assert "_salt" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: both sides bucketed by the join key => zero shuffle
    exchanges in the join plan (the 100 TB co-location strategy)."""
    ev = _events(spark).select("event_id", "user_id", "event_type")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    spark.sql("DROP TABLE IF EXISTS dim_bucketed")
    (
        ev.write.format("parquet")
        .option("path", str(tmp_path / "ev_b"))
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable("ev_bucketed")
    )
    (
        dim.write.format("parquet")
        .option("path", str(tmp_path / "dim_b"))
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable("dim_bucketed")
    )
    joined = spark.table("ev_bucketed").join(
        spark.table("dim_bucketed").hint("merge"), "user_id"
    )
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == ev.count()
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    spark.sql("DROP TABLE IF EXISTS dim_bucketed")


def test_brand_priciest_part_single_exchange(spark):
    """max_by arg-max must stay ONE hash agg (partial+final, one shuffle) —
    no window exec, no second exchange."""
    from logstream_processing_service_spark.catalog import all_specs
    from logstream_processing_service_spark.plans.inspect import count_exchanges

    specs = {s.name: s for s in all_specs()}
    df = specs["brand_priciest_part"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert count_exchanges(df) <= 2  # one hash-partition agg + final sort
    # struct-keyed max_by plans as SortAggregate; partial+final combine
    # still applies (the 100 TB property: pre-shuffle reduction per brand)
    assert "partial_max_by" in plan


def test_promo_revenue_broadcasts_part(spark):
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["promo_revenue"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # shipdate slice reaches the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_part_value_share_reuses_aggregate(spark):
    """The per-part aggregate feeds both the threshold scalar and the
    output rows; the scalar side joins back as a broadcast, never a
    cartesian re-scan of the fact table."""
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["part_value_share"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row threshold side


def test_grouping_sets_one_exchange(spark):
    from logstream_processing_service_spark.catalog import all_specs
    from logstream_processing_service_spark.plans.inspect import count_exchanges

    specs = {s.name: s for s in all_specs()}
    df = specs["grouping_sets_volume"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 1  # Expand feeds ONE shuffle for both sets
    assert "Expand" in _plan(df)


def test_decontaminate_no_cartesian(spark):
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["decontaminate_report"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_single_hash_pass_no_window(spark):
    """First-occurrence attribution comes from the encoded order key, so
    the plan must hash/explode the paragraph stream exactly ONCE (per-doc
    totals are an in-row size()), use no Window over the paragraph hash,
    and join only at doc grain."""
    from logstream_processing_service_spark.operators.dedup import paragraph_dedup
    from .conftest import SF_DIR
    from logstream_processing_service_spark.sources.tables import load_table

    df = paragraph_dedup(
        load_table(spark, SF_DIR, "documents"), mode="block", block_words=10
    )
    plan = _plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate posexplode") == 1


def test_c4_and_gopher_reports_zero_exchange(spark):
    """Per-document report queries are pure scan projections."""
    from logstream_processing_service_spark.operators.curation import (
        c4_line_stats,
        gopher_filter_report,
    )
    from .conftest import SF_DIR
    from logstream_processing_service_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for df in (c4_line_stats(docs), gopher_filter_report(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan


def test_cheapest_supplier_per_part_single_agg(spark):
    """The decorrelated min_by form must stay ONE aggregation: at most 2
    exchanges (partial+final agg shuffle; AQE may add a read), no Window,
    no join — the r2 re-plan (4.16s→0.69s) must not silently regress."""
    from logstream_processing_service_spark.catalog import all_specs
    from logstream_processing_service_spark.plans.inspect import count_exchanges

    specs = {s.name: s for s in all_specs()}
    df = specs["cheapest_supplier_per_part"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert count_exchanges(df) <= 2
    assert "partial_min_by" in plan


def test_single_failed_supplier_orders_no_self_join(spark):
    """EXISTS/NOT-EXISTS decorrelation must stay window-over-one-agg: the
    lineitem fact is scanned ONCE and never self-joined."""
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["single_failed_supplier_orders"].fn(spark, SF_DIR))
    assert "Join" not in plan
    scan_count = sum(
        1 for l in plan.splitlines() if "FileScan parquet" in l
    )
    assert scan_count == 1
    assert "TakeOrderedAndProject" in plan


def test_duplicate_spans_single_md5_scan(spark):
    """min_docs=2 duplicate_spans materializes the shingle stream once:
    both consumers (per-doc totals, span-df attribution) must read the
    cache (InMemoryTableScan), so the md5 word-hash subtree executes
    exactly once — the r3 single-scan re-plan must not regress."""
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    df = specs["duplicate_spans"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") == 2
    # no md5 evaluation OUTSIDE the cached subtree: the toString prints
    # each InMemoryTableScan's cached child plan once (one md5 Project
    # line per cache print) — any md5 beyond one-per-cache-print would be
    # a live re-evaluation in a consumer branch
    lines = plan.splitlines()
    md5_idx = [i for i, l in enumerate(lines) if "md5" in l]
    imr_idx = [i for i, l in enumerate(lines) if "InMemoryRelation" in l]
    assert len(md5_idx) <= len(imr_idx)
    # and every md5 print sits below (nested under) a cache-relation line
    for i in md5_idx:
        assert any(j < i for j in imr_idx), lines[i]


def test_ann_pq_single_shuffle(spark):
    """PQ ADC: one exchange total (the per-query top-k window); the scan
    side never joins a fat LUT column."""
    from logstream_processing_service_spark.catalog import all_specs
    from .conftest import SF_DIR

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["ann_pq"].fn(spark, SF_DIR))
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, exchanges
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_keep_table_no_mandatory_broadcast(spark):
    """The decision table is O(corpus) rows on high-dup-fraction corpora
    (web crawls: 30–50% of docs live in near-dup clusters), so the
    corpus-side join must carry NO broadcast hint — AQE may still choose
    broadcast when the measured size is small, but nothing forces it.
    The assertion targets the analyzed logical plan: a user hint appears
    there as ResolvedHint before the optimizer folds it into the Join."""
    from logstream_processing_service_spark.operators.dedup import (
        dedup_keep_table,
    )
    from logstream_processing_service_spark.sources.tables import load_table
    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    out = dedup_keep_table(docs)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    # the corpus<-decided join is the root-most LeftOuter join; a user
    # broadcast hint would print inline on that Join node (rightHint=...).
    outer = next(
        l for l in optimized.splitlines() if "Join LeftOuter" in l
    )
    assert "hint" not in outer.lower(), outer


def test_quality_feature_matrix_zero_exchange_single_scan(spark):
    """The wide feature frame must stay a single-scan projection — a join
    of the per-family operators would shuffle the doc grain 3x."""
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    plan = _plan(specs["quality_feature_matrix"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1


def test_scd2_single_exchange(spark):
    """SCD2 runs ONE user_id exchange; lag + lead/row_number share it."""
    from logstream_processing_service_spark.operators.relational import scd2_history

    plan = _plan(scd2_history(_events(spark)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    # column pruning: the scan never reads value/props
    scan_line = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    assert "value" not in scan_line and "props" not in scan_line


def test_range_join_bucketed_is_equi_join(spark):
    """The bucketized overlap join must plan as a hash equi-join on the
    bucket key — never BroadcastNestedLoop/Cartesian on the range
    predicate (the thing that dies with two large sides)."""
    from logstream_processing_service_spark.catalog import all_specs

    specs = {s.name: s for s in all_specs()}
    df = specs["events_in_windows_bucketed"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the join on _bucket is a hash join (broadcast or shuffled — AQE
    # picks; either is an equi-join, which is the property under test)
    assert "HashJoin" in plan
    joins = [l for l in plan.splitlines() if "NestedLoop" in l]
    assert not joins, joins


def test_dynamic_partition_pruning_on_bucket_layout(spark, tmp_path):
    """Partitioned fact + selective dim filter ⇒ Spark injects a
    dynamicpruning subquery into the fact scan's PartitionFilters — the
    runtime companion to static partition pruning: at 100 TB the fact
    directories for non-qualifying buckets are never listed, driven by
    the dim filter's runtime values."""
    path = str(tmp_path / "ivfpq")
    cents = _ivfpq_codes(spark, path)
    fact = spark.read.parquet(path)
    dim = cents.select(F.col("label").alias("bucket")).withColumn(
        "is_hot", F.col("bucket") % 3 == 0
    )
    joined = fact.join(dim.filter("is_hot"), "bucket").groupBy(
        "bucket"
    ).count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the join itself stays a broadcast hash join on the partition key
    assert "BroadcastHashJoin" in plan


def test_bm25_broadcasts_query_terms(spark):
    """BM25's postings probe must be a broadcast of the tiny query-term
    frame onto the corpus tf table — a shuffled join on `tok` would
    exchange the whole inverted index for a handful of query terms."""
    from logstream_processing_service_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(bm25_topk(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the corpus text is scanned once: tf, dl and df all derive from one
    # tokenization subtree (Catalyst may re-scan for independent aggs, but
    # the scan must only read the needed columns)
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            assert "lang" not in line and "source" not in line


def test_chunk_documents_zero_exchange(spark):
    """Chunking is a pure in-row expansion: no shuffle anywhere."""
    from logstream_processing_service_spark.operators.retrieval import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(chunk_documents(docs))
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1


def test_fuzzy_pairs_no_cartesian(spark):
    """The delete-neighborhood join must stay an equi-join on the variant
    key — the quadratic form (the oracle) must never appear in the plan."""
    from logstream_processing_service_spark.operators.matching import fuzzy_pairs

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    plan = _plan(fuzzy_pairs(cust, "c_custkey", "c_name", max_ed=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_pagerank_iteration_no_cartesian(spark):
    """Each PageRank step must stay an equi-join + keyed agg."""
    from logstream_processing_service_spark.operators.graph import (
        co_order_edges,
        pagerank,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = pagerank(co_order_edges(li), n_iter=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_dsir_broadcasts_ratio_table(spark):
    """DSIR's per-doc weight join must broadcast the B-row log-ratio
    side, never shuffle the corpus-grain feature frame against it."""
    from logstream_processing_service_spark.operators.curation import (
        dsir_weights,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dsir_weights(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_resample_ffill_broadcast_grid(spark):
    """The grid build is a broadcast of the 1-row bounds onto the
    distinct-type frame — no shuffled cross join, no cartesian blowup."""
    from logstream_processing_service_spark.operators.relational import (
        resample_ffill,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(resample_ffill(ev))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bounds frame


def test_funnel_dup_ratio_single_md5_binding(spark, sf_dir):
    """Regression pin for the r5 funnel blowup: predicate pushdown inlines
    withColumn aliases into filter predicates unconditionally, so the
    md5 word-hash array was re-evaluated per shingle element per
    reference — O(len²) per doc, 156s at sf0.1 for a 5k-doc filter. The
    let-binding (functions/text.py let_sql) keeps exactly ONE md5(...)
    subtree in the optimized plan of every dup-ratio consumer."""
    from logstream_processing_service_spark.operators.curation import (
        curation_funnel,
    )
    from logstream_processing_service_spark.operators.textanalysis import (
        repetition_scores,
    )
    from logstream_processing_service_spark.plans.inspect import (
        physical_plan,
    )
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (curation_funnel(docs), repetition_scores(docs)):
        plan = physical_plan(df)
        assert plan.count("md5(") <= 1, plan


def test_cm_registry_plan_broadcast_only_joins(spark):
    """CM build/merge/estimate never sort-merge-join: the depth table is
    a broadcast nested loop, the merged sketch a broadcast hash join;
    the only exchanges are the registry's grouped counts."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.sketches import (
        cm_daily_registry,
        cm_estimate,
        cm_merge,
    )

    ev = _events(spark)
    merged = cm_merge(cm_daily_registry(ev))
    items = ev.select(
        F.col("event_type").alias("key"),
        F.col("user_id").cast("string").alias("item"),
    ).distinct()
    plan = _plan(cm_estimate(merged, items))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_session_gap_sweep_single_window_exchange(spark):
    """One actor-keyed exchange (the lag window) + the singleton final
    aggregate — NOT one shuffle per candidate gap."""
    from logstream_processing_service_spark.operators.relational import (
        session_gap_sweep,
    )

    plan = _plan(session_gap_sweep(_events(spark)))
    # hashpartitioning on the actor key appears exactly once
    assert plan.count("hashpartitioning(user_id") == 1
    assert "SortMergeJoin" not in plan


def test_bloom_index_build_single_aggregation(spark, tmp_path):
    """Bloom build: one scan + one grouped collect_set with partial
    (ObjectHashAggregate) map-side combine; no join at all."""
    from logstream_processing_service_spark.operators.maintenance import (
        build_bloom_file_index,
    )

    out = str(tmp_path / "ev")
    _events(spark).select("event_id", "user_id").repartition(4).write.parquet(out)
    plan = _plan(build_bloom_file_index(spark, out, "user_id"))
    assert "Join" not in plan
    # partial_collect_set before the exchange = map-side dedup
    assert "partial_collect_set" in plan or "ObjectHashAggregate" in plan


def test_incremental_components_remap_is_single_pass(spark, tmp_path):
    """The assignment remap joins are plain hash joins at delta grain —
    no iteration, no cartesian."""
    from logstream_processing_service_spark.operators.graph import (
        incremental_components,
    )
    from logstream_processing_service_spark.operators import txlog as TX

    d = str(tmp_path / "assign")
    incremental_components(
        spark, d, spark.createDataFrame([(1, 2), (3, 4)], "d1 long, d2 long")
    )
    incremental_components(
        spark, d, spark.createDataFrame([(2, 3)], "d1 long, d2 long")
    )
    plan = _plan(TX.read_snapshot(spark, d))
    assert "Scan parquet" in plan  # assignment is served from the snapshot


def test_cohort_retention_single_user_shuffle(spark):
    """The collect_set formulation pays ONE user-keyed exchange; the naive
    first-activity self-join shape would pay two."""
    from logstream_processing_service_spark.operators.trends import (
        cohort_retention,
    )

    plan = _plan(cohort_retention(_events(spark)))
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_event_transitions_single_sequence_exchange(spark):
    """One user-keyed sort (the lag window) + the tiny pair-grain agg."""
    from logstream_processing_service_spark.operators.trends import (
        event_transitions,
    )

    plan = _plan(event_transitions(_events(spark)))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "SortMergeJoin" not in plan


def test_volume_trend_no_window_no_join(spark):
    """Closed-form regression from integer moment sums: two grouped
    aggregations (daily grain -> type grain), both with map-side partials;
    no window, no join."""
    from logstream_processing_service_spark.operators.trends import volume_trend

    plan = _plan(volume_trend(_events(spark)))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan or "partial_sum" in plan


def test_cusum_daily_grain_before_windows(spark):
    """The per-day reduction happens BEFORE the per-type windows, so the
    window input is |days| rows per type, not raw events."""
    from logstream_processing_service_spark.operators.trends import (
        cusum_changepoints,
    )

    plan = _plan(cusum_changepoints(_events(spark)))
    assert "Join" not in plan
    # daily-grain partial aggregation reaches the map side
    assert "partial_count" in plan


def test_ohlc_single_aggregation(spark):
    """min_by/max_by in ONE grouped agg: exactly one exchange, no Window
    operator — the first/last-needs-a-window trap avoided."""
    from logstream_processing_service_spark.operators.trends import ohlc_bars

    plan = _plan(ohlc_bars(_events(spark)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_funnel_single_sort_no_joins(spark):
    """Both prefix-test windows share one user-keyed sort; the naive
    k-stage formulation would chain k self-joins."""
    from logstream_processing_service_spark.operators.trends import (
        funnel_conversion,
    )

    plan = _plan(funnel_conversion(_events(spark)))
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1
    # the two stacked Window passes reuse the sort: exactly one Sort
    # whose keys are the sequence order
    assert plan.count("Sort [user_id") == 1


def test_rolling_distinct_day_grain_before_window(spark):
    """Events reduce to per-(type, day) SETS before the range window —
    shuffle payload is daily actives, not events; partial aggregation
    reaches the map side."""
    from logstream_processing_service_spark.operators.trends import (
        rolling_distinct_users,
    )

    plan = _plan(rolling_distinct_users(_events(spark)))
    assert "Join" not in plan
    assert "partial_collect_set" in plan
    # one exchange for the daily grain, one for the per-type window
    assert plan.count("Exchange hashpartitioning") == 2


def test_token_pmi_no_cartesian(spark):
    """Margins join at vocab grain (hash joins), totals broadcast as
    1-row scalars (BroadcastNestedLoopJoin is the broadcast crossJoin,
    not a data-grain cartesian)."""
    from logstream_processing_service_spark.operators.textanalysis import (
        token_pmi,
    )

    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(token_pmi(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the two scalar totals


def test_maxsim_broadcasts_queries_and_combines_before_exchange(spark):
    from logstream_processing_service_spark.operators.retrieval import (
        maxsim_topk,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(maxsim_topk(docs))
    # the literal query frame rides a broadcast, never a shuffle-side
    # cartesian: the cross join must be BNLJ with a broadcast build
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the per-(query, qtok, doc) MAX has a partial combine before its
    # exchange, so raw token-pair rows never shuffle
    import re as _re

    first_agg = plan.index("HashAggregate")
    assert "partial_max" in plan[first_agg - 2000 : first_agg + 2000] or (
        _re.search(r"HashAggregate.*partial.*max", plan) is not None
    )


def test_seasonal_decompose_scans_events_once(spark):
    from logstream_processing_service_spark.operators.trends import (
        seasonal_decompose,
    )

    plan = _plan(seasonal_decompose(_events(spark)))
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_mad_anomaly_no_cartesian_and_single_scan_base(spark):
    from logstream_processing_service_spark.operators.analytics import (
        mad_anomaly,
    )

    plan = _plan(mad_anomaly(_events(spark)))
    assert "CartesianProduct" not in plan


def test_dictmatch_single_scan_no_cartesian(spark):
    from logstream_processing_service_spark.operators.dictmatch import (
        DICT_TERMS,
        dictionary_match_counts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dictionary_match_counts(docs, list(DICT_TERMS)))
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_routed_maxsim_broadcasts_anchor_and_probe_sides(spark):
    from logstream_processing_service_spark.operators.retrieval import (
        maxsim_topk_routed,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(maxsim_topk_routed(docs))
    # the anchor cross joins and the probe join must all ride
    # broadcasts; nothing may fall back to a shuffle cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_compression_quality_single_scan(spark):
    from logstream_processing_service_spark.operators.textanalysis import (
        compression_quality,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(compression_quality(docs))
    assert plan.count("FileScan parquet") == 1
    assert "ArrowEvalPython" in plan  # the deflate UDF is Arrow-batched
    assert "CartesianProduct" not in plan


def test_gif_stats_single_scan_zero_shuffle(spark):
    from logstream_processing_service_spark.operators.gifcodec import (
        gif_frame_pixel_stats,
        with_synthetic_gif_payload,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(
        gif_frame_pixel_stats(with_synthetic_gif_payload(docs))
    )
    assert plan.count("FileScan parquet") == 1
    # decode is embarrassingly parallel — the ONLY exchange is the
    # 8-bytes/row doc_id spread that fans the CPU-bound codec work
    # across tasks (the jpeg-lane discipline); payloads and decoded
    # stats never shuffle
    assert plan.count("Exchange") == 1
    scan_line = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    cols = scan_line.split("[", 2)[1].split("]")[0]
    assert {c.split("#")[0] for c in cols.split(",")} == {"doc_id"}


def test_token_communities_iteration_bounded_no_cartesian(spark):
    """Each LPA step must stay an equi-join + keyed agg over |edges|
    rows, with labels localCheckpointed per step so the FINAL plan does
    not grow with n_iter (r6 VERDICT #5 pin for the r7 registration)."""
    from logstream_processing_service_spark.operators.textanalysis import (
        token_communities,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(token_communities(docs, n_iter=4))
    assert "CartesianProduct" not in plan
    # checkpoint truncation: the visible plan holds the LAST step only —
    # exactly one edges-side parquet scan survives, not n_iter of them
    assert plan.count("FileScan parquet") <= 1


def test_resample_daily_broadcasts_spine(spark):
    """The generated day spine must ride a broadcast onto the daily
    aggregate, and the raw events collapse to day grain BEFORE any
    window (the hourly_resample_ffill discipline at day grain)."""
    from logstream_processing_service_spark.operators.trends import (
        resample_daily_volume,
    )

    plan = _plan(resample_daily_volume(_events(spark)))
    assert "CartesianProduct" not in plan
    # exactly two column-pruned event scans, both collapsing to day
    # grain immediately: one for the per-key min/max spine bounds, one
    # for the daily counts (the spine join itself is day-grain × day-
    # grain and rides a broadcast)
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastHashJoin" in plan
    # day-grain partial+final aggregate pair before the spine join
    assert "partial" in plan and "HashAggregate" in plan


def test_vocab_divergence_source_grid_after_vocab_aggregate(spark):
    """The sources² × union-vocab grid must form AFTER the token stream
    collapses to (source, token) counts — the corpus-sized explode
    never joins anything directly."""
    from logstream_processing_service_spark.operators.textanalysis import (
        vocab_divergence,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(vocab_divergence(docs))
    assert "CartesianProduct" not in plan
    # the vocab-grain count table is persisted: totals / vocab / V and
    # both grid arms read the CACHE (InMemoryTableScan), so the corpus
    # is scanned once no matter how many references the grid makes
    assert plan.count("InMemoryTableScan") >= 4
    assert "partial" in plan  # map-side combine on the token count


def test_zipf_fit_takeordered_no_global_sort(spark):
    """Top-500 selection must be TakeOrdered (partial top-k per
    partition), never a full vocab sort, and the moment sums reduce a
    500-row frame."""
    from logstream_processing_service_spark.operators.textanalysis import (
        zipf_fit,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(zipf_fit(docs))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FileScan parquet") == 1


def test_containment_prefix_filter_and_shingle_reuse(spark):
    """dedup_containment's scale story: candidate pairs come from the
    PPJoin rarest-prefix (the exact-integer ceil bound, r7 ADVICE) —
    never the full df² inverted-index join — and the persisted shingle
    table feeds all four plan references (sizes, df, inverted index,
    pair intersection) from memory instead of four corpus scans."""
    from logstream_processing_service_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = shingle_containment_pairs(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the exact-integer prefix bound (ceil of the rounded product)
    # survives into the executed plan — a regression to the float
    # floor((1-t)*n) form loses the ceil
    assert "CEIL" in plan.upper()
    assert "row_number" in plan
    # the persisted shingle table is reused, not re-derived per branch
    assert plan.count("InMemoryTableScan") >= 3
    spark.catalog.clearCache()


def test_web_funnel_shares_one_persisted_base(spark):
    """curate_web_corpus: the five stage counts all derive from ONE
    persisted (extract ⋈ parse) base — without the persist each
    stage-count branch re-scans the raw corpus (5 full passes at
    100 TB). Extraction and URL parsing are zero-shuffle, so the
    funnel's only exchanges are the two row_number windows + the
    doc_id equi-join."""
    from logstream_processing_service_spark.operators.webcorpus import (
        curate_web_corpus,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(curate_web_corpus(docs))
    assert "CartesianProduct" not in plan
    # one InMemoryTableScan per stage count — every branch reads the
    # cached base, none re-derives it (FileScan strings inside the
    # cached-relation DEFINITION repeat per branch in toString, so the
    # discriminating count is the InMemoryTableScan references)
    assert plan.count("InMemoryTableScan") >= 5
    spark.catalog.clearCache()


def test_normalize_text_zero_exchange_arrow_batched(spark):
    """The Unicode cleanup lane is per-row work with zero exchange and
    a single scan; NFKC itself needs Python's unicodedata, so the UDF
    must be the Arrow-batched form (ArrowEvalPython), never the
    row-at-a-time pickle path (BatchEvalPython)."""
    from logstream_processing_service_spark.operators.textnorm import (
        normalize_text,
        with_noisy_text,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(normalize_text(with_noisy_text(docs)))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("FileScan parquet") == 1


def test_attribution_single_user_exchange_no_self_join(spark):
    """purchase_attribution's scale claim: ONE user-keyed window pass —
    never the naive purchase×click self-join (quadratic per user). The
    plan has exactly one hash-partitioning exchange (user_id) plus the
    final presentation sort, and no join operator of any kind."""
    from logstream_processing_service_spark.operators.mining import (
        purchase_attribution,
    )

    plan = _plan(purchase_attribution(_events(spark)))
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_novelty_single_shingle_exchange_no_join(spark):
    """novelty_scores (r10 plan iteration): first-arrival is a
    min() OVER (PARTITION BY shingle) analytic on the shingle stream —
    ONE shingle-keyed exchange, NO min-aggregate + probe join, no
    persist (the groupBy+join plan re-shuffled the corpus-grain frame
    twice; measured 3.6 -> 3.1 s at sf0.1, 7.7 -> 5.6 s at 50k docs)."""
    from logstream_processing_service_spark.operators.dedup import (
        novelty_scores,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(novelty_scores(docs))
    assert "CartesianProduct" not in plan
    # no corpus-grain pair join survives; the only join left is
    # shingle_table's df-cap guard (a broadcast LeftAnti against the
    # tiny over-cap shingle list)
    for op in ("SortMergeJoin", "ShuffledHashJoin"):
        assert op not in plan, op
    assert plan.count("BroadcastHashJoin") == 1 and "LeftAnti" in plan
    assert "Window" in plan
    # two shingle-keyed exchanges: the cap-aggregate build side and the
    # first-arrival window (the r9 plan had a third for the probe join)
    assert plan.count("Exchange hashpartitioning(s#") == 2


def test_equidepth_no_global_exchange_single_rank_window(spark):
    """equidepth_bins: cut selection is ONE per-type rank window (no
    per-cut re-scan) and nothing in the plan funnels to a single
    partition (the global-ntile scale-killer)."""
    from logstream_processing_service_spark.operators.analytics import (
        equidepth_bins,
    )

    plan = _plan(equidepth_bins(_events(spark), n_bins=8))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("row_number()") == 1


def test_char_window_single_df_exchange_no_probe_join(spark):
    """char_window_dup_profile's plan iteration (r10 ROADMAP): the
    window doc-frequency is a count() OVER (PARTITION BY w) analytic,
    NOT a groupBy+probe-join — the corpus-grain (doc, window) frame is
    exchanged ONCE on the window key (then once more at doc grain for
    the rollup); the only join left is the doc-grain spine join.
    Measured 2x faster at sf0.1, 3.6x at 50k docs than the join plan."""
    from logstream_processing_service_spark.operators.dedup import (
        char_window_dup_profile,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(char_window_dup_profile(docs))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # window-key exchange + doc-grain rollup exchange + spine-join side(s);
    # the pre-optimization probe-join plan had TWO corpus-grain exchanges
    # on w (aggregate build + join probe) — pin that w appears once
    assert plan.count("hashpartitioning(w#") == 1


def test_manifest_diff_single_doc_join_no_text_shuffle(spark):
    """shard_manifest_diff: ONE doc-grain join (the full-outer id
    match), and the joined frame carries hashes/lengths — the text
    column must be projected away BEFORE the exchange (never shuffle
    two corpus texts to compare them)."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.curation import (
        shard_manifest_diff,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 2 != 0).select("doc_id", "text")
    plan = _plan(shard_manifest_diff(old, new))
    assert "CartesianProduct" not in plan
    assert plan.count("FullOuter") == 1
    # both sides compute their md5 hashes BELOW the join (scan-side
    # projection), so the exchanges carry (id, shard, hash, len) —
    # never the raw corpus text
    assert plan.count("md5(") >= 2


def test_prox_rerank_stage2_candidate_bounded(spark):
    """proximity_rerank: stage 2 re-reads only CANDIDATE docs — the
    second documents scan is gated by a broadcast left-semi join on
    the candidate id set, and the pairwise min-distance join is
    candidate-grain (broadcast), never a corpus SortMergeJoin."""
    from logstream_processing_service_spark.operators.retrieval import (
        proximity_rerank,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(proximity_rerank(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_retrieval_eval_qrel_pass_is_broadcast_no_cartesian(spark):
    """retrieval_eval_report: the pseudo-qrel pass is ONE corpus scan
    with the literal query frame BROADCAST (BroadcastNestedLoopJoin —
    a |Q|-row build side, in-row instr filter), never a shuffled
    CartesianProduct; the rerank stage keeps its broadcast left-semi
    candidate gate."""
    from logstream_processing_service_spark.operators.retrieval import (
        retrieval_eval_report,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(retrieval_eval_report(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftSemi" in plan
    # the shared tf table is persisted and read by both rankers
    assert plan.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()


def test_jaccard_sweep_shared_shingle_scan_tiny_final_window(spark):
    """jaccard_threshold_sweep: the capped shingle stream is persisted
    once for its three consumers (sizes + both inverted-index join
    sides — InMemoryTableScan x3), and the only single-partition stage
    is the 10-row decile cumulative window (band grain, bounded by
    construction)."""
    from logstream_processing_service_spark.operators.dedup import (
        jaccard_threshold_sweep,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(jaccard_threshold_sweep(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3
    assert plan.count("Exchange SinglePartition") == 1
    spark.catalog.clearCache()


def test_jaccard_sweep_registered_form_pins_sample_predicate(spark):
    """The CATALOG registration is the N-ADAPTIVE sampled form (r11
    verdict — the r11 fixed 0.3 fraction measured alpha_100x 1.6): the
    executed plan must derive the per-10000 threshold IN-PLAN from the
    corpus count (least(10000, round(1e4·sqrt(450/N))) — the shared
    adaptive_sweep_threshold_sql fragment, all-DOUBLE arithmetic) and
    apply the keyed-hash predicate BEFORE the shingle explode, so the
    pair space is p² of the doc sample, never the full corpus."""
    from logstream_processing_service_spark.queries_text import (
        q_jaccard_threshold_sweep,
    )

    plan = _plan(q_jaccard_threshold_sweep(spark, SF_DIR))
    # the in-plan N-adaptive threshold derivation, double end-to-end
    # (no decimal-division scale rules anywhere in the derivation)
    assert "least(10000, cast(round((10000.0 * SQRT" in plan
    assert "450.0" in plan and "decimal" not in plan.split("SQRT")[1][:120]
    assert "% 10000" in plan
    assert "CartesianProduct" not in plan
    # sample filter sits below the explode (filter-then-shingle, not
    # shingle-then-filter): the Generate node must appear ABOVE the
    # sample predicate in the plan tree dump
    gen = plan.index("Generate explode")
    pred = plan.index("least(10000")
    assert gen < pred  # toString prints parents first: explode above filter
    spark.catalog.clearCache()


def test_affix_profile_short_key_exchanges_no_cartesian(spark):
    """shared_affix_profile: the rung explode carries <= 64-char keys
    (never full text) into ONE affix-key window exchange plus the
    doc-grain rollup — no cartesian product, no single-partition stage
    anywhere (doc-grain output)."""
    from logstream_processing_service_spark.queries_text import (
        q_shared_affix_profile,
    )

    plan = _plan(q_shared_affix_profile(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Generate explode") == 1  # one rung explode, both sides
    spark.catalog.clearCache()


def test_doremi_weight_stage_is_dimension_grain(spark):
    """doremi_domain_weights: the (source, tok) count table is
    persisted once for its three consumers, and the only
    single-partition stages are the |domains|-row weight window and the
    1-row corpus total — nothing corpus-sized crosses the exp/normalize
    stage."""
    from logstream_processing_service_spark.queries_curation import (
        q_doremi_domain_weights,
    )

    plan = _plan(q_doremi_domain_weights(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3  # persisted counts reused
    assert plan.count("Exchange SinglePartition") <= 2
    spark.catalog.clearCache()


def test_bm25_incremental_reads_merged_files_no_cartesian(spark):
    """bm25_incremental_twin: the search runs on the merged txlog read
    (plain multi-file parquet scan), query terms broadcast onto the
    posting table, stats ride a 1-row broadcast — no cartesian
    product."""
    from logstream_processing_service_spark.queries_text import (
        q_bm25_incremental_twin,
    )

    plan = _plan(q_bm25_incremental_twin(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("Exchange SinglePartition") <= 1  # the 1-row stats agg
    spark.catalog.clearCache()


def test_lcp_neighbor_range_mode_plan_shape(spark):
    """lcp_neighbor_profile (registered mode="range" since r13): the
    corpus flows through ONE cached materialization (range exchange on
    the cap-width key + one narrow pid hash exchange, never full
    text); BOTH consumers — the boundary branch and the final join —
    must read that cache (two InMemoryTableScans), because re-deriving
    the frame would re-sample repartitionByRange boundaries
    independently and the boundary fix could patch the wrong rows. The
    only single-partition stage is the ≤2·P-row boundary frame; the
    boundary corrections come back via a broadcast join; zero
    cartesians. (Exchange counts in the plan string include the cached
    plan's echoed description, so they are not asserted directly.)"""
    from logstream_processing_service_spark.queries_text import (
        q_lcp_neighbor_profile,
    )

    plan = _plan(q_lcp_neighbor_profile(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") == 2
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan
    spark.catalog.clearCache()


def test_lcp_neighbor_first_char_single_bounded_exchange(spark):
    """The first_char operator mode (small-corpus / per-shard
    diagnostics form): ONE hash exchange carrying cap-width keys,
    in-partition sort, zero single-partition stages, zero
    cartesians."""
    from logstream_processing_service_spark.operators.dedup import (
        lcp_neighbor_profile,
    )
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(lcp_neighbor_profile(docs, mode="first_char"))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    spark.catalog.clearCache()


def test_rho1_vocab_cached_stream_never_shuffles(spark):
    """rho1_token_selection: the vocab aggregate is persisted for its
    three consumers (InMemoryTableScan reuse); the token stream takes
    a BROADCAST score lookup (never shuffles on wd); the only
    single-partition stages are 1-row scalar aggregates."""
    from logstream_processing_service_spark.queries_curation import (
        q_rho1_token_selection,
    )

    plan = _plan(q_rho1_token_selection(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3
    assert plan.count("BroadcastExchange") >= 3
    spark.catalog.clearCache()


def test_source_coverage_two_hash_aggregates_no_cartesian(spark):
    """source_coverage_report: the distinct (source, shingle) frame is
    persisted for its two consumers; the only single-partition stage is
    the 1-row corpus-inventory count; no cartesian product."""
    from logstream_processing_service_spark.queries_curation import (
        q_source_coverage_report,
    )

    plan = _plan(q_source_coverage_report(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("Exchange SinglePartition") <= 1
    spark.catalog.clearCache()


def test_merkle_diff_never_ships_text_no_single_partition(spark):
    """merkle_integrity_diff: each tree build reduces the scan to
    (shard, 8-byte rowhash) before any exchange — text never shuffles —
    and the node join is 73 rows a side: zero cartesians, zero
    single-partition stages."""
    from logstream_processing_service_spark.queries_curation import (
        q_merkle_integrity_diff,
    )

    plan = _plan(q_merkle_integrity_diff(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    spark.catalog.clearCache()


def test_merkle_update_patch_stages_tree_grain(spark):
    """merkle_tree_update: the only corpus-sized stage is the doc-grain
    (id, 8-byte rowhash) diff join — text never shuffles — and the
    patch/propagate/apply stages run at tree grain: zero cartesians,
    zero single-partition stages."""
    from logstream_processing_service_spark.queries_curation import (
        q_merkle_tree_update,
    )

    plan = _plan(q_merkle_tree_update(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    spark.catalog.clearCache()


def test_bm25_delete_twin_plan_is_anti_join_no_cartesian(spark):
    """r13 rehearsal pin: the tombstone DELETE read must drop dead
    docs with ONE anti-join on the 8-byte doc_id key (no cartesian
    anywhere in the BM25 plan over the live postings), and the
    tombstone filter (tc < 0 / tc >= 0) must reach the posting scans."""
    from logstream_processing_service_spark.queries_text import (
        q_bm25_delete_twin,
    )

    plan = _plan(q_bm25_delete_twin(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "(tc" in plan  # the sentinel predicate is pushed to the scan
    spark.catalog.clearCache()
