"""Driver-contract queries: corpus curation (packing / scrubbing / mixing)
over ``documents``.

Oracle SQL is generated from the same hash/tokenizer expressions the Spark
operators use (functions/text.py, operators/curation.py), so the two sides
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import _t, spec
from .functions import text as T
from .operators import curation as C
from .session import scratch_dir

_WORDS_DUCK = T.words_sql("text", "duckdb")
_PACK_HASH = T.hash48_sql("concat('pack-v1:', CAST(doc_id AS STRING))")
_MIX_HASH = T.hash48_sql("concat('mix-v1:', CAST(doc_id AS STRING))")

_PACK_CTE = f"""
    toks AS (
        SELECT doc_id,
               CAST(len({_WORDS_DUCK}) AS INT) AS n_tokens,
               ({_PACK_HASH}) % 8 AS shard
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM toks
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS start_token,
               CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS first_chunk,
               CAST(floor((cum - 1) / 512)
                    - floor((cum - n_tokens) / 512) + 1 AS BIGINT) AS n_chunks
        FROM c
    )
"""


@spec(
    "pack_sequences",
    f"""
    WITH {_PACK_CTE}
    SELECT doc_id, shard, n_tokens, start_token, first_chunk, n_chunks
    FROM packed
    """,
    "north-star", "curation", "packing",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.pack_sequences(_t(spark, sf_dir, "documents"))


@spec(
    "packing_efficiency",
    f"""
    WITH {_PACK_CTE}
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(floor((sum(n_tokens) - 1) / 512) + 1 AS BIGINT) AS n_chunks,
           CAST((floor((sum(n_tokens) - 1) / 512) + 1) * 512
                - sum(n_tokens) AS BIGINT) AS tail_padding,
           CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_split_docs
    FROM packed GROUP BY shard ORDER BY shard
    """,
    "north-star", "curation", "packing",
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.packing_efficiency(_t(spark, sf_dir, "documents"))


# The synthetic corpus contains no real PII (no digits at all), so the
# oracle-checked scrub targets term patterns that DO occur — the operator
# is pattern-generic; PII_PATTERNS defaults are unit-tested on inline rows.
_SCRUB_TERMS = {
    "kw_customer": r"\bcustomer\b",
    "kw_order": r"\border\b",
}


@spec(
    "sensitive_term_scrub",
    C.pattern_scrub_oracle_sql(_SCRUB_TERMS),
    "north-star", "curation", "scrubbing",
)
def q_sensitive_term_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.pattern_scrub(_t(spark, sf_dir, "documents"), _SCRUB_TERMS)


_MIX_TARGETS = {"de": 0.15, "en": 0.30, "es": 0.20, "fr": 0.10, "zh": 0.25}
# CAST AS DOUBLE: DuckDB decimal literals would otherwise make the whole
# product exact DECIMAL — Spark computes doubles, and the sample filter
# must compare the SAME IEEE values on both sides.
_MIX_SHARE = (
    "CASE lang WHEN 'de' THEN CAST(0.15 AS DOUBLE) "
    "WHEN 'en' THEN CAST(0.3 AS DOUBLE) WHEN 'es' THEN CAST(0.2 AS DOUBLE) "
    "WHEN 'fr' THEN CAST(0.1 AS DOUBLE) WHEN 'zh' THEN CAST(0.25 AS DOUBLE) "
    "ELSE CAST(0.0 AS DOUBLE) END"
)

_MIX_CTE = f"""
    toks AS (
        SELECT doc_id, lang, CAST(len({_WORDS_DUCK}) AS INT) AS n_tokens
        FROM documents
    ),
    per AS (
        SELECT lang, count(*) AS n_docs, sum(n_tokens) AS n_tokens
        FROM toks GROUP BY 1
    ),
    tot AS (SELECT sum(n_tokens) AS total_tokens FROM per)
"""


@spec(
    "domain_mix_plan",
    f"""
    WITH {_MIX_CTE}
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round({_MIX_SHARE} * total_tokens * 0.5, 2) AS target_tokens,
           round(least(1.0, {_MIX_SHARE} * total_tokens * 0.5 / n_tokens), 6)
               AS rate
    FROM per, tot ORDER BY lang
    """,
    "north-star", "curation", "mixing",
)
def q_domain_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.domain_mix_plan(_t(spark, sf_dir, "documents"), _MIX_TARGETS)


@spec(
    "domain_mix_sample",
    f"""
    WITH {_MIX_CTE},
    rates AS (
        SELECT lang,
               least(1.0, {_MIX_SHARE} * total_tokens * 0.5 / n_tokens) AS rate
        FROM per, tot
    )
    SELECT t.doc_id, t.lang, t.n_tokens
    FROM toks t JOIN rates r ON t.lang = r.lang
    WHERE ({_MIX_HASH.replace("doc_id", "t.doc_id")}) / 281474976710656.0
          < r.rate
    """,
    "north-star", "curation", "mixing",
)
def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.domain_mix_sample(_t(spark, sf_dir, "documents"), _MIX_TARGETS)


@spec(
    "unigram_logprob",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS wd FROM words),
    freq AS (SELECT wd, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT sum(c) AS t FROM freq)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(c / t)), 6) AS avg_surprisal,
           round(max(-ln(c / t)), 6) AS max_surprisal
    FROM tok JOIN freq USING (wd), tot
    GROUP BY doc_id
    """,
    "north-star", "curation", "lm-filter",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.unigram_logprob(_t(spark, sf_dir, "documents"))


# shared by bigram_logprob and perplexity_buckets_exact (whose oracle
# needs the same surprisal scores as a CTE)
_BIGRAM_LP_SQL = f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    bg AS (
        SELECT doc_id,
               unnest(w[1:greatest(len(w)-1, 0)]) AS w1,
               unnest(w[2:len(w)]) AS w2
        FROM words
    ),
    per AS (SELECT doc_id, w1, w2, count(*) AS m FROM bg GROUP BY 1, 2, 3),
    bgf AS (SELECT w1, w2, sum(m) AS c_bg FROM per GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c_bg) AS c_ctx FROM bgf GROUP BY 1),
    tok AS (SELECT doc_id, unnest(w) AS wd FROM words),
    uni AS (SELECT wd, count(*) AS c_uni FROM tok GROUP BY 1),
    tot AS (SELECT sum(c_uni) AS t FROM uni),
    sc AS (
        SELECT doc_id, m,
               CASE WHEN c_bg >= 2 THEN -ln(c_bg / c_ctx)
                    ELSE -ln(0.4 * c_uni / t) END AS s,
               CASE WHEN c_bg >= 2 THEN 0 ELSE m END AS bo
        FROM per
        JOIN bgf USING (w1, w2)
        JOIN ctx USING (w1)
        JOIN uni ON uni.wd = per.w2, tot
    )
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(sum(m * s) / sum(m), 6) AS avg_surprisal,
           round(max(s), 6) AS max_surprisal,
           round(sum(bo) / CAST(sum(m) AS DOUBLE), 6) AS backoff_frac
    FROM sc GROUP BY doc_id
    """


@spec(
    "bigram_logprob",
    _BIGRAM_LP_SQL,
    "north-star", "curation", "lm-filter",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.bigram_logprob(_t(spark, sf_dir, "documents"))


def _pplx_exact_oracle(sample_n: int = 2000, salt: str = "pplx-v1") -> str:
    """Mirror of perplexity_buckets_exact: naive-window reservoir sample
    (the operator's cutoff-prefiltered form is bit-identical by
    construction — proven by sample_k_per_source), rank-selected tercile
    elements (1-based list index, same as element_at), in-row bucket
    compare over the 6-dp avg_surprisal both engines round identically."""
    from .operators.sampling import uniform01_oracle_sql

    u = uniform01_oracle_sql("doc_id", salt)
    return f"""
    WITH lp AS ({_BIGRAM_LP_SQL}),
    lab AS (
        SELECT d.doc_id, d.lang, l.avg_surprisal AS s
        FROM documents d JOIN lp l USING (doc_id)
    ),
    r AS (
        SELECT doc_id, lang, s,
               row_number() OVER (PARTITION BY lang ORDER BY {u}, doc_id)
                   AS rn
        FROM lab
    ),
    th AS (
        SELECT lang,
               lst[CAST((m + 2) // 3 AS INT)] AS t1,
               lst[CAST((m * 2 + 2) // 3 AS INT)] AS t2
        FROM (
            SELECT lang, list_sort(list(s)) AS lst, count(*) AS m
            FROM r WHERE rn <= {sample_n} GROUP BY lang
        )
    )
    SELECT lab.doc_id, lab.lang, lab.s AS avg_surprisal,
           CASE WHEN lab.s <= t1 THEN 'head'
                WHEN lab.s <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lab JOIN th USING (lang)
    ORDER BY lab.doc_id
    """


@spec(
    "perplexity_buckets_exact",
    _pplx_exact_oracle(),
    "north-star", "curation", "ccnet",
)
def q_perplexity_buckets_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-threshold CCNet bucketing — the oracle-paired twin of
    perplexity_buckets (r4 VERDICT 'Next round' #7): bucket ASSIGNMENT is
    hash-checked end-to-end; the KLL-sketch variant stays as the
    sketch-registry path."""
    return C.perplexity_buckets_exact(_t(spark, sf_dir, "documents"))


_FUNNEL_STOPS = "['the','a','of','and','to','in','is','that','it','for']"


@spec(
    "curation_funnel",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    whs AS (SELECT doc_id, w, {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    feats AS (
        SELECT len(w) AS n_words,
               (len({T.shingle_hash_array_sql('wh', 3, 'duckdb')})
                - len(list_distinct({T.shingle_hash_array_sql('wh', 3, 'duckdb')})))
               / CAST(greatest(len({T.shingle_hash_array_sql('wh', 3, 'duckdb')}), 1) AS DOUBLE)
                   AS dup_ratio,
               len(list_filter(w, x -> list_contains({_FUNNEL_STOPS}, x)))
               / CAST(greatest(len(w), 1) AS DOUBLE) AS stop_ratio
        FROM whs
    ),
    agg AS (
        SELECT count(*) AS n0,
               sum(CASE WHEN n_words < 20 THEN 1 ELSE 0 END) AS d1,
               sum(CASE WHEN NOT (n_words < 20) AND dup_ratio > 0.2
                        THEN 1 ELSE 0 END) AS d2,
               sum(CASE WHEN NOT (n_words < 20) AND NOT (dup_ratio > 0.2)
                             AND stop_ratio < 0.03
                        THEN 1 ELSE 0 END) AS d3
        FROM feats
    )
    SELECT '0_input' AS rule, CAST(0 AS BIGINT) AS n_dropped,
           CAST(n0 AS BIGINT) AS n_remaining FROM agg
    UNION ALL SELECT '1_too_short', CAST(d1 AS BIGINT), CAST(n0 - d1 AS BIGINT) FROM agg
    UNION ALL SELECT '2_repetitive', CAST(d2 AS BIGINT), CAST(n0 - d1 - d2 AS BIGINT) FROM agg
    UNION ALL SELECT '3_no_stopwords', CAST(d3 AS BIGINT), CAST(n0 - d1 - d2 - d3 AS BIGINT) FROM agg
    """,
    "north-star", "curation", "funnel",
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.curation_funnel(_t(spark, sf_dir, "documents"))


@spec(
    "gopher_quality_report",
    f"""
    WITH per AS (
        SELECT doc_id,
               {T.words_sql('text', 'duck')} AS w,
               string_split(text, chr(10)) AS ls,
               text
        FROM documents
    )
    SELECT doc_id,
           len(w) AS n_words,
           round(list_sum(list_transform(w, x -> length(x)))
                 / nullif(CAST(len(w) AS DOUBLE), 0.0), 6) AS mean_word_len,
           round((length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) / 3)
                 / nullif(CAST(len(w) AS DOUBLE), 0.0), 6) AS symbol_ratio,
           round(len(list_filter(ls, x -> starts_with(x, '- ')
                                       OR starts_with(x, '* ')))
                 / nullif(CAST(len(ls) AS DOUBLE), 0.0), 6) AS bullet_ratio,
           round(len(list_filter(ls, x -> suffix(x, '...')))
                 / nullif(CAST(len(ls) AS DOUBLE), 0.0), 6) AS ellipsis_ratio,
           round(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
                 / nullif(CAST(len(w) AS DOUBLE), 0.0), 6) AS alpha_ratio,
           len(list_intersect(list_distinct(w),
               ['the','a','of','and','to','in','is','that','it','for']))
               AS stopword_kinds,
           (len(w) BETWEEN 50 AND 100000
            AND round(list_sum(list_transform(w, x -> length(x)))
                      / nullif(CAST(len(w) AS DOUBLE), 0.0), 6) BETWEEN 3.0 AND 10.0
            AND round((length(text) - length(replace(text, '#', ''))
                       + (length(text) - length(replace(text, '...', ''))) / 3)
                      / nullif(CAST(len(w) AS DOUBLE), 0.0), 6) <= 0.1
            AND round(len(list_filter(ls, x -> starts_with(x, '- ')
                                            OR starts_with(x, '* ')))
                      / nullif(CAST(len(ls) AS DOUBLE), 0.0), 6) <= 0.9
            AND round(len(list_filter(ls, x -> suffix(x, '...')))
                      / nullif(CAST(len(ls) AS DOUBLE), 0.0), 6) <= 0.3
            AND round(len(list_filter(w, x -> regexp_full_match(x, '[a-z]+')))
                      / nullif(CAST(len(w) AS DOUBLE), 0.0), 6) >= 0.8
            AND len(list_intersect(list_distinct(w),
                ['the','a','of','and','to','in','is','that','it','for'])) >= 2
           ) AS passes_gopher
    FROM per
    """,
    "north-star", "gopher-rules",
)
def q_gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.gopher_filter_report(_t(spark, sf_dir, "documents"))


@spec(
    "oov_rate",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({T.words_sql('text', 'duck')}) AS wd
        FROM documents
    ),
    vocab AS (
        SELECT wd FROM (
            SELECT wd, count(*) AS c FROM toks GROUP BY wd
            ORDER BY c DESC, wd LIMIT 16
        )
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           CAST(count(v.wd) AS BIGINT) AS in_vocab_tokens,
           (count(*) - count(v.wd)) / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.wd = v.wd
    GROUP BY t.doc_id
    """,
    "north-star", "vocab-pruning",
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.oov_rate(_t(spark, sf_dir, "documents"))


_C4_LINES = (
    "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), "
    "x -> x <> '')"
)
_C4_WC = "len(list_filter(string_split(x, ' '), w -> w <> ''))"


@spec(
    "c4_line_stats",
    f"""
    WITH l AS (
        SELECT doc_id, text, {_C4_LINES} AS lines FROM documents
    ),
    s AS (
        SELECT doc_id, text, lines,
               list_filter(lines, x -> {_C4_WC} >= 30
                           AND NOT contains(lower(x), 'javascript')) AS kept
        FROM l
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(len(list_filter(lines, x -> {_C4_WC} < 30)) AS BIGINT)
               AS n_short_lines,
           CAST(len(list_filter(lines,
                x -> NOT (right(x, 1) IN ('.', '!', '?', '"')))) AS BIGINT)
               AS n_no_punct_lines,
           CAST(len(list_filter(lines, x -> contains(lower(x), 'javascript')))
               AS BIGINT) AS n_js_lines,
           CAST(coalesce(list_sum(list_transform(kept, x -> len(x))), 0)
               AS BIGINT) AS kept_chars,
           CAST(len(kept) AS DOUBLE) / greatest(len(lines), 1) AS kept_frac,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{{') AS has_brace,
           (len(kept) >= 1 AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{{')) AS keep_doc
    FROM s
    """,
    "north-star", "curation", "c4",
)
def q_c4_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.c4_line_stats(
        _t(spark, sf_dir, "documents"),
        min_words=30,
        require_terminal_punct=False,
        min_kept_lines=1,
    )


@spec("perplexity_buckets", None, "north-star", "curation", "ccnet", "rows-only")
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail LM-quality terciles per language (rows-only:
    KLL tercile thresholds have no DuckDB twin; bucket-fraction balance is
    asserted in tests/test_training_ops.py)."""
    from .operators.curation import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


def _curate_corpus_oracle() -> str:
    """The composed pipeline oracle: funnel-rule survivors feed the
    shared minhash CTE (restricted via a survivor join), whose clusters
    drive both the quality-keeper and the split unit, then the shard
    formula — each fragment identical to its standalone query's oracle."""
    from .queries_text import _minhash_cte

    mh = _minhash_cte().replace(
        "FROM documents", "FROM documents JOIN surv USING (doc_id)", 1
    )
    shard_h = T.hash48_sql("concat('shard-v1:', CAST(doc_id AS VARCHAR))")
    sh_arr = T.shingle_hash_array_sql("wh", 3, "duckdb")
    return f"""
    WITH RECURSIVE
    fw AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    fwh AS (SELECT doc_id, w, {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM fw),
    ffeat AS (
        SELECT doc_id, len(w) AS n_words,
               (len({sh_arr}) - len(list_distinct({sh_arr})))
                   / CAST(greatest(len({sh_arr}), 1) AS DOUBLE) AS dup_ratio,
               len(list_filter(w, x -> list_contains({_FUNNEL_STOPS}, x)))
                   / CAST(greatest(len(w), 1) AS DOUBLE) AS stop_ratio
        FROM fwh
    ),
    surv AS (
        SELECT doc_id FROM ffeat
        WHERE NOT (n_words < 20) AND NOT (dup_ratio > 0.2)
              AND NOT (stop_ratio < 0.03)
    ),
    {mh},
    prs AS (SELECT d1, d2 FROM verified WHERE jaccard >= 0.8),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM prs
        UNION ALL SELECT d2, d1 FROM prs
    ),
    cc(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, cc.label FROM cc JOIN edges e ON cc.node = e.dst
    ),
    canon AS (SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node),
    ranked AS (
        SELECT c.doc_id, c.cluster_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
        FROM canon c JOIN documents d USING (doc_id)
    ),
    keepdec AS (
        SELECT s.doc_id,
               COALESCE(r.cluster_id, s.doc_id) AS cluster_id,
               COALESCE(r.rn = 1, TRUE) AS keep
        FROM surv s LEFT JOIN ranked r USING (doc_id)
    ),
    train_kept AS (
        SELECT doc_id, cluster_id FROM keepdec
        WHERE keep AND NOT (md5(concat_ws(':', 'split-v1',
                  CAST(cluster_id AS VARCHAR))) < '1a')
    ),
    sharded AS (SELECT doc_id, cluster_id, {shard_h} AS hk FROM train_kept)
    SELECT doc_id, cluster_id,
           CAST(hk % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hk % 8
               ORDER BY hk, doc_id) AS BIGINT) AS pos
    FROM sharded ORDER BY doc_id
    """


@spec(
    "curate_corpus",
    _curate_corpus_oracle(),
    "north-star", "curation", "pipeline", "flagship",
)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus manifest: funnel filter → near-dup
    quality-keeper → leakage-safe split → shard order, in one pass over
    the near-dup clusters."""
    return C.curate_corpus(_t(spark, sf_dir, "documents"))


@spec(
    "temperature_mix_plan",
    f"""
    WITH toks AS (
        SELECT source, CAST(len({_WORDS_DUCK}) AS INT) AS n_tokens
        FROM documents
    ),
    per AS (
        SELECT source, count(*) AS n_docs, sum(n_tokens) AS n_tokens
        FROM toks GROUP BY 1
    ),
    tot AS (
        SELECT sum(n_tokens) AS total_tokens,
               sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS z
        FROM per
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_tokens / CAST(total_tokens AS DOUBLE), 6)
               AS natural_share,
           round(pow(CAST(n_tokens AS DOUBLE), 0.3) / z, 6) AS target_share,
           round(least(1.0, pow(CAST(n_tokens AS DOUBLE), 0.3) / z
                 * total_tokens * 0.5 / n_tokens), 6) AS sample_rate,
           round(least(1.0, pow(CAST(n_tokens AS DOUBLE), 0.3) / z
                 * total_tokens * 0.5 / n_tokens) * n_tokens, 2)
               AS expected_tokens
    FROM per, tot ORDER BY source
    """,
    "north-star", "curation", "mixing", "temperature",
)
def q_temperature_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.3 temperature mixing over sources: targets computed FROM
    the corpus (n^alpha renormalized), not hand-set — the multilingual-LM
    tail-upweighting recipe."""
    return C.temperature_mix_plan(_t(spark, sf_dir, "documents"))


@spec(
    "dsir_weights",
    C.dsir_oracle_sql(),
    "north-star", "data-selection", "dsir",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over hashed-bigram buckets (target = the
    'en' slice, source = whole corpus; add-one smoothing) — the
    importance-resampling data-selection recipe, end-to-end in SQL on
    both engines."""
    return C.dsir_weights(_t(spark, sf_dir, "documents"))


@spec(
    "dsir_gumbel_sample",
    C.dsir_gumbel_oracle_sql(),
    "north-star", "data-selection", "dsir", "gumbel-topk",
)
def q_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget DSIR selection via Gumbel-top-k (exact softmax
    sampling without replacement, entirely in log space — no exp, no
    max-shift): top-50 docs by log_weight + Gumbel noise from the
    portable keyed hash, hash-matched in DuckDB end to end."""
    return C.dsir_gumbel_topk(_t(spark, sf_dir, "documents"), k=50)


@spec(
    "kn_trigram_logprob",
    C.kn_trigram_oracle_sql(),
    "north-star", "lm-filter", "kneser-ney",
)
def q_kn_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated modified-Kneser-Ney trigram surprisal per document
    (continuation counts at lower orders, fixed discount 0.75) — the
    CCNet-style LM quality signal one order above bigram_logprob, with
    the entire LM estimation + scoring pipeline hash-matched in SQL."""
    return C.kn_trigram_logprob(_t(spark, sf_dir, "documents"))


@spec(
    "kn_trigram_pruned",
    C.kn_trigram_pruned_oracle_sql(),
    "north-star", "curation", "lm-filter", "kenlm-pruning",
)
def q_kn_trigram_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-pruned interpolated Kneser-Ney surprisal (KenLM-style
    singleton pruning with mass-conserving backoff — every context stays
    a proper distribution; normalization + prune_min=1 == unpruned
    asserted in tests/test_curation.py)."""
    return C.kn_trigram_logprob_pruned(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r7 registrations: unigram-LM tokenizer lanes (trained models → rows-only;
# exact-parity and ordering pins live in tests/test_bpe.py / the unigram
# property suite)
# ---------------------------------------------------------------------------


@spec("unigram_token_counts", None, "tokenizer", "unigram-lm", "rows-only")
def q_unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a SentencePiece-style unigram-LM vocabulary (EM over the
    guarded distinct-word table) and encode the corpus: per-document
    token counts under the trained model. Rows-only: the trained
    vocabulary has no SQL twin; Viterbi-encode exactness and the
    pretokens ≤ tokens ≤ chars ordering pins are tested locally.
    Vocab-grain training cost; encode runs once per DISTINCT word."""
    from .operators.unigram import unigram_token_counts, unigram_train

    docs = _t(spark, sf_dir, "documents")
    model = unigram_train(
        docs, vocab_size=512, max_piece_len=8, em_iters=2, min_word_count=2
    )
    return unigram_token_counts(docs, model)


@spec("tokenizer_compare", None, "tokenizer", "rows-only")
def q_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head tokenizer report on the same corpus: characters,
    GPT-2 pretokens, trained BPE, trained unigram-LM — total tokens and
    chars/token per family at equal budget (the vocabulary-commitment
    decision table). Both trainings share one corpus pass; totals are
    weighted sums over the distinct-word table."""
    from .operators.unigram import tokenizer_compare

    return tokenizer_compare(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r8 registrations (rehearsed r7, ROADMAP r8 map)
# ---------------------------------------------------------------------------


@spec("wordpiece_token_counts", None, "tokenizer", "rows-only")
def q_wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a WordPiece vocabulary (likelihood-scored merges — the
    BERT recipe, visibly diverging from BPE's raw-count merges on ties)
    and encode the corpus: per-document token counts under the trained
    vocab. Rows-only like the BPE/unigram lanes: the trained vocabulary
    has no SQL twin; merge order, greedy longest-match encode, and the
    pretokens ≤ tokens ≤ chars family ordering are pinned in
    tests/test_wordpiece.py. Vocab-grain training; encode runs once per
    DISTINCT word. alpha_10x 0.21 (ROADMAP r7 ledger)."""
    from .operators.wordpiece import wordpiece_token_counts, wordpiece_train

    docs = _t(spark, sf_dir, "documents")
    vocab = wordpiece_train(docs, num_merges=128, min_word_count=2)
    return wordpiece_token_counts(docs, vocab)


from .operators import webcorpus as WC  # noqa: E402


@spec(
    "curate_web_corpus",
    WC.curate_web_corpus_oracle_sql(),
    "curation", "north-star", "funnel", "bench",
)
def q_curate_web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl→training-data funnel: HTML extraction →
    content-ratio gate → quality gate → exact dedup on extracted text →
    per-registered-domain cap, with per-stage survivor counts. The
    funnel shares ONE documents scan (plan-pinned); the composed DuckDB
    oracle recomputes every gate closed-form. alpha_10x 0.21 (ROADMAP
    r7 ledger)."""
    return WC.curate_web_corpus(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r11 registrations (rehearsed in r10 — tests/test_manifest_diff.py
# runs the compare harness)
# ---------------------------------------------------------------------------

# Deterministic snapshot split for the catalog entry: OLD misses the
# doc_id % 17 == 3 docs (they appear as ADDED in new), NEW drops the
# doc_id % 13 == 2 docs (REMOVED) and rewrites text to upper() for
# doc_id % 11 == 5 (CHANGED) — all three transition kinds exercised
# from one documents scan per side, identically on both engines.
_MANIFEST_OLD_CTE = "SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3"
_MANIFEST_NEW_CTE = (
    "SELECT doc_id, CASE WHEN doc_id % 11 = 5 THEN upper(text) ELSE text END"
    " AS text FROM documents WHERE doc_id % 13 <> 2"
)


def manifest_diff_oracle_sql() -> str:
    return C.shard_manifest_diff_oracle_sql(
        _MANIFEST_OLD_CTE, _MANIFEST_NEW_CTE
    )


@spec(
    "shard_manifest_diff",
    manifest_diff_oracle_sql(),
    "curation", "incremental",
)
def q_shard_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-grain manifest diff between two deterministic snapshots of
    documents — which output shards would an incremental
    re-materialization rewrite (r11 queue, rehearsed r10; one doc-grain
    full-outer join, alpha_10x 0.083)."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 13 != 2).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 5, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return C.shard_manifest_diff(old, new)


@spec(
    "manifest_timetravel_twin",
    manifest_diff_oracle_sql(),
    "curation", "incremental", "txlog",
)
def q_manifest_timetravel_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard-manifest diff computed between two TXLOG VERSIONS
    (r11 queue, rehearsed r10) — commit the old snapshot
    as v0, overwrite with the new snapshot as v1, then diff
    time-travel reads of both versions. The hash match against the
    base-table oracle proves version isolation feeds the
    incremental-curation planner: at 100 TB this is exactly "which
    shards changed between yesterday's corpus commit and today's",
    answered from the log without keeping two physical corpus copies."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 13 != 2).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 5, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = scratch_dir("manifest_twin")
    TX.commit(t, old)
    TX.commit(t, new, mode="overwrite")
    return C.shard_manifest_diff(
        TX.read_snapshot(spark, t, version=0),
        TX.read_snapshot(spark, t, version=1),
    )


# ---------------------------------------------------------------------------
# r12 registrations (rehearsed in r11 — tests/test_doremi.py,
# tests/test_rho1.py, tests/test_source_coverage.py, tests/test_merkle.py
# ran the compare harness at both SFs before these @spec lines landed)
# ---------------------------------------------------------------------------


@spec(
    "doremi_domain_weights",
    C.doremi_oracle_sql(),
    "north-star", "curation", "mixing", "doremi",
)
def q_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain
    mixture weights at proxy grain — excess loss as the per-token KL of
    each source's unigram distribution from the corpus mixture, one
    exponential-tilt multiplicative-weights step, uniform smoothing.
    The deterministic engine-side planner feeding
    temperature_mix_plan's sampler."""
    return C.doremi_domain_weights(_t(spark, sf_dir, "documents"))


@spec(
    "rho1_token_selection",
    C.rho1_oracle_sql(),
    "north-star", "curation", "lm-filter", "rho1",
)
def q_rho1_token_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rho-1-style selective
    -language-modeling token budget — per-doc share of token
    occurrences whose unigram surprisal exceeds the corpus token
    entropy (the deterministic reference-loss proxy)."""
    return C.rho1_token_selection(_t(spark, sf_dir, "documents"))


@spec(
    "source_coverage_report",
    C.source_coverage_oracle_sql(),
    "north-star", "curation", "coverage",
)
def q_source_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out shingle
    coverage per source — which feeds contribute n-gram mass no other
    source provides (the greedy data-mixing marginal-utility signal)."""
    return C.source_coverage_report(_t(spark, sf_dir, "documents"))


@spec(
    "merkle_integrity_diff",
    C.merkle_diff_oracle_sql(_MANIFEST_OLD_CTE, _MANIFEST_NEW_CTE),
    "curation", "integrity", "merkle",
)
def q_merkle_integrity_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle integrity-tree
    diff between the manifest family's two deterministic snapshots —
    matching subtree hashes certify untouched shards without reading
    them; mismatches localize the churn in log-fanout probes."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 13 != 2).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 5, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return C.merkle_integrity_diff(old, new)


def merkle_query_oracle_sql() -> str:
    return C.merkle_diff_oracle_sql(_MANIFEST_OLD_CTE, _MANIFEST_NEW_CTE)


@spec(
    "merkle_tree_update",
    C.merkle_tree_oracle_sql(_MANIFEST_NEW_CTE),
    "curation", "integrity", "merkle", "incremental",
)
def q_merkle_tree_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEW snapshot's
    Merkle tree computed INCREMENTALLY — old tree xor-patched with the
    doc-grain delta only — hash-matched against the full-rebuild
    oracle on the new snapshot (O(delta) maintenance proven exact)."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 13 != 2).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 5, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return C.merkle_tree_update(old, new)


def merkle_update_oracle_sql() -> str:
    return C.merkle_tree_oracle_sql(_MANIFEST_NEW_CTE)


@spec(
    "greedy_coverage_order",
    C.greedy_coverage_oracle_sql(),
    "curation", "coverage", "submodular",
)
def q_greedy_coverage_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular
    source ordering by marginal distinct-shingle gain — the iterative
    extension of source_coverage_report (which is this loop's t=1
    step); the onboarding-order planner for a multi-feed corpus."""
    return C.greedy_coverage_order(_t(spark, sf_dir, "documents"))


def greedy_coverage_oracle_sql() -> str:
    return C.greedy_coverage_oracle_sql()


@spec(
    "doremi_iterated",
    C.doremi_iterated_oracle_sql(),
    "north-star", "curation", "mixture", "doremi",
)
def q_doremi_iterated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DoReMi
    multiplicative-weights loop (T=3) with a re-weighted reference
    mixture per round — the self-balancing group-DRO dynamic whose T=1
    static-signal special case is the registered
    doremi_domain_weights."""
    return C.doremi_iterated(_t(spark, sf_dir, "documents"))


def doremi_iterated_query_oracle_sql() -> str:
    return C.doremi_iterated_oracle_sql()


# ---------------------------------------------------------------------------
# r14 queue (rehearsed in r13, NOT yet registered — the standing
# pre-measure-then-register cadence; tests/test_merkle_repair.py runs the
# compare harness at both SFs before any @spec line lands)
# ---------------------------------------------------------------------------


def q_merkle_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rsync planner on
    top of merkle_integrity_diff: given the manifest family's local
    (old) and source (new) snapshots, emit the minimal shard-grain
    repair plan — divergent leaves only, with source doc counts and a
    bytes-to-ship estimate. Matching subtree hashes certify every
    other shard without reading it (r14 queue)."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 13 != 2).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 5, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return C.merkle_repair_plan(old, new)


def merkle_repair_query_oracle_sql() -> str:
    return C.merkle_repair_oracle_sql(_MANIFEST_OLD_CTE, _MANIFEST_NEW_CTE)


def q_doremi_to_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-learned domain
    weights operationalized as a sampling plan — doremi_iterated's T=3
    multiplicative-weights output fed into the temperature_mix_plan
    rate arithmetic as target shares (r14 queue; the composed last
    mile between learned weights and a runnable sampler)."""
    return C.doremi_to_mix_pipeline(_t(spark, sf_dir, "documents"))


def doremi_to_mix_query_oracle_sql() -> str:
    return C.doremi_to_mix_oracle_sql()
