"""Driver-contract queries: dedup + text analysis over ``documents``.

Oracle SQL is GENERATED from the same constants/hash expressions the Spark
operators use (functions/text.py), so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import _t, spec
from .functions import text as T
from .operators import dedup as D
from .operators import sampling as S
from .operators import textanalysis as TA
from .session import cut_lineage, scratch_dir

_H_TEXT = T.hash48_sql("text")
_WORDS_DUCK = T.words_sql("text", "duckdb")

# shared CTE: distinct (doc_id, shingle-hash) with doc-frequency cap 500 —
# same rolling word-hash combination the Spark operators compute
# (functions/text.py), so parity is by construction
_SHINGLE_CTE = f"""
    words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    whs AS (SELECT doc_id, {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    sh_all AS (
        SELECT DISTINCT doc_id,
               unnest({T.shingle_hash_array_sql('wh', 3, 'duckdb')}) AS s
        FROM whs
    ),
    sh AS (
        SELECT doc_id, s FROM (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS _df FROM sh_all
        ) WHERE _df <= 500
    )
"""

_JACCARD_CORE = """
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM {sh} GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM {sh} a JOIN {sh} b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT d1, d2,
               round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 4) AS jaccard
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
    )
"""


@spec(
    "dedup_exact",
    f"""
    SELECT min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY {_H_TEXT}
    """,
    "dedup", "S6",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(_t(spark, sf_dir, "documents"))


@spec(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_CTE}, {_JACCARD_CORE.format(sh="sh")}
    SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.5
    """,
    "dedup",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def _minhash_cte(
    max_bucket: int = 2000,
    sig_src: str = "sh",
    base_hot_pred: str | None = None,
    corpus_pred: str | None = None,
) -> str:
    """CTE chain ending in ``verified(d1, d2, jaccard)`` — shared by the
    pair query and the cluster-resolution query. ``max_bucket`` must match
    the ``max_bucket`` passed to the Spark operator. ``sig_src='sh_all'``
    computes signatures from the UNCAPPED shingle table.

    ``base_hot_pred`` (a doc_id predicate selecting the BASE slice)
    reproduces the incremental registries' FROZEN hot-shingle filter
    (dedup.lsh_frozen_hot): shingles whose doc frequency WITHIN the
    base slice exceeds 500 are excluded from signatures — of every
    doc, base and delta alike, exactly as the frozen metadata commit
    does. ``corpus_pred`` restricts the LIVE corpus (sig + verify
    sides) without restricting the hot computation — needed by the
    lifecycle oracle, where deletes happen AFTER the hot list froze,
    so the frozen list still reflects the soon-deleted docs."""
    rows = len(T.MINHASH_PERMS) // T.MINHASH_BANDS
    mh_cols = ", ".join(
        f"min({T.minhash_value_sql('s', T.MINHASH_PERMS[j])}) AS mh_{j}"
        for j in range(len(T.MINHASH_PERMS))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws('_', "
        + ", ".join(f"mh_{bi * rows + r}" for r in range(rows))
        + ") AS bkey FROM sig"
        for bi in range(T.MINHASH_BANDS)
    )
    hot_ctes = ""
    if base_hot_pred is not None:
        hot_ctes = f""",
    base_hot AS (
        SELECT s FROM sh_all WHERE {base_hot_pred}
        GROUP BY s HAVING count(*) > 500
    ),
    sh_sig AS (
        SELECT a.doc_id, a.s FROM sh_all a
        WHERE NOT EXISTS (SELECT 1 FROM base_hot h WHERE h.s = a.s)
    )"""
        sig_src = "sh_sig"
    live = f" WHERE {corpus_pred}" if corpus_pred else ""
    # verify uses the UNCAPPED shingle table (sh_all) as per-doc 48-bit
    # hash sets — the same hash-set intersection the Spark operator does
    return f"""{_SHINGLE_CTE}{hot_ctes},
    sig AS (SELECT doc_id, {mh_cols} FROM {sig_src}{live} GROUP BY doc_id),
    banded AS ({band_selects}),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM banded
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id AND a.bsz <= {max_bucket}
    ),
    hsets AS (
        SELECT doc_id, array_agg(DISTINCT s) AS ss
        FROM sh_all{live} GROUP BY doc_id
    ),
    verified AS (
        SELECT c.d1, c.d2,
               round(len(list_intersect(h1.ss, h2.ss)) * 1.0 /
                     (len(h1.ss) + len(h2.ss) - len(list_intersect(h1.ss, h2.ss))),
                     4) AS jaccard
        FROM cand c
        JOIN hsets h1 ON c.d1 = h1.doc_id
        JOIN hsets h2 ON c.d2 = h2.doc_id
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_cte()}
    SELECT d1, d2, jaccard FROM verified WHERE jaccard >= 0.8
    """


def _dedup_clusters_oracle() -> str:
    # transitive closure by label propagation: UNION dedups rows, so the
    # recursion reaches a fixpoint once every reachable label is paired
    # with every node; min(label) per node is then the component id
    return f"""
    WITH RECURSIVE {_minhash_cte()},
    pairs AS (SELECT d1, d2 FROM verified WHERE jaccard >= 0.8),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION ALL SELECT d2, d1 FROM pairs
    ),
    cc(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, cc.label FROM cc JOIN edges e ON cc.node = e.dst
    ),
    canon AS (SELECT node AS doc_id, min(label) AS canonical_id FROM cc GROUP BY node)
    SELECT doc_id, canonical_id,
           count(*) OVER (PARTITION BY canonical_id) AS cluster_size,
           doc_id = canonical_id AS is_keeper
    FROM canon ORDER BY doc_id
    """


@spec("dedup_minhash_lsh", _minhash_oracle(), "dedup", "bench")
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


@spec("dedup_clusters", _dedup_clusters_oracle(), "dedup", "clusters", "iterative")
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_clusters(_t(spark, sf_dir, "documents"), threshold=0.8)


@spec(
    "components_incremental_twin",
    _dedup_clusters_oracle(),
    "dedup", "clusters", "incremental", "txlog",
)
def q_components_incremental_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster maintenance under ingest (graph.py
    incremental_components): the verified near-dup pair list is computed
    ONCE (lineage cut — the same edge-list discipline dedup_clusters
    uses), sliced into 3 arrival batches by the NEWER doc's id, and
    folded into a txlog-backed assignment by contraction — per batch,
    CC runs only on the contracted delta plus one linear remap, never on
    the full edge list. The served report hash-matches the batch
    dedup_clusters oracle over ALL pairs: incremental == batch, under
    the driver hash."""
    from pyspark.sql import functions as F

    from .operators.graph import incremental_components, serve_components

    pairs = cut_lineage(
        D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)
    )
    d = scratch_dir("cc_assign")
    for b in range(3):
        incremental_components(
            spark, d, pairs.filter(F.col("d2") % 3 == b)
        )
    return serve_components(spark, d)


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        f"sum((h // {1 << i}) % 2) AS b{i}" for i in range(T.SIMHASH_BITS)
    )
    sim_terms = " + ".join(
        f"(CASE WHEN b{i} * 2 > n_feat THEN {1 << i} ELSE 0 END)"
        for i in range(T.SIMHASH_BITS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {bi} AS band, (simhash // {1 << (8 * bi)}) % 256 AS bval FROM sim"
        for bi in range(T.SIMHASH_BANDS)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    remix AS (SELECT doc_id, {T.hash48_sql("CAST(s AS STRING)")} AS h FROM sh_all),
    agg AS (SELECT doc_id, count(*) AS n_feat, {bit_sums} FROM remix GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash FROM agg),
    banded AS ({band_selects}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval
        WHERE a.doc_id < b.doc_id
    )
    SELECT d1, d2, CAST(hamming AS INT) AS hamming FROM pairs WHERE hamming <= 3
    """


@spec("dedup_simhash", _simhash_oracle(), "dedup")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = D.simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)
    return out.select("d1", "d2", F.col("hamming").cast("int").alias("hamming"))


def _langid_oracle() -> str:
    score_cols = []
    for lang in T.LANG_PRIORITY:
        stops = ", ".join(f"'{s}'" for s in T.LANG_STOPWORDS[lang])
        score_cols.append(
            f"CAST(len(list_filter(list_distinct(w), x -> list_contains([{stops}], x))) AS INT) AS score_{lang}"
        )
    score_sql = ", ".join(score_cols)
    names = [f"score_{lang}" for lang in T.LANG_PRIORITY]
    ge = {
        "en": "score_en >= score_de AND score_en >= score_fr AND score_en >= score_es AND score_en >= score_zh",
        "de": "score_de >= score_fr AND score_de >= score_es AND score_de >= score_zh",
        "fr": "score_fr >= score_es AND score_fr >= score_zh",
        "es": "score_es >= score_zh",
    }
    return f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    scored AS (SELECT doc_id, {score_sql} FROM words)
    SELECT doc_id, {", ".join(names)},
           CASE WHEN greatest({", ".join(names)}) = 0 THEN 'unknown'
                WHEN {ge["en"]} THEN 'en'
                WHEN {ge["de"]} THEN 'de'
                WHEN {ge["fr"]} THEN 'fr'
                WHEN {ge["es"]} THEN 'es'
                ELSE 'zh' END AS pred_lang
    FROM scored
    """


@spec("language_id", _langid_oracle(), "text")
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = TA.language_id(_t(spark, sf_dir, "documents"))
    casts = [F.col(f"score_{l}").cast("int").alias(f"score_{l}") for l in T.LANG_PRIORITY]
    return out.select("doc_id", *casts, "pred_lang")


@spec(
    "text_quality",
    f"""
    WITH words AS (SELECT doc_id, text, n_chars, {_WORDS_DUCK} AS w FROM documents),
    feat AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars,
               CASE WHEN len(w) > 0
                    THEN (length(text) - (len(w) - 1)) * 1.0 / len(w)
                    ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(w) > 0
                    THEN len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) * 1.0 / len(w)
                    ELSE 0.0 END AS stop_ratio,
               CASE WHEN len(w) > 0
                    THEN len(list_distinct(w)) * 1.0 / len(w)
                    ELSE 0.0 END AS ttr
        FROM words
    )
    SELECT doc_id, n_words, n_chars,
           mean_word_len,
           stop_ratio AS stopword_ratio,
           ttr AS type_token_ratio,
           least(n_words / 100.0, 1.0) * 0.3 + least(mean_word_len / 8.0, 1.0) * 0.2
                 + stop_ratio * 0.2 + ttr * 0.3 AS quality_score,
           (least(n_words / 100.0, 1.0) * 0.3 + least(mean_word_len / 8.0, 1.0) * 0.2
                 + stop_ratio * 0.2 + ttr * 0.3) < 0.35 AS low_quality
    FROM feat
    """,
    "text",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = TA.quality_scores(_t(spark, sf_dir, "documents"))
    return out.withColumn("n_words", F.col("n_words").cast("long")).withColumn(
        "n_chars", F.col("n_chars").cast("long")
    )


@spec(
    "token_counts",
    f"""
    WITH words AS (SELECT doc_id, text, {_WORDS_DUCK} AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM words
    """,
    "text",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = TA.token_counts(_t(spark, sf_dir, "documents"))
    return out.withColumn("ws_tokens", F.col("ws_tokens").cast("long")).withColumn(
        "n_chars", F.col("n_chars").cast("long")
    )


@spec(
    "doc_fingerprints",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents)
    SELECT doc_id, {T.fingerprint_sql("w", "duckdb")} AS fingerprint
    FROM words
    """,
    "text",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.fingerprints(_t(spark, sf_dir, "documents"))


@spec(
    "doc_stats",
    """
    SELECT lang, source, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    "text", "A1",
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.doc_stats(_t(spark, sf_dir, "documents"))


@spec(
    "top_tokens",
    f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest({_WORDS_DUCK}) AS tok FROM documents
    )
    SELECT tok, count(*) AS doc_freq
    FROM toks GROUP BY tok
    ORDER BY doc_freq DESC, tok LIMIT 100
    """,
    "text", "vocab",
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.top_tokens(_t(spark, sf_dir, "documents"), k=100)


@spec(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS_DUCK}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tc FROM toks GROUP BY 1, 2),
    doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    df_ AS (
        SELECT tok, count(*) AS df
        FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
        HAVING count(*) >= 2
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               (tc * 1.0 / dl) * ln(n_docs * 1.0 / df) AS tfidf
        FROM tf JOIN doclen USING (doc_id) JOIN df_ USING (tok), nd
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, tok, round(tfidf, 6) AS tfidf
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, tok
        ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
    "text", "tfidf",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.tfidf_top_terms(_t(spark, sf_dir, "documents"))


@spec(
    "template_match",
    """
    WITH d AS (SELECT doc_id, levenshtein(lower(substr(text, 1, 24)), 'connection timeout') AS _d0, levenshtein(lower(substr(text, 1, 24)), 'invalid credentials') AS _d1, levenshtein(lower(substr(text, 1, 24)), 'payment failed') AS _d2, levenshtein(lower(substr(text, 1, 24)), 'page viewed') AS _d3, levenshtein(lower(substr(text, 1, 24)), 'item added') AS _d4 FROM documents),
    b AS (SELECT *, least(_d0, _d1, _d2, _d3, _d4) AS best FROM d)
    SELECT doc_id,
           CASE WHEN _d0 = best THEN 'connection timeout' WHEN _d1 = best THEN 'invalid credentials' WHEN _d2 = best THEN 'payment failed' WHEN _d3 = best THEN 'page viewed' WHEN _d4 = best THEN 'item added' END AS best_template,
           CAST(best AS INT) AS edit_dist
    FROM b
    """,
    "text", "log-parsing",
)
def q_template_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.match_templates(_t(spark, sf_dir, "documents"))


_SAMPLE_FRACTIONS = {"en": "80", "de": "40", "zh": "20"}  # 128/256, 64/256, 32/256
_SAMPLE_CASE = S.sample_oracle_case("lang", _SAMPLE_FRACTIONS)


@spec(
    "train_test_split",
    """
    SELECT CASE WHEN md5(concat('split-v1', ':', CAST(doc_id AS VARCHAR))) < '1a'
                THEN 'test' ELSE 'train' END AS split,
           lang, count(*) AS n
    FROM documents
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "north-star", "sampling",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.split_summary(_t(spark, sf_dir, "documents"), "doc_id", "lang")


@spec(
    "stratified_sample_docs",
    f"""
    SELECT lang, count(*) AS n_sampled
    FROM documents
    WHERE md5(concat('sample-v1', ':', CAST(doc_id AS VARCHAR))) < {_SAMPLE_CASE}
    GROUP BY lang ORDER BY lang
    """,
    "north-star", "sampling",
)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    sampled = S.stratified_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", _SAMPLE_FRACTIONS
    )
    return (
        sampled.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


_WORDS5_DUCK = T.words_sql("text", "duckdb")


def _decontaminate_oracle() -> str:
    return f"""
    WITH labeled AS (
        SELECT doc_id, lang, text,
               CASE WHEN md5(concat('split-v1', ':', CAST(doc_id AS VARCHAR))) < '1a'
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
    ),
    words AS (SELECT doc_id, lang, split, {_WORDS5_DUCK} AS w FROM labeled),
    whs AS (SELECT doc_id, lang, split,
                   {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    sh AS (
        SELECT DISTINCT doc_id, split,
               unnest({T.shingle_hash_array_sql('wh', 5, 'duckdb')}) AS s
        FROM whs
    ),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE split = 'test'),
    cont AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE split = 'train' AND s IN (SELECT s FROM eval_sh)
    )
    SELECT l.lang, count(*) AS n_train,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM labeled l LEFT JOIN cont c ON l.doc_id = c.doc_id
    WHERE l.split = 'train'
    GROUP BY l.lang ORDER BY l.lang
    """


@spec("decontaminate_report", _decontaminate_oracle(), "north-star", "decontamination")
def q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.decontaminate_report(_t(spark, sf_dir, "documents"))


@spec(
    "decontaminate_bloom",
    _decontaminate_oracle(),
    "north-star", "decontamination", "bloom",
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — IDENTICAL semantics to
    decontaminate_report (the in-plan bit-packed bloom filter only
    pre-screens the train side; exact verify removes false positives), so
    it shares the exact-form oracle. The bloom mechanics (superset
    property, fp-rate, bit math) are unit-tested in
    tests/test_training_ops.py."""
    return D.decontaminate_report_bloom(_t(spark, sf_dir, "documents"))


@spec(
    "duplicate_spans",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    whs AS (SELECT doc_id, {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest({T.shingle_hash_array_sql('wh', 10, 'duckdb')}) AS s
        FROM whs
    ),
    flagged AS (
        SELECT doc_id, count(*) OVER (PARTITION BY s) AS df FROM sh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_span_ratio
    FROM flagged GROUP BY doc_id
    """,
    "north-star", "dedup", "span-level",
)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.duplicate_spans(_t(spark, sf_dir, "documents"))


_SPAN_LENGTHS = (8, 16, 32)
_SPAN_INST = ", ".join(
    f"list_transform(list_distinct({T.shingle_hash_array_sql('wh', n, 'duckdb')}),"
    f" s -> {{'n': {n}, 's': s}})"
    for n in _SPAN_LENGTHS
)
_SPAN_TOT = ", ".join(
    f"{{'n': {n},"
    f" 't': len(list_distinct({T.shingle_hash_array_sql('wh', n, 'duckdb')}))}}"
    for n in _SPAN_LENGTHS
)


@spec(
    "span_dup_profile",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    whs AS (SELECT doc_id, {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    inst AS (
        SELECT doc_id, u.n AS n, u.s AS s FROM (
            SELECT doc_id, unnest(flatten([{_SPAN_INST}])) AS u FROM whs
        )
    ),
    uniq AS (
        SELECT doc_id, n, count(*) AS n_uniq FROM (
            SELECT n, s, count(*) AS df, min(doc_id) AS doc_id
            FROM inst GROUP BY 1, 2
        ) WHERE df = 1 GROUP BY 1, 2
    ),
    tot AS (
        SELECT doc_id, u.n AS n, u.t AS t FROM (
            SELECT doc_id, unnest([{_SPAN_TOT}]) AS u FROM whs
        )
    )
    SELECT doc_id,
           CAST(max(CASE WHEN t > coalesce(n_uniq, 0) THEN n ELSE 0 END)
                AS BIGINT) AS max_dup_span_len
    FROM tot LEFT JOIN uniq USING (doc_id, n) GROUP BY doc_id
    """,
    "north-star", "dedup", "span-level",
)
def q_span_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_dup_profile(_t(spark, sf_dir, "documents"), _SPAN_LENGTHS)


_WORDS3_DUCK = T.words_sql("text", "duckdb")


@spec(
    "repetition_scores",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS3_DUCK} AS w FROM documents),
    whs AS (SELECT doc_id, {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    sh AS (SELECT doc_id, {T.shingle_hash_array_sql('wh', 3, 'duckdb')} AS grams FROM whs)
    SELECT doc_id,
           CAST(len(grams) AS INTEGER) AS n_grams,
           CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
           round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                 / greatest(len(grams), 1), 6) AS dup_ratio,
           round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                 / greatest(len(grams), 1), 6) > 0.2 AS is_repetitive
    FROM sh
    """,
    "north-star", "text-quality",
)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.repetition_scores(_t(spark, sf_dir, "documents"))


_PARAS_DUCK = T.paragraphs_sql("text", "duckdb", mode="block", block_words=10)
_H_PARA = T.hash48_sql("para")


@spec(
    "dedup_paragraphs",
    f"""
    WITH p AS (
        SELECT doc_id, u.para_idx, u.para FROM (
            SELECT doc_id,
                   unnest(list_transform({_PARAS_DUCK},
                          (x, i) -> {{'para_idx': i - 1, 'para': x}})) AS u
            FROM documents)
    ),
    hh AS (
        SELECT doc_id, ({_H_PARA}) AS h,
               doc_id * 1048576 + para_idx AS ord
        FROM p
    ),
    f AS (SELECT h, min(ord) AS first_ord FROM hh GROUP BY h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN ord <> first_ord THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paras,
           CAST(sum(CASE WHEN ord <> first_ord THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_para_frac
    FROM hh JOIN f USING (h)
    GROUP BY doc_id
    """,
    "north-star", "dedup", "paragraph-level",
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.paragraph_dedup(
        _t(spark, sf_dir, "documents"), mode="block", block_words=10
    )


@spec(
    "doc_length_quartiles",
    f"""
    WITH s AS (
        SELECT doc_id, CAST(len({_WORDS_DUCK}) AS INT) AS n_words
        FROM documents
    ),
    th AS (
        SELECT [quantile_cont(n_words, 0.25), quantile_cont(n_words, 0.5),
                quantile_cont(n_words, 0.75)] AS th
        FROM s
    )
    SELECT doc_id, n_words,
           CAST(1 + (CASE WHEN n_words > th[1] THEN 1 ELSE 0 END)
                  + (CASE WHEN n_words > th[2] THEN 1 ELSE 0 END)
                  + (CASE WHEN n_words > th[3] THEN 1 ELSE 0 END) AS INT)
               AS quartile
    FROM s, th
    """,
    "north-star", "text-quality", "quantile-binning",
)
def q_doc_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.doc_length_quartiles(_t(spark, sf_dir, "documents"))


@spec(
    "charclass_profile",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
               AS n_alpha,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digit,
           length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g'))
               AS n_space,
           length(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z]', '', 'g'), '[0-9]', '', 'g'), '[ \t\n]', '', 'g'))
               AS n_other,
           round((length(text) - length(regexp_replace(text, '[A-Za-z]', '',
               'g'))) / greatest(length(text), 1), 6) AS alpha_ratio
    FROM documents
    """,
    "north-star", "text-quality", "charclass",
)
def q_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.charclass_profile(_t(spark, sf_dir, "documents"))


def _pii_aug_sql() -> str:
    # planted, doc_id-derived PII so the extraction path is exercised on a
    # corpus that contains none organically; doc_id % 2 picks email
    # carriers, % 3 picks phone carriers — mixed counts, not all-ones
    return (
        "text || (CASE WHEN doc_id % 2 = 0 THEN ' contact user' || "
        "CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) || "
        "(CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"
    )


def _pii_oracle() -> str:
    email, phone = TA.PII_EMAIL_RE, TA.PII_PHONE_RE
    red = (
        f"regexp_replace(regexp_replace(aug, '{email}', '<EMAIL>', 'g'), "
        f"'{phone}', '<PHONE>', 'g')"
    )
    return f"""
    WITH a AS (SELECT doc_id, {_pii_aug_sql()} AS aug FROM documents),
    r AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{email}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(aug, '{phone}')) AS BIGINT)
                   AS n_phones,
               {red} AS red
        FROM a
    )
    SELECT doc_id, n_emails, n_phones,
           {T.hash48_sql('red')} AS redacted_fp
    FROM r
    """


@spec("pii_scan", _pii_oracle(), "north-star", "pii", "redaction")
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect+redact over a deterministically augmented corpus (the
    synthetic documents carry no organic PII; the planted spans make the
    extraction path a real end-to-end check, like the fixture PNGs in
    image_dimensions)."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return TA.pii_scan(aug)


def _contamination_overlap_oracle() -> str:
    wh5 = T.shingle_hash_array_sql("wh", 5, "duckdb")
    return f"""
    WITH words AS (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents),
    whs AS (
        SELECT doc_id, {T.word_hash_array_sql('w', 'duckdb')} AS wh
        FROM words
    ),
    sh AS (
        SELECT DISTINCT doc_id, unnest({wh5}) AS s,
               CASE WHEN md5(concat('split-v1:', CAST(doc_id AS VARCHAR)))
                    < '1a' THEN 'test' ELSE 'train' END AS split
        FROM whs
    ),
    ev AS (SELECT DISTINCT s, 1 AS _hit FROM sh WHERE split = 'test')
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(COALESCE(_hit, 0)) AS BIGINT) AS n_matched,
           round(sum(COALESCE(_hit, 0)) / CAST(count(*) AS DOUBLE), 6)
               AS overlap_ratio
    FROM sh LEFT JOIN ev USING (s)
    WHERE split = 'train'
    GROUP BY sh.doc_id
    """


@spec(
    "contamination_overlap",
    _contamination_overlap_oracle(),
    "north-star", "decontamination", "graded",
)
def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.contamination_overlap(_t(spark, sf_dir, "documents"))


def _dedup_keep_table_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_cte()},
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
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
        FROM canon c JOIN documents d USING (doc_id)
    )
    SELECT d.doc_id,
           COALESCE(r.cluster_id, d.doc_id) AS cluster_id,
           CAST(COALESCE(r.cluster_size, 1) AS BIGINT) AS cluster_size,
           COALESCE(r.rn = 1, TRUE) AS keep
    FROM documents d LEFT JOIN ranked r USING (doc_id)
    """


@spec(
    "dedup_keep_table",
    _dedup_keep_table_oracle(),
    "north-star", "dedup", "quality-keeper",
)
def q_dedup_keep_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_keep_table(_t(spark, sf_dir, "documents"))


def _weighted_sample_oracle(k: int = 50) -> str:
    u = S.uniform01_oracle_sql("doc_id", "wsample-v1")
    return f"""
    WITH u AS (
        SELECT doc_id, source, n_chars,
               round(ln({u}) / n_chars, 12) AS sample_key
        FROM documents WHERE n_chars > 0
    )
    SELECT * FROM u ORDER BY sample_key DESC, doc_id LIMIT {k}
    """


@spec(
    "weighted_sample_docs",
    _weighted_sample_oracle(),
    "north-star", "sampling", "A-ES",
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted (n_chars-proportional) reproducible top-50 sample."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return S.weighted_sample(docs, "doc_id", "n_chars", 50)


def _shard_assignment_oracle(n_shards: int = 8) -> str:
    h = T.hash48_sql("concat('shard-v1:', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH h AS (
        SELECT doc_id, source, {h} AS hk FROM documents
    )
    SELECT doc_id, source,
           CAST(hk % {n_shards} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hk % {n_shards}
               ORDER BY hk, doc_id) AS BIGINT) AS pos
    FROM h
    """


@spec(
    "shard_assignment",
    _shard_assignment_oracle(),
    "north-star", "training-order", "sharding",
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return S.shard_assignment(docs, "doc_id", n_shards=8)


def _subword_oracle() -> str:
    pat = TA.GPT2_PRETOKEN_RE.replace("'", "''")  # SQL-literal escape
    segs = f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
    SELECT doc_id,
           CAST({segs} AS BIGINT) AS pretoken_segments,
           CAST(len({_WORDS_DUCK}) AS BIGINT) AS ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens,
           round(length(text) / CAST(greatest({segs}, 1) AS DOUBLE), 6)
               AS chars_per_segment
    FROM documents
    """


@spec(
    "subword_token_counts",
    _subword_oracle(),
    "north-star", "tokenization", "gpt2-pretokenizer",
)
def q_subword_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.subword_token_counts(_t(spark, sf_dir, "documents"))


def _tokenizer_fertility_oracle() -> str:
    pat = TA.GPT2_PRETOKEN_RE.replace("'", "''")
    segs = f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
    WITH d AS (
        SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
               CAST({segs} AS BIGINT) AS segs,
               CAST(len({_WORDS_DUCK}) AS BIGINT) AS words
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(segs) AS BIGINT) AS total_segments,
           round(CAST(sum(segs) AS DOUBLE)
                 / greatest(sum(words), 1), 6) AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE)
                 / greatest(sum(segs), 1), 6) AS chars_per_segment
    FROM d GROUP BY lang ORDER BY lang
    """


@spec(
    "tokenizer_fertility",
    _tokenizer_fertility_oracle(),
    "north-star", "tokenization", "multilingual",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (segments/word) and compression
    (chars/segment) from the GPT-2 pretokenizer grain — the
    multilingual-fairness report read before fixing a tokenizer for a
    training mix."""
    return TA.tokenizer_fertility(_t(spark, sf_dir, "documents"))


def _dataset_card_oracle() -> str:
    h = T.hash48_sql("text")
    return f"""
    WITH base AS (
        SELECT doc_id, source, lang, length(text) AS n_chars, {h} AS h
        FROM documents
    ),
    ps AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 6) AS mean_chars,
               quantile_cont(n_chars, 0.5) AS p50_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM base GROUP BY source
    ),
    lm AS (
        SELECT source, lang AS top_lang FROM (
            SELECT source, lang, count(*) AS n,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n DESC, lang DESC) AS rn
            FROM base GROUP BY source, lang
        ) WHERE rn = 1
    ),
    dup AS (
        SELECT source,
               round(sum(c - 1) / CAST(sum(c) AS DOUBLE), 6)
                   AS exact_dup_frac
        FROM (SELECT source, h, count(*) AS c FROM base GROUP BY source, h)
        GROUP BY source
    )
    SELECT ps.*, lm.top_lang, dup.exact_dup_frac
    FROM ps JOIN lm USING (source) JOIN dup USING (source)
    """


@spec(
    "dataset_card",
    _dataset_card_oracle(),
    "north-star", "curation", "data-card",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.dataset_card(_t(spark, sf_dir, "documents"))


def _cross_source_oracle() -> str:
    return f"""
    WITH {_minhash_cte()},
    prs AS (SELECT d1, d2 FROM verified WHERE jaccard >= 0.8),
    lab AS (
        SELECT least(a.source, b.source) AS source_a,
               greatest(a.source, b.source) AS source_b
        FROM prs
        JOIN documents a ON prs.d1 = a.doc_id
        JOIN documents b ON prs.d2 = b.doc_id
    )
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM lab GROUP BY source_a, source_b
    """


@spec(
    "cross_source_dup_matrix",
    _cross_source_oracle(),
    "north-star", "dedup", "provenance",
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.cross_source_dup_matrix(_t(spark, sf_dir, "documents"))


def _streaming_registry_twin_oracle(n_batches: int = 3) -> str:
    """The streaming registry's keep set, UNROLLED over a fixed batch
    split (batch = doc_id % n_batches): batch b's survivors are the docs
    with no band key in the registry minted by batches < b; within the
    batch, first-wins per band key over the survivor set (one-pass chain
    rule — keep iff minimum doc_id on EVERY owned key). Docs with no
    shingles (shorter than n words) carry no band keys and are always
    kept. max_doc_freq=0 on both sides: a per-batch hot-shingle cap would
    make results depend on the slicing."""
    rows = len(T.MINHASH_PERMS) // T.MINHASH_BANDS
    mh_cols = ", ".join(
        f"min({T.minhash_value_sql('s', T.MINHASH_PERMS[j])}) AS mh_{j}"
        for j in range(len(T.MINHASH_PERMS))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws('_', "
        + ", ".join(f"mh_{bi * rows + r}" for r in range(rows))
        + ") AS bkey FROM sig_all"
        for bi in range(T.MINHASH_BANDS)
    )
    ctes = [
        f"""{_SHINGLE_CTE},
    sig_all AS (SELECT doc_id, {mh_cols} FROM sh_all GROUP BY doc_id),
    banded_all AS ({band_selects}),
    bat AS (SELECT doc_id, band, bkey,
                   CAST(doc_id % {n_batches} AS INT) AS b FROM banded_all)"""
    ]
    kept_unions = []
    for b in range(n_batches):
        if b == 0:
            ctes.append("s0 AS (SELECT * FROM bat WHERE b = 0)")
        else:
            reg = " UNION ".join(
                f"SELECT DISTINCT band, bkey FROM bat "
                f"JOIN k{i} USING (doc_id)"
                for i in range(b)
            )
            ctes.append(f"r{b} AS ({reg})")
            ctes.append(
                f"""s{b} AS (
        SELECT * FROM bat WHERE b = {b} AND doc_id NOT IN (
            SELECT t.doc_id FROM bat t
            JOIN r{b} USING (band, bkey) WHERE t.b = {b}))"""
            )
        ctes.append(
            f"""k{b} AS (
        SELECT DISTINCT d.doc_id FROM s{b} d WHERE NOT EXISTS (
            SELECT 1 FROM s{b} a JOIN s{b} x
            ON a.band = x.band AND a.bkey = x.bkey
            WHERE a.doc_id = d.doc_id AND x.doc_id < d.doc_id))"""
        )
        kept_unions.append(f"SELECT doc_id FROM k{b}")
    kept_unions.append(
        "SELECT doc_id FROM documents "
        "WHERE doc_id NOT IN (SELECT doc_id FROM banded_all)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, CAST(doc_id % {n_batches} AS INT) AS batch
    FROM ({" UNION ALL ".join(kept_unions)})
    ORDER BY doc_id
    """
    )


@spec(
    "streaming_dedup_registry_twin",
    _streaming_registry_twin_oracle(),
    "north-star", "streaming", "dedup", "T7-ext",
)
def q_streaming_dedup_registry_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL streaming registry sink (streaming/dedup.py
    minhash_dedup_sink — the foreachBatch component) over 3 deterministic
    micro-batches (batch = doc_id % 3, processed in order) and return the
    accepted set. The oracle unrolls the same first-arrival-wins registry
    semantics in SQL, so the driver hash-checks the streaming component's
    keep decisions end-to-end — registry persistence, replay guard, and
    in-batch chain rule included."""
    from pyspark.sql import functions as F

    from .streaming.dedup import minhash_dedup_sink

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir("registry_twin")
    sink = minhash_dedup_sink(out, n=3, max_doc_freq=0)
    for b in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == b), b)
    kept = spark.read.parquet(f"{out}/kept")
    return (
        kept.select(
            "doc_id", F.col("_batch").cast("int").alias("batch")
        ).orderBy("doc_id")
    )


def _substring_containment_oracle(n: int = 3, max_df: int = 5000) -> str:
    """Rarest-shingle blocking + sentinel-space contains() verify — the
    same two phases as the Spark operator, constant-for-constant."""
    return f"""
    WITH {_SHINGLE_CTE},
    dfreq AS (SELECT s, count(*) AS df FROM sh_all GROUP BY s),
    normd AS (
        SELECT doc_id, ' ' || array_to_string(w, ' ') || ' ' AS ns,
               len(w) AS nw
        FROM words
    ),
    rarest AS (
        SELECT doc_id, s, df FROM (
            SELECT t.doc_id, t.s, d.df,
                   row_number() OVER (
                       PARTITION BY t.doc_id ORDER BY d.df, t.s) AS rn
            FROM sh_all t JOIN dfreq d USING (s)
        ) WHERE rn = 1 AND df <= {max_df}
    ),
    cand AS (
        SELECT DISTINCT r.doc_id AS a, t.doc_id AS b
        FROM rarest r
        JOIN normd na ON r.doc_id = na.doc_id AND na.nw >= {n}
        JOIN sh_all t ON r.s = t.s AND t.doc_id <> r.doc_id
    )
    SELECT a AS contained_id, b AS container_id
    FROM cand
    JOIN normd x ON cand.a = x.doc_id
    JOIN normd y ON cand.b = y.doc_id
    WHERE contains(y.ns, x.ns)
      AND (length(x.ns) < length(y.ns) OR (x.ns = y.ns AND a > b))
    ORDER BY contained_id, container_id
    """


@spec(
    "dedup_substrings",
    _substring_containment_oracle(),
    "north-star", "dedup", "substring-grain",
)
def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document substring containment (the word-grain distributed
    form of suffix-array substring dedup)."""
    return D.substring_containment_pairs(_t(spark, sf_dir, "documents"))


def _leakage_safe_split_oracle() -> str:
    """Cluster canonical ids via the recursive-CTE component resolution,
    then the same md5 threshold split on coalesce(canonical, own id)."""
    return f"""
    WITH RECURSIVE {_minhash_cte()},
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
    canon AS (
        SELECT node AS doc_id, min(label) AS canonical_id
        FROM cc GROUP BY node
    )
    SELECT d.doc_id,
           coalesce(c.canonical_id, d.doc_id) AS split_unit_id,
           CASE WHEN md5(concat_ws(':', 'split-v1',
                    CAST(coalesce(c.canonical_id, d.doc_id) AS VARCHAR)))
                    < '1a'
                THEN 'test' ELSE 'train' END AS split
    FROM documents d LEFT JOIN canon c USING (doc_id)
    ORDER BY d.doc_id
    """


@spec(
    "leakage_safe_split",
    _leakage_safe_split_oracle(),
    "north-star", "sampling", "dedup", "leakage",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-grain train/test split — no near-dup family ever
    straddles the split boundary."""
    return S.leakage_safe_split(_t(spark, sf_dir, "documents"))


def _quality_feature_matrix_oracle() -> str:
    """Combined single-SELECT oracle for the wide feature frame — the same
    fragments as the text_quality / language_id / charclass_profile /
    subword_token_counts oracles, assembled over one ``words`` CTE."""
    langid_scores = []
    for lang in T.LANG_PRIORITY:
        stops = ", ".join(f"'{s}'" for s in T.LANG_STOPWORDS[lang])
        langid_scores.append(
            f"len(list_filter(list_distinct(w), "
            f"x -> list_contains([{stops}], x))) AS score_{lang}"
        )
    names = [f"score_{lang}" for lang in T.LANG_PRIORITY]
    ge = {
        "en": "score_en >= score_de AND score_en >= score_fr AND score_en >= score_es AND score_en >= score_zh",
        "de": "score_de >= score_fr AND score_de >= score_es AND score_de >= score_zh",
        "fr": "score_fr >= score_es AND score_fr >= score_zh",
        "es": "score_es >= score_zh",
    }
    pat = TA.GPT2_PRETOKEN_RE.replace("'", "''")
    return f"""
    WITH words AS (
        SELECT doc_id, source, lang, text, {_WORDS_DUCK} AS w FROM documents
    ),
    feat AS (
        SELECT doc_id, source, lang, text, w,
               CAST(len(w) AS INT) AS n_words,
               CAST(length(text) AS INT) AS n_chars_q,
               CASE WHEN len(w) > 0
                    THEN (length(text) - (len(w) - 1)) * 1.0 / len(w)
                    ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(w) > 0
                    THEN len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) * 1.0 / len(w)
                    ELSE 0.0 END AS stop_ratio,
               CASE WHEN len(w) > 0
                    THEN len(list_distinct(w)) * 1.0 / len(w)
                    ELSE 0.0 END AS ttr,
               {", ".join(langid_scores)},
               length(text) AS cc_total,
               length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS cc_alpha,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS cc_digit,
               length(text) - length(regexp_replace(text, '[ \\t\\n]', '', 'g')) AS cc_space,
               len(regexp_extract_all(text, '{pat}')) AS segs
        FROM words
    )
    SELECT doc_id, source, lang,
           n_words, n_chars_q AS n_chars,
           mean_word_len,
           stop_ratio AS stopword_ratio,
           ttr AS type_token_ratio,
           least(n_words / 100.0, 1.0) * 0.3 + least(mean_word_len / 8.0, 1.0) * 0.2
                 + stop_ratio * 0.2 + ttr * 0.3 AS quality_score,
           (least(n_words / 100.0, 1.0) * 0.3 + least(mean_word_len / 8.0, 1.0) * 0.2
                 + stop_ratio * 0.2 + ttr * 0.3) < 0.35 AS low_quality,
           CASE WHEN greatest({", ".join(names)}) = 0 THEN 'unknown'
                WHEN {ge["en"]} THEN 'en'
                WHEN {ge["de"]} THEN 'de'
                WHEN {ge["fr"]} THEN 'fr'
                WHEN {ge["es"]} THEN 'es'
                ELSE 'zh' END AS pred_lang,
           CAST(cc_alpha AS BIGINT) AS n_alpha,
           CAST(cc_digit AS BIGINT) AS n_digit,
           CAST(cc_space AS BIGINT) AS n_space,
           CAST(cc_total - cc_alpha - cc_digit - cc_space AS BIGINT) AS n_other,
           round(cc_alpha * 1.0 / greatest(cc_total, 1), 6) AS alpha_ratio,
           CAST(segs AS BIGINT) AS pretoken_segments,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens
    FROM feat
    """


@spec(
    "quality_feature_matrix",
    _quality_feature_matrix_oracle(),
    "north-star", "curation", "features",
)
def q_quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan wide per-doc feature frame (quality + lang + charclass +
    token budgets) for quality-filter training."""
    from pyspark.sql import functions as F

    out = TA.quality_feature_matrix(_t(spark, sf_dir, "documents"))
    return out.withColumn("n_words", F.col("n_words").cast("int")).withColumn(
        "n_chars", F.col("n_chars").cast("int")
    )


def _snapshot_diff_oracle() -> str:
    h = T.hash48_sql("text")
    h2 = T.hash48_sql("concat(text, ' v2')")
    return f"""
    WITH old AS (
        SELECT doc_id, {h} AS old_fp FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN {h2} ELSE {h} END AS new_fp
        FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.old_fp IS NULL THEN 'added'
                WHEN n.new_fp IS NULL THEN 'removed'
                WHEN o.old_fp <> n.new_fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.old_fp, n.new_fp
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    ORDER BY doc_id
    """


@spec(
    "snapshot_diff",
    _snapshot_diff_oracle(),
    "north-star", "incremental", "delta",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot delta on synthetic old/new views of the corpus
    (old = ids not divisible by 7; new = ids not divisible by 5 with every
    third doc's text revised)."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return D.snapshot_diff(old, new)


@spec(
    "bpe_token_counts",
    None,
    "north-star", "tokenization", "bpe-training", "rows-only",
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 24-merge BPE tokenizer on the corpus's word-frequency table
    (distributed iterations over DISTINCT words only — the corpus is read
    once), then encode every document with it. Rows-only: the iterative
    argmax loop has no single-SQL DuckDB twin; exact merge-list and
    token-count parity vs a pure-Python reference is asserted in
    tests/test_bpe.py."""
    from .operators import bpe

    docs = _t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=24, min_pair_count=2)
    return bpe.bpe_token_counts(docs, merges)


@spec(
    "heavy_hitter_words",
    None,
    "north-star", "sketch-registry", "misra-gries", "rows-only",
)
def q_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-64 corpus tokens from mergeable Misra-Gries partials (≤k rows
    shuffled per partition — never the distinct-word domain). Rows-only:
    MG contents depend on stream order, so no DuckDB twin; the
    lower/upper-bound and coverage invariants (order-free) are asserted
    vs exact counts in tests/test_mg.py."""
    from .operators import sketches as SK

    return SK.heavy_hitter_words(_t(spark, sf_dir, "documents"), k=64)


def _ksample_oracle(k: int = 40) -> str:
    u = S.uniform01_oracle_sql("doc_id", "ksample-v1")
    return f"""
    WITH u AS (SELECT doc_id, source, {u} AS _u FROM documents),
    r AS (
        SELECT doc_id, source,
               CAST(row_number() OVER
                   (PARTITION BY source ORDER BY _u, doc_id) AS INT)
                   AS sample_rank
        FROM u
    )
    SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= {k}
    """


@spec(
    "sample_k_per_source",
    _ksample_oracle(),
    "north-star", "sampling", "reservoir",
)
def q_sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deterministic 40-per-source sample via the cutoff-prefilter
    reservoir (the window sorts ~160 candidate rows per group, never the
    group). The oracle runs the naive full-window form — equality IS the
    correctness claim."""
    docs = _t(spark, sf_dir, "documents")
    return S.sample_k_per_group(docs, "source", "doc_id", 40).select(
        "doc_id", "source", "sample_rank"
    )


@spec(
    "vocab_growth_report",
    f"""
    WITH w AS (
        SELECT source, unnest({_WORDS_DUCK}) AS word FROM documents
    ),
    t AS (SELECT source, word, count(*) AS cnt FROM w GROUP BY source, word),
    s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
        FROM t GROUP BY source
    ),
    d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
    SELECT s.source, d.n_docs, s.n_tokens, s.n_types, s.n_hapax,
           round(s.n_types / CAST(s.n_tokens AS DOUBLE), 6)
               AS type_token_ratio,
           round(s.n_hapax / CAST(s.n_types AS DOUBLE), 6) AS hapax_frac
    FROM s JOIN d USING (source) ORDER BY s.source
    """,
    "north-star", "corpus-stats", "A-ext",
)
def q_vocab_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical profile (types, tokens, hapax fraction) — the
    Heaps'-law inputs to vocabulary sizing."""
    from .operators import analytics as A2

    return A2.vocab_growth_report(_t(spark, sf_dir, "documents"))


def _bm25_oracle() -> str:
    from .operators import retrieval as R

    return R.bm25_oracle_sql()


@spec("bm25_search", _bm25_oracle(), "north-star", "retrieval", "bench")
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked lexical retrieval: BM25 top-10 per query over the inverted
    tf table, query terms broadcast onto the postings. The oracle recomputes
    the full scoring pipeline in SQL with the identical expression tree."""
    from .operators import retrieval as R

    return R.bm25_topk(_t(spark, sf_dir, "documents"))


def _chunk_oracle() -> str:
    from .operators import retrieval as R

    return R.chunk_oracle_sql()


@spec("chunk_documents", _chunk_oracle(), "north-star", "retrieval", "rag")
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG token-window chunking (32-token chunks, 8-token overlap):
    zero-shuffle in-row posexplode; exact string match against the
    generate_series/list_slice oracle."""
    from .operators import retrieval as R

    return R.chunk_documents(_t(spark, sf_dir, "documents"))


def _fuzzy_oracle() -> str:
    from .operators import matching as M

    return M.fuzzy_pairs_oracle_sql("customer", "c_custkey", "c_name", 1)


@spec("fuzzy_customer_pairs", _fuzzy_oracle(), "north-star", "entity-resolution")
def q_fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 entity matching over customer names via COMPLETE
    delete-neighborhood (SymSpell) blocking + Levenshtein verify; the
    oracle runs the naive quadratic join, so a hash match proves the
    blocking loses no pair."""
    from .operators import matching as M

    return M.fuzzy_pairs(
        _t(spark, sf_dir, "customer"), "c_custkey", "c_name", max_ed=1
    )


def _hybrid_rrf_oracle() -> str:
    from .operators import retrieval as R

    return R.hybrid_rrf_oracle_sql()


@spec("hybrid_search_rrf", _hybrid_rrf_oracle(), "north-star", "retrieval")
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval: BM25 + tf-idf-cosine candidate pools
    fused by Reciprocal Rank Fusion — the full pipeline (both rankers,
    both rank windows, the fusion outer join) hash-matched against one
    DuckDB query."""
    from .operators import retrieval as R

    return R.hybrid_search_rrf(_t(spark, sf_dir, "documents"))


def _streaming_bm25_oracle() -> str:
    from .operators import retrieval as R

    return R.bm25_oracle_sql()


@spec(
    "streaming_bm25_twin",
    _streaming_bm25_oracle(),
    "north-star", "streaming", "retrieval", "T-ext",
)
def q_streaming_bm25_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL streaming index sink (streaming/search_index.py)
    over 3 deterministic micro-batches (batch = doc_id % 3), then serve
    BM25 from the registry alone. BM25's corpus stats are additive across
    disjoint batches, so the ranking must hash-match the FULL-corpus BM25
    oracle — proving the incremental index loses nothing."""
    from pyspark.sql import functions as F

    from .streaming.search_index import bm25_from_index, index_sink

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir("search_index")
    sink = index_sink(out)
    for b in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == b), b)
    return bm25_from_index(spark, out)


def _rag_oracle() -> str:
    from .operators import retrieval as R

    return R.rag_chunk_search_oracle_sql()


@spec("rag_chunk_search", _rag_oracle(), "north-star", "retrieval", "rag")
def q_rag_chunk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: token-window chunking feeding chunk-grain
    BM25, top-3 context chunks per query with provenance — the whole
    composed pipeline hash-matches one DuckDB query."""
    from .operators import retrieval as R

    return R.rag_chunk_search(_t(spark, sf_dir, "documents"))


_PMI_ORACLE = f"""
WITH words AS (SELECT {_WORDS_DUCK} AS t FROM documents),
uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(t) AS w FROM words) GROUP BY w
),
big_all AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
    FROM (
        SELECT t[i - 1] AS w1, t[i] AS w2
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM words WHERE len(t) >= 2)
    ) GROUP BY w1, w2
),
tot AS (
    SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS t_total,
           (SELECT CAST(sum(n_pair) AS BIGINT) FROM big_all) AS b_total
)
SELECT b.w1, b.w2, b.n_pair,
       round(ln(CAST(b.n_pair AS DOUBLE)) - ln(CAST(t.b_total AS DOUBLE))
             - ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE))
             + 2.0 * ln(CAST(t.t_total AS DOUBLE)), 6) AS pmi
FROM big_all b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2, tot t
WHERE b.n_pair >= 5
ORDER BY pmi DESC, b.w1, b.w2
LIMIT 100
"""


@spec("token_pmi", _PMI_ORACLE, "text", "collocation", "pmi")
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked adjacent-token collocations (phrase mining / tokenizer
    merge candidates) — margins and joint composed in identical term
    order on both engines; see operators/textanalysis.py token_pmi."""
    return TA.token_pmi(_t(spark, sf_dir, "documents"), min_count=5, k=100)


# ---------------------------------------------------------------------------
# r7 registrations: corpus-structure diagnostics + dictionary matching
# (rehearsed through the driver harness in r6; oracles live next to the
# operators so the two sides cannot drift)
# ---------------------------------------------------------------------------


@spec("dup_shingle_profile", D.dup_shingle_profile_oracle_sql(), "dedup", "profiling")
def q_dup_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus exposure profile of duplicated 5-gram shingles (what share
    of each document's shingles are corpus-duplicated) — the dedup
    DIAGNOSTIC that says how much minhash/substring dedup would remove
    before running either. Shingle-grain df join, never all-pairs."""
    return D.dup_shingle_profile(_t(spark, sf_dir, "documents"))


from .operators.dictmatch import (  # noqa: E402
    dictionary_match_oracle_sql as _dict_oracle_sql,
)


@spec(
    "dictionary_match_counts",
    _dict_oracle_sql(),
    "text", "dictionary", "aho-corasick",
)
def q_dictionary_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho–Corasick dictionary totals: (term, n_docs, n_occurrences) in
    ONE automaton pass per document regardless of dictionary size (the
    brute-force oracle is O(K·text)). Overlap-inclusive counts."""
    from .operators.dictmatch import DICT_TERMS, dictionary_match_counts

    return dictionary_match_counts(
        _t(spark, sf_dir, "documents"), list(DICT_TERMS)
    )


@spec("textrank_keywords", TA.textrank_oracle_sql(), "text", "graph", "iterative")
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keywords: weighted PageRank over the
    adjacent-token co-occurrence graph, top 50. Vocab-grain iteration —
    |bigram vocab| edges per step regardless of corpus size."""
    return TA.textrank_keywords(_t(spark, sf_dir, "documents"))


@spec(
    "token_communities",
    TA.token_communities_oracle_sql(),
    "text", "graph", "iterative", "communities",
)
def q_token_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted label propagation over the co-occurrence
    graph: which words move TOGETHER (communities), complementing
    textrank's which words MATTER (centrality). Exact BIGINT masses and
    a total argmax tie order make the unrolled oracle hash-match."""
    return TA.token_communities(_t(spark, sf_dir, "documents"))


@spec("compression_quality", None, "text", "quality", "north-star", "rows-only")
def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression-ratio quality signal (the Gopher /
    RefinedWeb low-entropy filter). Rows-only: DuckDB has no deflate;
    closed-form fixtures (constant text, random text, empty) pin the
    ratio arithmetic in tests/test_compression_quality.py."""
    return TA.compression_quality(_t(spark, sf_dir, "documents"))


@spec("vocab_divergence", TA.vocab_divergence_oracle_sql(), "text", "corpus-structure")
def q_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise KL + Jensen-Shannon between per-source smoothed unigram
    distributions over the union vocabulary — the corpus-mixing
    diagnostic at token grain. Exact BIGINT counts; ln-sums rounded 6 dp
    after aggregation on both engines."""
    return TA.vocab_divergence(_t(spark, sf_dir, "documents"))


@spec("zipf_fit", TA.zipf_fit_oracle_sql(), "text", "corpus-structure")
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares ln(freq) ~ ln(rank) over the top-500 tokens: slope
    ≈ −1 with high r² is the one-number 'looks like language' check.
    Vocab-grain count + TakeOrdered; the fit is 500 rows at any SF."""
    return TA.zipf_fit(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r8 registrations (rehearsed r7, ROADMAP r8 map): containment dedup +
# the crawl-ingest lanes (HTML extraction, URL normalization, Unicode
# cleanup) feeding curate_web_corpus.
# ---------------------------------------------------------------------------


@spec(
    "dedup_containment",
    D.shingle_containment_oracle_sql(),
    "dedup", "containment", "ppjoin", "bench",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-set containment pairs (Broder resemblance,
    quote-inclusion detection) with PPJoin prefix filtering — candidate
    pairs come only from each doc's rarest ⌈(1−t)·|A|⌉ shingles joined
    against the inverted index, never the full df² blow-up. Measured
    alpha 0.545 on the Heaps vocab-growth decade (ROADMAP r7 ledger);
    the frozen-vocab decade's 1.39 is a fixture artifact documented in
    the operator docstring. Prefix bound is exact-integer (r7 ADVICE)."""
    return D.shingle_containment_pairs(
        _t(spark, sf_dir, "documents")
    ).orderBy("d1", "d2")


from .operators import htmlextract as HX  # noqa: E402
from .operators import textnorm as TN  # noqa: E402
from .operators import urls as U  # noqa: E402


@spec(
    "html_text_extract",
    HX.html_extract_oracle_sql(),
    "html", "crawl", "zero-shuffle",
)
def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl WET step: script/style removal FIRST, then
    title / main-content / boilerplate isolation, link count, and the
    content-ratio quality signal — all JVM string expressions, zero
    shuffle (plan-pinned). The synthetic page generator is itself pure
    SQL, and the DuckDB oracle recomputes expectations closed-form from
    (doc_id, text) without parsing HTML, so the hash proves the
    extractor reverses the generator byte-exactly."""
    return HX.html_text_extract(
        HX.with_synthetic_html_payload(_t(spark, sf_dir, "documents"))
    ).orderBy("doc_id")


@spec("url_parse", U.url_parse_oracle_sql(), "url", "crawl", "zero-shuffle")
def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse + normalization (lowercase host, leading-www strip,
    default-port drop, query-param sort, fragment removal) plus the
    public-suffix-style registered domain — the curation pipeline's
    dedup/rollup key (README.md:62's parsed_data flattening made
    explicit). Per-row JVM regex expressions; closed-form oracle."""
    return U.parse_urls(
        U.with_synthetic_url_column(_t(spark, sf_dir, "documents"))
    ).orderBy("doc_id")


@spec(
    "url_domain_report",
    U.url_domain_report_oracle_sql(),
    "url", "crawl", "A-ext",
)
def q_url_domain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain rollup over the parsed URLs: page count,
    distinct hosts, scheme split — the crawl-frontier mix report a
    domain-cap curation rule consumes. One aggregate after the
    zero-shuffle parse."""
    return U.url_domain_report(
        U.with_synthetic_url_column(_t(spark, sf_dir, "documents"))
    )


@spec(
    "normalize_text",
    TN.normalize_text_oracle_sql(),
    "text", "unicode", "zero-shuffle",
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleanup lane: NFKC fold, zero-width strip, NBSP→space,
    whitespace collapse over a reversible noise injection — the oracle
    checks md5(normalized) == md5(original) plus word-arithmetic
    removal counts, so the driver hash proves the Unicode pipeline
    without DuckDB doing any Unicode."""
    return TN.normalize_text(
        TN.with_noisy_text(_t(spark, sf_dir, "documents"))
    )


from .operators.retrieval import kwic_oracle_sql as _kwic_oracle  # noqa: E402


@spec(
    "kwic_snippets",
    _kwic_oracle(),
    "retrieval", "search-serving", "zero-shuffle",
)
def q_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippet extraction (the search-result render
    step): per-document non-overlapping ±2-word windows around the
    query term, as (n_matches, first/last snippet). One RE2-safe JVM
    regex pass, zero shuffle; the DuckDB twin runs the SAME pattern
    under identical leftmost-greedy semantics."""
    from .operators.retrieval import kwic_snippets

    return kwic_snippets(_t(spark, sf_dir, "documents"))


@spec(
    "readability_scores",
    TA.readability_oracle_sql(),
    "text", "quality", "zero-shuffle",
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability from vowel-run syllables and
    terminal-punctuation sentences — unrounded per-row double formulas
    (the quality_scores convention); the oracle CASTs its constants AS
    DOUBLE so both engines run the identical IEEE sequence."""
    return TA.readability_scores(_t(spark, sf_dir, "documents"))


@spec(
    "token_entropy",
    TA.token_entropy_oracle_sql(),
    "text", "quality", "A-ext",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the within-doc token
    distribution (repetition/diversity signal), in the associative
    H = ln n − (Σ c·ln c)/n form over exact BIGINT counts, 6-dp rounded
    after aggregation. Map-side combine keeps the shuffle at
    distinct-token grain."""
    return TA.token_entropy(_t(spark, sf_dir, "documents"))


@spec(
    "word_triangles",
    TA.word_triangles_oracle_sql(),
    "text", "graph", "A-ext",
)
def q_word_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + clustering coefficient over the token
    co-occurrence graph (degree-orientation wedge bound — a degree-10⁶
    hub generates zero wedges instead of 10¹²). Exact BIGINT triangle
    counts; the DuckDB twin enumerates a<b<c directly."""
    return TA.word_triangles(_t(spark, sf_dir, "documents"))


@spec(
    "novelty_scores",
    D.novelty_scores_oracle_sql(),
    "dedup", "sampling", "curation",
)
def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty: the fraction of a doc's distinct
    n-gram shingles whose FIRST occurrence (min doc_id — the dedup keep
    rule) is this doc, i.e. what the doc ADDS to the corpus. The
    dedup-aware sampling complement of dup_shingle_profile: same shared
    shingle_table scan, one shingle-keyed min-aggregate + one doc-keyed
    count; shuffles carry (shingle, doc) longs only."""
    return D.novelty_scores(_t(spark, sf_dir, "documents"))


def _word_kcore_oracle(k: int = 3, min_weight: int = 2) -> str:
    from .operators.graph import kcore_oracle_sql

    words_duck = T.words_sql("text", "duckdb")
    edge_cte = f"""
        WITH words AS (SELECT {words_duck} AS t FROM documents),
        pairs AS (
            SELECT least(t[i - 1], t[i]) AS a, greatest(t[i - 1], t[i]) AS b
            FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
                  FROM words WHERE len(t) >= 2)
        ),
        und AS (
            SELECT a, b FROM pairs WHERE a <> b GROUP BY 1, 2
            HAVING count(*) >= {min_weight}
        )
        SELECT a AS src, b AS dst FROM und
        UNION ALL
        SELECT b AS src, a AS dst FROM und
    """
    return kcore_oracle_sql(edge_cte, k=k)


@spec(
    "word_kcore",
    _word_kcore_oracle(),
    "text", "graph", "A-ext",
)
def q_word_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the token co-occurrence graph (Seidman 1983 peeling):
    the dense vocabulary nucleus — iterative sub-k-degree removal to
    fixpoint, RAISING past the unroll bound instead of returning a
    non-fixpoint; vocab-grain edge list, one count + two semi-joins per
    peel."""
    from .operators.graph import kcore_decomposition

    return kcore_decomposition(
        TA.cooccurrence_edges(_t(spark, sf_dir, "documents"))
    )


def _lsh_quality_oracle(threshold: float = 0.8, max_bucket: int = 2000) -> str:
    """Per-band LSH audit twin (rehearsed r10 candidate
    `lsh_quality_report`): the _minhash_cte machinery with the band id
    KEPT on candidate pairs (a pair found by two bands counts in both),
    bucket counts per band, and the same 4-dp-rounded Jaccard verify."""
    rows = len(T.MINHASH_PERMS) // T.MINHASH_BANDS
    mh_cols = ", ".join(
        f"min({T.minhash_value_sql('s', T.MINHASH_PERMS[j])}) AS mh_{j}"
        for j in range(len(T.MINHASH_PERMS))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws('_', "
        + ", ".join(f"mh_{bi * rows + r}" for r in range(rows))
        + ") AS bkey FROM sig"
        for bi in range(T.MINHASH_BANDS)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    sig AS MATERIALIZED (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    banded AS MATERIALIZED ({band_selects}),
    sized AS MATERIALIZED (
        SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM banded
    ),
    bucket_counts AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_buckets FROM (
            SELECT DISTINCT band, bkey FROM sized
            WHERE bsz BETWEEN 2 AND {max_bucket}
        ) GROUP BY 1
    ),
    cand AS MATERIALIZED (
        SELECT a.band, a.doc_id AS d1, b.doc_id AS d2
        FROM sized a JOIN sized b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id AND a.bsz <= {max_bucket}
    ),
    hsets AS MATERIALIZED (
        SELECT doc_id, array_agg(DISTINCT s) AS ss
        FROM sh_all GROUP BY doc_id
    ),
    verified AS (
        SELECT c.band,
               round(len(list_intersect(h1.ss, h2.ss)) * 1.0 /
                     (len(h1.ss) + len(h2.ss)
                      - len(list_intersect(h1.ss, h2.ss))), 4)
                   >= {threshold} AS is_true
        FROM cand c
        JOIN hsets h1 ON c.d1 = h1.doc_id
        JOIN hsets h2 ON c.d2 = h2.doc_id
    ),
    per_band AS (
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true
        FROM verified GROUP BY 1
    )
    SELECT CAST(b.band AS INT) AS band, b.n_buckets,
           COALESCE(p.n_candidates, 0) AS n_candidates,
           COALESCE(p.n_true, 0) AS n_true,
           round(CAST(COALESCE(p.n_true, 0) AS DOUBLE)
                 / CAST(COALESCE(p.n_candidates, 1) AS DOUBLE), 6)
               AS precision
    FROM bucket_counts b LEFT JOIN per_band p ON b.band = p.band
    ORDER BY b.band
    """


@spec(
    "lsh_quality_report",
    _lsh_quality_oracle(),
    "dedup", "north-star", "audit", "bench",
)
def q_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band MinHash-LSH audit (r10 queue, rehearsed r9): candidate
    precision per band against TRUE shingle Jaccard — the
    measure-don't-guess check of the (bands, rows) config. One shared
    shingle scan feeds signatures and the verify sets; band id kept on
    candidate pairs so a pair found by two bands counts in both."""
    from .operators.dedup import lsh_quality_report

    return lsh_quality_report(_t(spark, sf_dir, "documents"))


from .operators.retrieval import (  # noqa: E402
    rm3_expanded_search as _rm3_search,
    rm3_oracle_sql as _rm3_oracle,
)


@spec(
    "rm3_expanded_search",
    _rm3_oracle(),
    "retrieval", "north-star", "prf", "bench",
)
def q_rm3_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance-feedback search (Lavrenko & Croft 2001;
    r10 queue, rehearsed r9): BM25 first pass, relevance-model term
    extraction from the top fb_docs, interpolated second pass. The
    (doc, tok) tf frame is persisted once for its four consumers
    (plan-pinned in tests/test_rm3.py); term frames broadcast."""
    return _rm3_search(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r11 registrations (rehearsed in r10 — tests/test_char_windows.py,
# tests/test_prox_rerank.py, tests/test_retrieval_eval.py,
# tests/test_jaccard_sweep.py run the compare harness)
# ---------------------------------------------------------------------------


@spec(
    "char_window_dup_profile",
    D.char_window_dup_oracle_sql(),
    "dedup", "char-grain", "bench",
)
def q_char_window_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-grain substring duplication profile (Lee et al. 2022
    — the suffix-array dedup signal as stride-1 fixed-window equality;
    r11 queue, rehearsed r10). Window-function plan (dup windows via
    count() OVER the window hash, no self-join) — measured 6.8→3.5 s
    at 50k docs, alpha_10x 0.274 post-optimization."""
    return D.char_window_dup_profile(_t(spark, sf_dir, "documents"))


from .operators.retrieval import (  # noqa: E402
    proximity_rerank as _prox_rerank,
    proximity_rerank_oracle_sql as _prox_oracle,
    retrieval_eval_report as _retr_eval,
    retrieval_eval_oracle_sql as _retr_eval_oracle,
)


@spec(
    "proximity_rerank",
    _prox_oracle(),
    "retrieval", "rerank", "bench",
)
def q_proximity_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage rerank with joint (query, doc) proximity + coverage
    features over BM25 candidates — the cross-encoder serving shape at
    deterministic feature grain (r11 queue, rehearsed r10);
    alpha_10x 0.234, candidate-bounded second stage."""
    return _prox_rerank(_t(spark, sf_dir, "documents"))


@spec(
    "retrieval_eval_report",
    _retr_eval_oracle(),
    "retrieval", "eval", "bench",
)
def q_retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 / MRR / binary nDCG@10 of BM25 vs the proximity
    rerank against verbatim phrase-containment pseudo-qrels —
    quantifies the second stage's win instead of asserting it (r11
    queue, rehearsed r10). Zero-relevant queries: recall/ndcg NULL on
    both engines; qrel pass plan-pinned broadcast (never cartesian);
    alpha_10x 0.089."""
    return _retr_eval(_t(spark, sf_dir, "documents"))


def _jaccard_sweep_oracle(
    sample_fraction: float | None = None,
    adaptive_target: int | None = None,
    salt: str = "sweep-v1",
) -> str:
    """DuckDB twin for `jaccard_threshold_sweep`: the shared shingle
    CTE + the same decile floor (clamped to 9) + a 10-row descending
    cumulative sum; optional deterministic keyed-hash doc sample (same
    hash48 predicate as the operator). The N-adaptive form derives the
    threshold from DuckDB's own count(*) of the same table via the
    SAME shared arithmetic fragment the Spark plan embeds
    (dedup.adaptive_sweep_threshold_sql), so a static oracle string
    mirrors a corpus-size-dependent fraction exactly."""
    shingle_cte = _SHINGLE_CTE
    if sample_fraction is not None and adaptive_target is not None:
        raise ValueError("fixed or adaptive, not both")
    if adaptive_target is not None:
        thr = D.adaptive_sweep_threshold_sql(
            "SELECT count(*) FROM documents", adaptive_target
        )
        h = T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
        shingle_cte = shingle_cte.replace(
            "FROM documents",
            f"FROM (SELECT * FROM documents WHERE ({h}) % 10000 < ({thr}))",
            1,
        )
    elif sample_fraction is not None:
        thresh = D.sample_threshold(sample_fraction)
        h = T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
        shingle_cte = shingle_cte.replace(
            "FROM documents",
            f"FROM (SELECT * FROM documents WHERE ({h}) % 10000 < {thresh})",
            1,
        )
    return f"""
    WITH {shingle_cte},
    {_JACCARD_CORE.format(sh="sh")},
    banded AS (
        SELECT least(CAST(floor(jaccard * 10) AS INT), 9) AS band
        FROM jac
    ),
    hist AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
        FROM banded GROUP BY 1
    )
    SELECT round(band / 10.0, 1) AS band_lo, n_pairs,
           CAST(sum(n_pairs) OVER (
               ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_pairs_ge
    FROM hist
    ORDER BY band_lo
    """


@spec(
    "jaccard_threshold_sweep",
    _jaccard_sweep_oracle(adaptive_target=D.ADAPTIVE_SWEEP_TARGET),
    "dedup", "audit", "sampled",
)
def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-similarity decile histogram over co-shingle pairs — the
    dedup-threshold picking audit (where is the near-dup valley).
    REGISTERED IN THE N-ADAPTIVE SAMPLED FORM per the r11 verdict: the
    exact all-pairs sweep is Σ df² (measured alpha 1.24, super-linear
    by construction), and the r11 FIXED 0.3 fraction inherited that
    exponent (measured alpha_100x 1.6 at the third decade — p² is a
    constant factor, not an exponent fix). The registered entry
    derives p = min(1, sqrt(450/N)) from an in-plan corpus count —
    within-sample pair count held at the 450-doc-exact-sweep level at
    ANY corpus size, whole-doc sampling so the similarity-distribution
    shape stays unbiased — with the threshold arithmetic a single
    shared SQL fragment on both engines (pinned in
    tests/test_plans.py; target 450 lands the sf0.1 point at exactly
    the r11 threshold 3000, so bench comparison is apples-to-apples).
    The exact form stays available as the operator default for
    small-corpus / per-shard diagnostics."""
    return D.jaccard_threshold_sweep(
        _t(spark, sf_dir, "documents"),
        adaptive_target=D.ADAPTIVE_SWEEP_TARGET,
    )


# ---------------------------------------------------------------------------
# r12 registrations (rehearsed in r11 — tests/test_bm25_incremental.py,
# tests/test_affix_profile.py, tests/test_lcp_neighbor.py ran the compare
# harness at both SFs before these @spec lines landed)
# ---------------------------------------------------------------------------


from .operators.retrieval import bm25_oracle_sql as _bm25_oracle  # noqa: E402


@spec(
    "bm25_incremental_twin",
    _bm25_oracle(),
    "north-star", "retrieval", "incremental", "txlog",
)
def q_bm25_incremental_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked search
    over an INCREMENTALLY-maintained posting registry — base postings
    committed as txlog v0, the delta docs' postings appended as v1
    (merge-on-read), search run on the merged read. Hash-matching the
    from-scratch bm25 oracle over the full corpus proves the
    incremental maintenance path is exact: same ranking, same scores,
    without re-tokenizing the base corpus."""
    from pyspark.sql import functions as F

    from .operators.retrieval import bm25_incremental_index, bm25_topk

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    t = scratch_dir("bm25_inc")
    registry = bm25_incremental_index(base, delta, t)
    return bm25_topk(docs, tf=registry)


# ---------------------------------------------------------------------------
# r13 registrations (rehearsed in r12 — tests/test_bm25_delete.py,
# tests/test_registry_lifecycle.py, tests/test_lsh_incremental.py ran the
# compare harness at both SFs before these @spec lines landed; the four
# r12-advice fixes landed with regression tests BEFORE registration)
# ---------------------------------------------------------------------------


def bm25_delete_oracle_sql() -> str:
    """Batch-rebuild oracle on the post-delete corpus: the registry
    read must be indistinguishable from never having indexed the
    deleted docs at all."""
    return _bm25_oracle().replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 7 <> 3)",
        1,
    )


def lsh_incremental_oracle_sql() -> str:
    """Batch rebuild on the union corpus, signatures filtered against
    the hot-shingle list computed on the BASE slice (doc_id % 5 != 0)
    — the frozen-metadata form the registry commits
    (dedup.lsh_frozen_hot; the r13 third-decade fix)."""
    return f"""
    WITH {_minhash_cte(sig_src="sh_all", base_hot_pred="doc_id % 5 <> 0")}
    SELECT d1, d2, jaccard FROM verified WHERE jaccard >= 0.8
    ORDER BY d1, d2
    """


@spec(
    "bm25_delete_twin",
    bm25_delete_oracle_sql(),
    "north-star", "retrieval", "incremental", "txlog", "delete",
)
def q_bm25_delete_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked search
    after a TOMBSTONE DELETE on the incrementally-maintained posting
    registry — base postings at v0, doc-grain tombstones appended at
    v1, the merged read anti-joins the dead docs out. Hash-matching
    the from-scratch batch oracle over the POST-DELETE corpus proves
    deletion-aware stats (N, avgdl, df all shrink) come out exact
    without rewriting the base postings."""
    from pyspark.sql import functions as F

    from .operators.retrieval import bm25_incremental_delete, bm25_topk

    docs = _t(spark, sf_dir, "documents")
    dels = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    t = scratch_dir("bm25_inc_del")
    live = bm25_incremental_delete(docs, dels, t)
    return bm25_topk(docs, tf=live)


@spec(
    "bm25_compaction_twin",
    bm25_delete_oracle_sql(),
    "north-star", "retrieval", "incremental", "txlog", "compaction",
)
def q_bm25_compaction_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked search
    AFTER registry compaction — base postings v0, tombstones v1,
    txlog.rewrite_snapshot folds them into a rewritten v2 of the
    live_rows, and search reads v2 with the PLAIN scan path (no
    tombstone filtering left).
    Hash-matching the post-delete batch oracle proves compaction is a
    pure physical rewrite; the manifest-level test pins the fewer-files
    and no-tombstones facts plus v1's unchanged time-travel read."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX
    from .operators.retrieval import bm25_incremental_delete, bm25_topk

    docs = _t(spark, sf_dir, "documents")
    dels = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    t = scratch_dir("bm25_inc_cmp")
    bm25_incremental_delete(docs, dels, t)  # v0 + v1 (tombstones)
    TX.rewrite_snapshot(  # v2: folded rewrite
        spark, t, lambda snap: TX.live_rows(snap, "doc_id", "tc").coalesce(1)
    )
    return bm25_topk(docs, tf=TX.read_snapshot(spark, t))


@spec(
    "char_window_incremental_twin",
    D.char_window_hash_oracle_sql(),
    "north-star", "dedup", "char-grain", "incremental", "txlog",
)
def q_char_window_incremental_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Char-grain duplication
    profile over an incrementally-maintained (doc, window-hash)
    registry — base postings v0, delta appended v1, df analytic
    recomputed over the merged read (df is corpus-dependent and
    deliberately NOT stored). Hash-matches the from-scratch hashed-key
    batch profile on the union corpus."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    t = scratch_dir("charwin_inc")
    return D.char_window_incremental_profile(base, delta, t)


@spec(
    "lsh_incremental_twin",
    lsh_incremental_oracle_sql(),
    "north-star", "dedup", "incremental", "txlog",
)
def q_lsh_incremental_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over an
    incrementally-maintained LSH band-key registry — base keys at v0,
    delta keys appended at v1 (merge-on-read), candidates from the
    merged registry, true-Jaccard verify over the union. Hash-matching
    the from-scratch batch LSH (uncapped signatures) proves the dedup
    index composes under ingest without re-signaturing the base."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    t = scratch_dir("lsh_inc")
    return D.lsh_incremental_pairs(base, delta, t)


@spec(
    "shared_affix_profile",
    D.shared_affix_oracle_sql(),
    "dedup", "char-grain", "boilerplate",
)
def q_shared_affix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared prefix/suffix per document at power-of-two char
    rungs — the document-EDGE boilerplate signal complementing the
    interior fixed-window profile (char_window_dup_profile)."""
    return D.shared_affix_profile(_t(spark, sf_dir, "documents"))


@spec(
    "lcp_neighbor_profile",
    D.lcp_neighbor_oracle_sql(),
    "dedup", "char-grain", "suffix-array",
)
def q_lcp_neighbor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact capped-LCP with any other document via range-partitioned
    lexicographic neighbors — the suffix-array escalation of the affix
    rung ladder. mode="range" since r13: the r12 first-char partition
    key caps parallelism at ≤256 and serializes on skewed corpora —
    measured by a one-off r13 skew A/B (bench rows in the PERF_r13.json
    / PERF_r14.json ledgers) at the third decade (500k docs:
    first_char 11.5 s plain / 29.5 s under an 80%-shared-prefix skew;
    range 5.7 / 4.7 s — 2x faster unskewed, skew-IMMUNE, still exact
    via the boundary-pass fix)."""
    return D.lcp_neighbor_profile(_t(spark, sf_dir, "documents"), mode="range")


# ---------------------------------------------------------------------------
# r14 queue (rehearsed in r13, NOT yet registered — the standing
# pre-measure-then-register cadence; tests/test_lsh_lifecycle.py runs the
# compare harness at both SFs before any @spec line lands)
# ---------------------------------------------------------------------------


def lsh_lifecycle_oracle_sql() -> str:
    """Batch rebuild on the POST-DELETE union corpus with the
    base-frozen hot filter: after the full add/delete/compact
    lifecycle the registry read must be indistinguishable from never
    having indexed the deleted docs — EXCEPT the frozen hot list,
    which was computed when the soon-deleted docs were still present
    (metadata freezes at registry creation; its refresh is a rebuild),
    so the hot CTE sees the full base slice while sig/verify see only
    live docs."""
    return f"""
    WITH {_minhash_cte(
        sig_src="sh_all",
        base_hot_pred="doc_id % 5 <> 0",
        corpus_pred="doc_id % 7 <> 3",
    )}
    SELECT d1, d2, jaccard FROM verified WHERE jaccard >= 0.8
    ORDER BY d1, d2
    """


def q_lsh_compaction_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs after the dedup registry's FULL lifecycle — base
    band keys v0, delta keys appended v1, doc-grain tombstones v2,
    txlog.rewrite_snapshot folds them into a rewritten v3, and candidate
    generation reads the PLAIN compacted scan. Hash-matching the batch
    LSH over the post-delete union proves compaction is a pure
    physical rewrite of the dedup index (r14 queue; completes the
    add/delete/compact triangle bm25_compaction_twin closed for the
    search index — reference tie: the incremental-batch discipline of
    scripts/run_incremental_batch.py:29-41)."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    dels = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    t = scratch_dir("lsh_lc")
    return D.lsh_registry_lifecycle_pairs(base, delta, dels, t)


def bloom_rebuild_oracle_sql() -> str:
    """The exact decontamination oracle restricted to the RETAINED eval
    slice (even-doc_id test docs) — what the rebuilt filter must
    match after 'deleting' the odd-doc_id eval slice."""
    return f"""
    WITH labeled AS (
        SELECT doc_id, lang, text,
               CASE WHEN md5(concat('split-v1', ':', CAST(doc_id AS VARCHAR))) < '1a'
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
    ),
    words AS (SELECT doc_id, lang, split, {_WORDS5_DUCK} AS w FROM labeled),
    whs AS (SELECT doc_id, lang, split,
                   {T.word_hash_array_sql('w', 'duckdb')} AS wh FROM words),
    sh AS (
        SELECT DISTINCT doc_id, split,
               unnest({T.shingle_hash_array_sql('wh', 5, 'duckdb')}) AS s
        FROM whs
    ),
    eval_sh AS (
        SELECT DISTINCT s FROM sh WHERE split = 'test' AND doc_id % 2 = 0
    ),
    cont AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE split = 'train' AND s IN (SELECT s FROM eval_sh)
    )
    SELECT l.lang, count(*) AS n_train,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated
    FROM labeled l LEFT JOIN cont c ON l.doc_id = c.doc_id
    WHERE l.split = 'train'
    GROUP BY l.lang ORDER BY l.lang
    """


def q_bloom_rebuild_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom registry's delete-as-
    REBUILD path (r14 queue): shared bits make OR non-invertible, so
    removing an eval slice rebuilds the filter from the retained
    slices (overwrite commit; the pre-delete filter stays
    time-travelable). The report must match the exact oracle
    restricted to the retained eval slice — completing the per-family
    delete semantics (postings/LSH/IVF tombstone, CM negates, bloom
    rebuilds)."""
    from .operators.dedup import decontaminate_bloom_rebuild

    t = scratch_dir("bloom_rb")
    return decontaminate_bloom_rebuild(
        _t(spark, sf_dir, "documents"), t
    )


def q_bloom_incremental_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination bloom
    as a sketch registry under eval-suite growth — word frames
    committed per eval slice, OR-merged at read (bloom union IS
    bitwise OR: idempotent, overlap-tolerant, no tombstones). Matches
    the exact decontaminate_report oracle over the full eval split,
    proving the registry composes under growth (r14 queue; fourth
    registry family, opposite merge algebra)."""
    from .operators.dedup import decontaminate_bloom_incremental

    t = scratch_dir("bloom_inc")
    return decontaminate_bloom_incremental(
        _t(spark, sf_dir, "documents"), t
    )
