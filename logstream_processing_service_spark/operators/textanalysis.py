"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Spark SQL expressions (no UDFs) — per-row, embarrassingly
parallel, zero shuffle; exactly what you want applied to 100 TB of raw
documents before any heavier stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def _word_col() -> F.Column:
    return T.words(F.col("text"))


def _langid_cols() -> tuple[dict[str, F.Column], F.Column]:
    """(per-language score columns, pred_lang column) — shared by
    ``language_id`` and ``quality_feature_matrix`` so the heuristic
    cannot drift between the two."""
    w = F.array_distinct(_word_col())
    scores = {
        lang: F.size(
            F.array_intersect(w, F.array(*[F.lit(s) for s in stops]))
        )
        for lang, stops in T.LANG_STOPWORDS.items()
    }
    best = F.lit(0)
    pred = F.lit("unknown")
    # iterate in REVERSE priority so earlier languages win ties
    for lang in reversed(T.LANG_PRIORITY):
        s = scores[lang]
        pred = F.when(s >= best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, s)
    return scores, F.when(best > 0, pred).otherwise(F.lit("unknown"))


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-overlap language heuristic.

    Scores each language by the count of distinct tokens found in its
    stopword set; ties resolve by fixed priority order. (Real pipelines
    swap in fastText/CLD3 behind the same column contract.)
    """
    scores, pred = _langid_cols()
    return documents.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in T.LANG_PRIORITY],
        pred.alias("pred_lang"),
    )


def _quality_cols() -> list[F.Column]:
    """Aliased quality-feature columns — shared by ``quality_scores`` and
    ``quality_feature_matrix``."""
    w = _word_col()
    n_words = F.size(w)
    n_chars = F.length(F.col("text"))
    mean_wlen = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(
        F.lit(0.0)
    )
    en_stops = F.array(*[F.lit(s) for s in T.LANG_STOPWORDS["en"]])
    stop_ratio = F.when(
        n_words > 0,
        F.size(F.filter(w, lambda x: F.array_contains(en_stops, x))) / n_words,
    ).otherwise(F.lit(0.0))
    ttr = F.when(n_words > 0, F.size(F.array_distinct(w)) / n_words).otherwise(
        F.lit(0.0)
    )
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.3
        + F.least(mean_wlen / F.lit(8.0), F.lit(1.0)) * 0.2
        + stop_ratio * 0.2
        + ttr * 0.3
    )
    # NO rounding: every feature is a per-row deterministic double formula,
    # so the bits are reproducible across engines/cluster sizes — while
    # round() itself differs between engines near half-boundaries (Spark
    # HALF_UP on the exact binary value vs DuckDB's decimal-string view).
    return [
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        mean_wlen.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        score.alias("quality_score"),
        (score < 0.35).alias("low_quality"),
    ]


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score.

    Features mirror standard corpus-filtering recipes: length, mean word
    length, stopword ratio, type-token ratio. The composite is a fixed
    linear blend; ``low_quality`` flags the filter decision.
    """
    return documents.select("doc_id", *_quality_cols())


def token_counts(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish byte-length estimate
    (≈ chars/4, the standard rule of thumb for LLM budgeting)."""
    w = _word_col()
    n_chars = F.length(F.col("text"))
    return documents.select(
        "doc_id",
        F.size(w).alias("ws_tokens"),
        F.ceil(n_chars / F.lit(4.0)).alias("bpe_est_tokens"),
        n_chars.alias("n_chars"),
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document (content id
    robust to storage location; catches exact dups incl. reordered corpora
    distinctions that set-based hashes miss)."""
    words_expr = T.words_sql("text", "spark")
    return documents.select(
        "doc_id",
        F.expr(T.fingerprint_sql(words_expr, "spark")).alias("fingerprint"),
    )


def doc_stats(documents: DataFrame) -> DataFrame:
    """Corpus stats rollup by (lang, source): volume, length moments."""
    return (
        documents.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


def top_tokens(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k tokens by document frequency (the first
    step of any tokenizer/vocab build over a training corpus).

    Scale: explode → two-level aggregation; the (token, doc) dedup and the
    token count both partial-aggregate map-side, so shuffle volume is
    bounded by vocabulary size, not corpus size.
    """
    words = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
    ).distinct()
    return (
        words.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "tok")
        .limit(k)
    )


def tfidf_top_terms(documents: DataFrame, per_doc: int = 3, min_df: int = 2) -> DataFrame:
    """Per-document top TF-IDF terms — the classic relevance/keyword
    extraction over a training corpus, entirely in SQL.

    tf = termcount/doclen; idf = ln(N/df); ties broken lexically.
    Scale: three aggregations, all shuffled on bounded keys (token or doc);
    the document count is a broadcast scalar.
    """
    toks = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tc"))
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_ = (
        toks.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tc") / F.col("dl")) * F.log(F.col("n_docs") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_doc)
        .select("doc_id", "rank", "tok", F.round("tfidf", 6).alias("tfidf"))
    )


TEMPLATES = (
    "connection timeout",
    "invalid credentials",
    "payment failed",
    "page viewed",
    "item added",
)


def match_templates(documents: DataFrame, templates: tuple[str, ...] = TEMPLATES) -> DataFrame:
    """Nearest-template matching by edit distance over the first 24 chars
    (the log-parsing primitive the reference approximates with clustering:
    every log gets its closest known pattern + distance).

    Scale: per-row scalar expression chain (no shuffle, no UDF);
    ``levenshtein`` is a JVM builtin in both Spark and DuckDB.
    """
    probe = F.lower(F.substring(F.col("text"), 1, 24))
    dists = [F.levenshtein(probe, F.lit(t)).alias(f"_d{i}") for i, t in enumerate(templates)]
    out = documents.select("doc_id", *dists)
    best = F.least(*[F.col(f"_d{i}") for i in range(len(templates))])
    pick = None
    for i, t in reversed(list(enumerate(templates))):
        cur = F.lit(t)
        pick = cur if pick is None else F.when(F.col(f"_d{i}") == best, cur).otherwise(pick)
    return out.select(
        "doc_id",
        pick.alias("best_template"),
        best.cast("int").alias("edit_dist"),
    )


def repetition_scores(documents: DataFrame, n: int = 3) -> DataFrame:
    """Intra-document repetition: fraction of duplicate word n-grams
    (the Gopher/C4-family quality signal for boilerplate and degenerate
    text; distinct from type_token_ratio, which ignores word ORDER).

    Scale shape: pure per-row expressions — the shingle-HASH array (rolling
    word-hash combination, functions/text.py; no shingle strings are ever
    built) is deduplicated inside one codegen'd projection (size vs
    array_distinct size), no explode, no shuffle, nothing wide. At 100 TB
    this runs at scan speed.
    """
    # let-bound (T.let_sql), not withColumn-staged: all four output
    # columns come out of ONE binding of the shingle array, immune to
    # the alias-inlining rewrites that made the curate_corpus funnel
    # O(len²) per doc (projection collapse has a cheapness guard today,
    # but the binding removes the dependence on it)
    stats = F.expr(
        T.let_sql(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark"),
            "wh",
            T.let_sql(
                T.shingle_hash_array_sql("wh", n),
                "s",
                "struct(size(s) AS t, size(array_distinct(s)) AS d)",
            ),
        )
    )
    # one named struct column: referencing stats' fields directly would
    # replicate the whole binding per output column; CollapseProject's
    # cheapness guard keeps this multi-referenced non-cheap alias staged
    # (and the plan pin in tests/test_plans.py asserts exactly one md5)
    staged = documents.withColumn("_st", stats)
    total = F.col("_st")["t"]
    distinct = F.col("_st")["d"]
    dup_ratio = F.round(
        (total - distinct).cast("double") / F.greatest(total, F.lit(1)).cast("double"),
        6,
    )
    return staged.select(
        "doc_id",
        total.alias("n_grams"),
        distinct.alias("n_distinct"),
        dup_ratio.alias("dup_ratio"),
        (dup_ratio > 0.2).alias("is_repetitive"),
    )


def doc_length_quartiles(documents: DataFrame) -> DataFrame:
    """Quantile binning of documents by token count — the scale-safe form.

    A global ``NTILE(4)`` is an all-data single-task window (total sort on
    one partition — the one shape that cannot survive 100 TB). Instead:
    one map-combined global aggregate computes the exact interpolated
    quartile thresholds, broadcasts them back, and the bin is an in-row
    comparison sum. Same result, no total sort, no single-task stage.

    Determinism note: thresholds interpolate INTEGER token counts at
    p ∈ {¼, ½, ¾} — the fraction is exactly representable in binary, so
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` produce
    bit-identical doubles and the bin boundaries cannot drift.
    """
    scored = documents.select(
        "doc_id", F.size(_word_col()).cast("int").alias("n_words")
    )
    th = scored.agg(
        F.percentile(
            "n_words", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("th")
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            "n_words",
            F.expr(
                "CAST(1 + aggregate(transform(th, "
                "t -> CASE WHEN n_words > t THEN 1 ELSE 0 END), "
                "0, (a, x) -> a + x) AS INT)"
            ).alias("quartile"),
        )
    )


def charclass_profile(documents: DataFrame) -> DataFrame:
    """Per-document character-class composition: counts and ratios of
    letters / digits / whitespace / other. The cheapest corpus-health
    signal there is — OCR garbage, binary spill, and markup-heavy pages
    all show up as an anomalous non-letter ratio long before any
    model-based quality score runs.

    Scale shape: four regexp_replace length differences per row, zero
    shuffle, fully codegen'd — streams straight off the scan at any scale.
    """
    return documents.select("doc_id", *_charclass_cols())


def _charclass_cols() -> list[F.Column]:
    """Aliased character-class columns — shared by ``charclass_profile``
    and ``quality_feature_matrix``."""
    total = F.length("text")
    n_alpha = total - F.length(F.regexp_replace("text", "[A-Za-z]", ""))
    n_digit = total - F.length(F.regexp_replace("text", "[0-9]", ""))
    n_space = total - F.length(F.regexp_replace("text", "[ \\t\\n]", ""))
    return [
        total.cast("bigint").alias("n_chars"),
        n_alpha.cast("bigint").alias("n_alpha"),
        n_digit.cast("bigint").alias("n_digit"),
        n_space.cast("bigint").alias("n_space"),
        (total - n_alpha - n_digit - n_space).cast("bigint").alias("n_other"),
        F.round(n_alpha / F.greatest(total, F.lit(1)), 6).alias("alpha_ratio"),
    ]


PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def pii_scan(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction audit: per document, counts of email and
    phone-shaped spans and the 48-bit fingerprint of the REDACTED text
    (emails → ``<EMAIL>``, phones → ``<PHONE>``) so a downstream diff can
    prove redaction actually changed exactly the flagged docs.

    The regexes are deliberately the portable subset (character classes +
    bounded repeats) that Java's and RE2-family engines agree on, so the
    DuckDB oracle replays them bit-for-bit; a production pass swaps in the
    full presidio-style pattern bank behind the same column contract.

    Scale shape: in-row regexp work only, zero shuffle; the fingerprint is
    the same dual-dialect hash48 used everywhere else.
    """
    redacted = F.regexp_replace(
        F.regexp_replace(text_col, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(text_col, F.lit(PII_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text_col, F.lit(PII_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        redacted.alias("_red"),
    ).select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.expr(T.hash48_sql("_red", dialect="spark")).alias("redacted_fp"),
    )


# GPT-2-style pretokenizer (Radford et al. 2019 / tiktoken's base split),
# restricted to the lookahead-free subset both Java regex and RE2 support
# bit-identically: contractions, space-prefixed letter/number runs,
# space-prefixed punctuation runs, whitespace runs.
GPT2_PRETOKEN_RE = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
)


def subword_token_counts(documents: DataFrame) -> DataFrame:
    """LLM token budgeting, one step up from chars/4: count GPT-2
    pretokenizer segments (the units a BPE vocabulary merges within —
    subword token count is bounded below by this and the two track each
    other closely on natural text), alongside the whitespace and chars/4
    estimates so the three budgets can be compared per document.

    Scale shape: one regexp scan per row, zero shuffle, codegen'd.
    """
    segs = F.size(
        F.regexp_extract_all("text", F.lit(GPT2_PRETOKEN_RE), 0)
    ).cast("bigint")
    w = _word_col()
    return documents.select(
        "doc_id",
        segs.alias("pretoken_segments"),
        F.size(w).cast("bigint").alias("ws_tokens"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("bigint").alias(
            "bpe_est_tokens"
        ),
        F.round(
            F.length("text")
            / F.greatest(segs, F.lit(1)).cast("double"),
            6,
        ).alias("chars_per_segment"),
    )


def dataset_card(documents: DataFrame) -> DataFrame:
    """Per-source dataset card: the one-page summary a data curator reads
    before mixing a source into a training run — volume, length profile
    (mean + exact interpolated median), language mix, and the exact-dup
    rate within the source.

    Scale shape: two grouped aggregates over the scan (doc grain → source
    grain) plus a tiny source-grain join; the language mode and dup rate
    both reduce map-side. ``percentile`` is the exact interpolated median
    (matches DuckDB ``quantile_cont`` bit-for-bit on integer inputs —
    same determinism argument as ``doc_length_quartiles``).
    """
    # persisted: three different grouping grains (source / source,lang /
    # source,hash) consume this doc-grain frame — without materialization
    # each one re-scans and re-md5s the full text column (the
    # duplicate_spans lesson). ~25 B/doc in cache; at 100 TB stage the
    # same projection to parquet instead of the block manager.
    base = documents.select(
        "source",
        "lang",
        F.length("text").alias("n_chars"),
        F.expr(T.hash48_sql("text", dialect="spark")).alias("_h"),
    # cache: caller-owned (repo contract — bench/driver clear per query)
    ).persist()
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.percentile("n_chars", F.lit(0.5)).alias("p50_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    lang_mode = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("source")
        .agg(
            F.expr("max_by(lang, struct(_n, lang))").alias("top_lang")
        )
    )
    dup = (
        base.groupBy("source", "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("source")
        .agg(
            (
                F.sum(F.col("_c") - 1) / F.sum("_c").cast("double")
            ).alias("_dup_frac")
        )
        .select("source", F.round("_dup_frac", 6).alias("exact_dup_frac"))
    )
    return (
        per_source.join(lang_mode, "source")
        .join(dup, "source")
        .orderBy("source")
    )


def quality_feature_matrix(documents: DataFrame) -> DataFrame:
    """The wide per-document feature frame a quality-filter model trains
    on: heuristic quality features, predicted language, character-class
    composition, and token-budget estimates, side by side with the
    ``source``/``lang`` labels — one row per document, ready for a
    classifier fit or a threshold sweep.

    Built as ONE zero-exchange projection sharing the exact column
    builders of ``quality_scores`` / ``language_id`` /
    ``charclass_profile`` / ``subword_token_counts`` — joining those four
    operators would scan the text 4× and shuffle the doc grain 3×; this
    computes every feature in-row off a single scan (the column-builder
    refactor exists precisely so the matrix cannot drift from the
    per-family operators).
    """
    _, pred_lang = _langid_cols()
    charclass = [
        c for c in _charclass_cols()
        # quality cols already carry n_chars
        if "AS n_chars" not in c._jc.toString()
    ]
    segs = F.size(
        F.regexp_extract_all("text", F.lit(GPT2_PRETOKEN_RE), 0)
    ).cast("bigint")
    return documents.select(
        "doc_id",
        "source",
        "lang",
        *_quality_cols(),
        pred_lang.alias("pred_lang"),
        *charclass,
        segs.alias("pretoken_segments"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("bigint").alias(
            "bpe_est_tokens"
        ),
    )


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Tokenizer fertility / compression report per language — the
    multilingual-fairness metric of the BPE literature (fertility =
    segments per word; compression = chars per segment): languages whose
    text fragments into more pieces pay more sequence length per unit of
    content, which skews both training cost and effective context. Run
    BEFORE fixing a tokenizer for a multilingual mix.

    Scale shape: the same single zero-shuffle regexp scan as
    subword_token_counts, then one tiny grouped aggregate on lang —
    bigint sums (order-independent), divisions at the report grain."""
    segs = F.size(
        F.regexp_extract_all("text", F.lit(GPT2_PRETOKEN_RE), 0)
    ).cast("bigint")
    w = _word_col()
    per_doc = documents.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        segs.alias("segs"),
        F.size(w).cast("bigint").alias("words"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("segs").alias("total_segments"),
            F.sum("words").alias("total_words"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "total_chars",
            "total_segments",
            F.round(
                F.col("total_segments").cast("double")
                / F.greatest(F.col("total_words"), F.lit(1)),
                6,
            ).alias("fertility"),
            F.round(
                F.col("total_chars").cast("double")
                / F.greatest(F.col("total_segments"), F.lit(1)),
                6,
            ).alias("chars_per_segment"),
        )
        .orderBy("lang")
    )


def cooccurrence_edges(documents: DataFrame, min_weight: int = 2) -> DataFrame:
    """Undirected word co-occurrence graph from the adjacent-token
    stream (window = 2): one edge per unordered word pair with its
    corpus frequency as the weight, emitted in both directions so every
    node has out-strength ≥ 1 (the weighted_pagerank contract).

    Scale: pairs form in-row (the token_pmi transform — no position
    self-join); the pair-grain count partial-aggregates map-side, so
    shuffle volume is bounded by |bigram vocab|; min_weight prunes the
    hapax tail BEFORE symmetrization doubles the edge list.
    """
    toks = documents.select(T.words(F.col("text")).alias("t"))
    und = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> named_struct('w1', t[i-1], 'w2', t[i]))"
                )
            ).alias("bg")
        )
        .select(
            F.least("bg.w1", "bg.w2").alias("a"),
            F.greatest("bg.w1", "bg.w2").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))  # self-loops carry no rank
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        .filter(F.col("w") >= min_weight)
    )
    return und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )


def textrank_keywords(
    documents: DataFrame,
    k: int = 50,
    min_weight: int = 2,
    n_iter: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau 2004):
    rank words by weighted PageRank over the adjacent-token
    co-occurrence graph and return the top k. The graph-centrality
    upgrade of top_tokens/tfidf_top_terms — a word matters not because
    it is frequent but because it co-occurs with words that matter.

    Composition: cooccurrence_edges (vocab-grain, in-row pair
    formation) → graph.weighted_pagerank (one join + one agg per
    iteration, lineage cut per step) → TakeOrdered top-k. The iteration cost is
    |edges| ≈ |bigram vocab|, independent of corpus size once the
    count table is built — the property that makes TextRank viable at
    100 TB where per-document graphs would not be.
    """
    from .graph import weighted_pagerank

    pr = weighted_pagerank(
        cooccurrence_edges(documents, min_weight=min_weight),
        n_iter=n_iter,
        damping=damping,
        # cooccurrence_edges emits both directions — every node receives
        # mass, so the per-iteration re-attachment join is skippable (r13)
        symmetric=True,
    )
    return (
        pr.select(
            F.col("node").alias("word"), "strength", "rank_scaled"
        )
        .orderBy(F.desc("rank_scaled"), "word")
        .limit(k)
    )


def token_pmi(documents: DataFrame, min_count: int = 5, k: int = 100) -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    token pairs — the classic phrase-mining / tokenizer-merge-candidate
    report (PMI-ranked bigrams are the standard first pass for multiword
    vocabulary entries and corpus-quality eyeballing).

    pmi(x,y) = ln p(x,y) − ln p(x) − ln p(y) with the joint from the
    bigram stream (total B) and margins from the unigram stream (total
    T): ln c_xy − ln B − ln c_x − ln c_y + 2·ln T, composed in exactly
    that term order on both engines so the doubles agree to rounding.

    Scale: bigrams form in-row (transform over the token array — no
    self-join of adjacent positions); both count tables partial-aggregate
    map-side, so shuffle volume is bounded by |bigram vocab|; the two
    margin joins are vocab-grain; totals are broadcast scalars. The
    min_count floor prunes the bigram tail BEFORE the joins.
    """
    toks = documents.select(T.words(F.col("text")).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    big_all = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> named_struct('w1', t[i-1], 'w2', t[i]))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    tot_u = uni.agg(F.sum("c").cast("bigint").alias("t_total"))
    tot_b = big_all.agg(F.sum("n_pair").cast("bigint").alias("b_total"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        F.log(F.col("n_pair").cast("double"))
        - F.log(F.col("b_total").cast("double"))
        - F.log(F.col("c1").cast("double"))
        - F.log(F.col("c2").cast("double"))
        + F.lit(2.0) * F.log(F.col("t_total").cast("double"))
    )
    return (
        big_all.filter(F.col("n_pair") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def token_communities(
    documents: DataFrame, min_weight: int = 2, n_iter: int = 4
) -> DataFrame:
    """Topic-ish word communities: deterministic weighted label
    propagation (graph.label_propagation) over the same adjacent-token
    co-occurrence graph TextRank ranks — centrality tells you WHICH
    words matter, communities tell you which words move TOGETHER.

    Vocab-grain like textrank_keywords: iteration cost is |bigram
    vocab| edges regardless of corpus size once the count table exists.
    """
    from .graph import label_propagation

    return (
        label_propagation(
            cooccurrence_edges(documents, min_weight=min_weight),
            n_iter=n_iter,
        )
        .select(
            F.col("node").alias("word"), "community", "community_size"
        )
        .orderBy("community", "word")
    )


def compression_quality(
    documents: DataFrame, min_bytes: int = 256
) -> DataFrame:
    """Per-document zlib compression ratio + the derived quality flags —
    the standard cheap repetition/boilerplate signal modern corpus
    pipelines run next to the Gopher/C4 rules (highly compressible ⇒
    templated or repeated text; barely compressible ⇒ noise/binary
    spill). Complements repetition_scores (n-gram grain) with a
    whole-document information-density measure.

    DEFLATE level 6 with a fixed strategy is deterministic for a given
    zlib version, but the RATIO is what downstream thresholds consume —
    emitted at 6 dp from exact byte counts. Rows-only (no SQL twin: the
    oracle engine has no deflate), verified by planted
    repetitive/random corpora and an invariance pin in tests.

    Scale: one Arrow-batched UDF over the scan, zero shuffle — the same
    embarrassingly-parallel shape as the codec lanes.
    """
    import zlib

    @F.pandas_udf("bigint")
    def comp(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress((t or "").encode("utf-8"), 6))
        )

    # the raw byte count stays JVM-side (octet_length is a builtin);
    # only the deflate pass needs Python
    c = documents.select(
        "doc_id",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        comp(F.col("text")).alias("n_compressed"),
    )
    ratio = F.when(
        F.col("n_bytes") > 0,
        F.round(
            F.col("n_compressed").cast("double")
            / F.col("n_bytes").cast("double"),
            6,
        ),
    )
    # the gates are undefined below min_bytes: deflate's fixed overhead
    # (~8 bytes + dictionary warm-up) dominates short texts, making
    # every short doc look incompressible
    gate = F.col("n_bytes") >= min_bytes
    return c.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        ratio.alias("compression_ratio"),
        # the two standard gates, calibrated against deflate level 6:
        # ~1 KB natural prose lands near 0.28-0.45, heavy templating
        # under 0.1, printable-character noise ~0.85 (the entropy coder
        # still shaves ~15% off a ~90-symbol alphabet, so the noise
        # gate sits at 0.8, not 1.0)
        F.when(gate, ratio < 0.2).alias("too_repetitive"),
        F.when(gate, ratio > 0.8).alias("too_random"),
    ).orderBy("doc_id")


def vocab_divergence(documents: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Pairwise KL and Jensen–Shannon divergence between the per-source
    token distributions — the corpus-mixing diagnostic behind "is this
    source redundant with that one?" and "did the new crawl shift the
    vocabulary?" (the distributional cousin of drift_report, at token
    grain across SOURCES instead of value grain across time).

    Semantics: unigram distributions over the UNION vocabulary with
    add-``alpha`` smoothing (p_i = (c_i + α) / (N + α·V)), so zeros are
    defined on both sides; KL in nats; JS via the mixture m = (p+q)/2.

    Cross-engine discipline: counts, totals and V are exact BIGINTs, so
    p and q are bit-identical rationals in both engines; the ln-term
    sums are rounded at 6 dp AFTER aggregation (the bm25 recipe — the
    sub-ulp partial-sum order noise of a few thousand terms is ~1e-12,
    far inside the rounding slack).

    Scale: one token aggregate (map-side combinable, vocab-grain), then
    a |sources|² × |vocab| grid — sources are few by construction, and
    the grid joins the count table by (source, tok), never touching the
    corpus again.
    """
    toks = documents.select(
        "source", F.explode(T.words(F.col("text"))).alias("tok")
    )
    # persist the vocab-grain count table: totals / vocab / V / both grid
    # arms all derive from it, and without the persist each reference
    # re-scans the raw corpus (6 full passes at 100 TB). Cache lifecycle
    # is caller-owned per the repo contract (bench clears per query).
    counts = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = counts.select("tok").distinct()
    v = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))

    a_side = totals.select(
        F.col("source").alias("src_a"), F.col("n").alias("na")
    )
    b_side = totals.select(
        F.col("source").alias("src_b"), F.col("n").alias("nb")
    )
    grid = (
        a_side.crossJoin(b_side)
        .filter(F.col("src_a") < F.col("src_b"))
        .crossJoin(F.broadcast(v))
        .crossJoin(vocab)
    )
    ca = counts.select(
        F.col("source").alias("src_a"), "tok", F.col("c").alias("ca")
    )
    cb = counts.select(
        F.col("source").alias("src_b"), "tok", F.col("c").alias("cb")
    )
    g = (
        grid.join(ca, ["src_a", "tok"], "left")
        .join(cb, ["src_b", "tok"], "left")
        .fillna(0, subset=["ca", "cb"])
    )
    al = F.lit(alpha)
    p = (F.col("ca") + al) / (F.col("na") + al * F.col("v"))
    q = (F.col("cb") + al) / (F.col("nb") + al * F.col("v"))
    m = (p + q) / F.lit(2.0)
    out = g.groupBy("src_a", "src_b", "na", "nb").agg(
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_ab"),
        F.round(F.sum(q * F.log(q / p)), 6).alias("kl_ba"),
        F.round(
            F.sum(p * F.log(p / m) / F.lit(2.0) + q * F.log(q / m) / F.lit(2.0)),
            6,
        ).alias("js"),
    )
    return out.select(
        "src_a", "src_b", "na", "nb", "kl_ab", "kl_ba", "js"
    ).orderBy("src_a", "src_b")


def vocab_divergence_oracle_sql(alpha: float = 0.5) -> str:
    """DuckDB twin with the identical smoothing rationals and ln-term
    expression tree."""
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH toks AS (
        SELECT source, unnest({words_duck}) AS tok FROM documents
    ),
    counts AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    totals AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1
    ),
    vocab AS (SELECT DISTINCT tok FROM counts),
    vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    grid AS (
        SELECT a.source AS src_a, a.n AS na,
               b.source AS src_b, b.n AS nb, vocab.tok, vn.v
        FROM totals a, totals b, vocab, vn
        WHERE a.source < b.source
    ),
    g AS (
        SELECT grid.*, coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
        FROM grid
        LEFT JOIN counts ca
          ON grid.src_a = ca.source AND grid.tok = ca.tok
        LEFT JOIN counts cb
          ON grid.src_b = cb.source AND grid.tok = cb.tok
    ),
    terms AS (
        SELECT src_a, src_b, na, nb,
               (ca + {alpha}) / (na + {alpha} * v) AS p,
               (cb + {alpha}) / (nb + {alpha} * v) AS q
        FROM g
    )
    SELECT src_a, src_b, na, nb,
           round(sum(p * ln(p / q)), 6) AS kl_ab,
           round(sum(q * ln(q / p)), 6) AS kl_ba,
           round(sum(p * ln(p / ((p + q) / 2.0)) / 2.0
                     + q * ln(q / ((p + q) / 2.0)) / 2.0), 6) AS js
    FROM terms
    GROUP BY src_a, src_b, na, nb
    ORDER BY src_a, src_b
    """


def zipf_fit(documents: DataFrame, top_n: int = 500) -> DataFrame:
    """Least-squares fit of ln(frequency) against ln(rank) over the top
    ``top_n`` corpus tokens — natural language famously follows Zipf's
    law with slope ≈ −1, so the fitted slope and r² are the classic
    one-number "does this corpus look like language or like noise/
    boilerplate?" diagnostic (templated corpora go flat-headed, noise
    goes shallow).

    Cross-engine discipline: ranks come from a TOTAL order (frequency
    desc, token asc), frequencies are exact BIGINTs, ln is applied
    per-row identically, and the closed-form moments follow the
    volume_trend recipe — except x = ln(rank) and y = ln(freq) are
    transcendental, so the moment sums round at 6 dp after aggregation
    (the bm25/vocab_divergence recipe; ≤ top_n terms).

    Scale: the token count is vocab-grain with map-side combine; the
    top-N selection is TakeOrdered; the fit runs over top_n rows.
    """
    freq = (
        documents.select(F.explode(T.words(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    pts = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    den_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        n.cast("bigint").alias("n_tokens_fit"),
        F.round(num / den_x, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - (num / den_x) * F.col("sx")) / n, 6
        ).alias("intercept"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    )


def zipf_fit_oracle_sql(top_n: int = 500) -> str:
    """DuckDB twin: identical total order, identical moment tree."""
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH freq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest({words_duck}) AS tok FROM documents)
        GROUP BY 1
        ORDER BY c DESC, tok
        LIMIT {top_n}
    ),
    pts AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok)
                        AS DOUBLE)) AS x,
               ln(CAST(c AS DOUBLE)) AS y
        FROM freq
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sxx, sum(y * y) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_tokens_fit,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """


def textrank_oracle_sql(
    k: int = 50,
    min_weight: int = 2,
    n_iter: int = 8,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of ``textrank_keywords``: the synchronous PageRank
    iterations unrolled into chained CTEs over the same undirected
    co-occurrence graph (exact BIGINT edge weights; the rank vector is
    scaled by n and rounded at 6 dp after the final iteration, matching
    the Spark side's output convention)."""
    words_duck = T.words_sql("text", "duckdb")
    d = damping
    ctes = [
        f"""
    words AS (SELECT {words_duck} AS t FROM documents),
    pairs AS (
        SELECT least(t[i - 1], t[i]) AS a, greatest(t[i - 1], t[i]) AS b
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM words WHERE len(t) >= 2)
    ),
    und AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS w
        FROM pairs WHERE a <> b GROUP BY 1, 2
        HAVING count(*) >= {min_weight}
    ),
    edges AS (
        SELECT a AS src, b AS dst, w FROM und
        UNION ALL
        SELECT b AS src, a AS dst, w FROM und
    ),
    outw AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS outw
             FROM edges GROUP BY 1),
    nv AS (SELECT count(*) AS n FROM outw),
    r0 AS (SELECT node, 1.0 / n AS rank FROM outw, nv)
    """.strip()
    ]
    for i in range(n_iter):
        ctes.append(
            f"""
    r{i + 1} AS (
        SELECT o.node,
               (1.0 - {d}) / n + {d} * coalesce(m.in_mass, 0.0) AS rank
        FROM outw o
        LEFT JOIN (
            SELECT e.dst, sum(r.rank / ow.outw * e.w) AS in_mass
            FROM edges e
            JOIN r{i} r ON e.src = r.node
            JOIN outw ow ON e.src = ow.node
            GROUP BY e.dst
        ) m ON o.node = m.dst
        CROSS JOIN nv
    )""".strip()
        )
    body = ",\n".join(ctes)
    return f"""
    WITH {body}
    SELECT r.node AS word, o.outw AS strength,
           round(r.rank * n, 6) AS rank_scaled
    FROM r{n_iter} r JOIN outw o ON r.node = o.node CROSS JOIN nv
    ORDER BY rank_scaled DESC, word
    LIMIT {k}
    """


def token_communities_oracle_sql(
    min_weight: int = 2, n_iter: int = 4
) -> str:
    """DuckDB twin of ``token_communities``: the synchronous label-
    propagation iterations unrolled into chained CTEs (every quantity
    an exact BIGINT weight mass; argmax tie order total — mass desc,
    label asc — so the driver-harness hash matches exactly)."""
    words_duck = T.words_sql("text", "duckdb")
    ctes = [
        f"""
    words AS (SELECT {words_duck} AS t FROM documents),
    pairs AS (
        SELECT least(t[i - 1], t[i]) AS a, greatest(t[i - 1], t[i]) AS b
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM words WHERE len(t) >= 2)
    ),
    und AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS w
        FROM pairs WHERE a <> b GROUP BY 1, 2
        HAVING count(*) >= {min_weight}
    ),
    edges AS (
        SELECT a AS src, b AS dst, w FROM und
        UNION ALL
        SELECT b AS src, a AS dst, w FROM und
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)
    """.strip()
    ]
    for i in range(n_iter):
        ctes.append(
            f"""
    p{i} AS (
        SELECT dst, label FROM (
            SELECT e.dst, l.label,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY sum(e.w) DESC, l.label
                   ) AS rn
            FROM edges e JOIN l{i} l ON e.src = l.node
            GROUP BY e.dst, l.label
        ) WHERE rn = 1
    ),
    l{i + 1} AS (
        SELECT n.node, coalesce(p.label, n.label) AS label
        FROM l{i} n LEFT JOIN p{i} p ON n.node = p.dst
    )""".strip()
        )
    body = ",\n".join(ctes)
    return f"""
    WITH {body}
    SELECT node AS word, label AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
               AS community_size
    FROM l{n_iter}
    ORDER BY community, word
    """


# ---------------------------------------------------------------------------
# Readability + token-entropy quality signals (r8 session, r9 queue)
# ---------------------------------------------------------------------------


def readability_scores(documents: DataFrame) -> DataFrame:
    """Flesch-reading-ease-style readability over the word/syllable
    heuristics that survive any language: syllables ≈ vowel-group runs
    ('[aeiouy]+'), sentences ≈ terminal-punctuation runs (min 1 — the
    synthetic corpus has none, so each doc is one 'sentence', which the
    oracle reproduces exactly).

        flesch = 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)

    Per-row double formulas with a fixed evaluation order — NO rounding
    (the quality_scores convention): bits reproduce on any engine or
    cluster size. Zero shuffle, column-pruned scan.
    """
    low = F.lower(F.col("text"))
    n_words = F.size(_word_col())
    n_syll = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0))
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
    )
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.when(
        F.col("n_words") > 0, F.col("n_syllables") / F.col("n_words")
    ).otherwise(F.lit(0.0))
    base = documents.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_syll.cast("bigint").alias("n_syllables"),
        n_sent.cast("bigint").alias("n_sentences"),
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        spw.alias("syll_per_word"),
        (
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch"),
    )


def readability_oracle_sql() -> str:
    """DuckDB twin. Constants are CAST AS DOUBLE (bare decimal literals
    are DECIMAL-typed in DuckDB and 206.835 − … would run in decimal
    arithmetic, off the double result by an ulp); identical operand
    order keeps the unrounded doubles bit-equal."""
    w = T.words_sql("text", "duckdb")
    return f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({w}) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS BIGINT) AS n_sentences
        FROM documents
    )
    SELECT doc_id, n_words, n_syllables, n_sentences,
           CASE WHEN n_words > 0
                THEN n_syllables * 1.0 / n_words ELSE 0.0
           END AS syll_per_word,
           CAST('206.835' AS DOUBLE)
               - CAST('1.015' AS DOUBLE) * (n_words * 1.0 / n_sentences)
               - CAST('84.6' AS DOUBLE)
                 * (CASE WHEN n_words > 0
                         THEN n_syllables * 1.0 / n_words ELSE 0.0 END)
               AS flesch
    FROM base
    ORDER BY doc_id
    """


def token_entropy(documents: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the within-document token
    distribution — the repetition/diversity quality signal (a doc that
    repeats one token has H→0; uniformly diverse text has H→ln V).
    Computed in the numerically associative form
    H = ln(n) − (Σ c·ln c)/n over exact BIGINT token counts, rounded
    6 dp AFTER aggregation (the vocab_divergence convention: sub-ulp
    summation-order drift between engines dies at 6 dp);
    norm_entropy = H / ln(V) for V > 1 else 0.

    Scale: one explode + two keyed aggregates at (doc, token) grain —
    map-side combine makes the shuffle carry distinct-token rows, not
    token occurrences.
    """
    w = _word_col()
    toks = documents.select("doc_id", F.explode(w).alias("tok"))
    counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("_clc"),
    )
    h = F.log(F.col("n")) - F.col("_clc") / F.col("n")
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_distinct",
        F.round(h, 6).alias("entropy"),
        F.round(
            F.when(
                F.col("n_distinct") > 1, h / F.log(F.col("n_distinct"))
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("norm_entropy"),
    )


def token_entropy_oracle_sql() -> str:
    """DuckDB twin over the same exact counts; ln-sums rounded 6 dp
    after aggregation on both engines."""
    w = T.words_sql("text", "duckdb")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({w}) AS tok FROM documents
    ),
    counts AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               sum(c * ln(c)) AS clc
        FROM counts GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_distinct,
           round(ln(n_tokens) - clc / n_tokens, 6) AS entropy,
           round(CASE WHEN n_distinct > 1
                      THEN (ln(n_tokens) - clc / n_tokens)
                           / ln(n_distinct)
                      ELSE 0.0 END, 6) AS norm_entropy
    FROM agg
    ORDER BY doc_id
    """


def word_triangles(documents: DataFrame, min_weight: int = 2) -> DataFrame:
    """Triangle census + local clustering coefficient over the same
    adjacent-token co-occurrence graph TextRank/LPA consume — the third
    graph diagnostic: centrality says which words MATTER, communities
    say which move TOGETHER, clustering says how CLIQUISH each word's
    neighborhood is (boilerplate/template words sit in dense triangles;
    freely-combining function words do not). Vocab-grain: the census
    costs |edges| ≈ |bigram vocab| regardless of corpus size, with the
    degree-orientation wedge bound (operators/graph.py
    ``triangle_census``)."""
    from .graph import triangle_census

    return triangle_census(
        cooccurrence_edges(documents, min_weight=min_weight)
    )


def word_triangles_oracle_sql(min_weight: int = 2) -> str:
    """DuckDB twin: a < b < c enumeration over the same undirected
    edges — exact BIGINT counts; the coefficient divides them in double
    with the identical (2·T) / (d·(d−1)) operand order, 6-dp round."""
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH words AS (SELECT {words_duck} AS t FROM documents),
    pairs AS (
        SELECT least(t[i - 1], t[i]) AS a, greatest(t[i - 1], t[i]) AS b
        FROM (SELECT t, unnest(generate_series(2, len(t))) AS i
              FROM words WHERE len(t) >= 2)
    ),
    e AS (
        SELECT a, b FROM pairs WHERE a <> b GROUP BY 1, 2
        HAVING count(*) >= {min_weight}
    ),
    deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
        ) GROUP BY 1
    ),
    tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    per_node AS (
        SELECT n, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT x AS n FROM tris
            UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris
        ) GROUP BY 1
    )
    SELECT deg.n AS word, deg.d AS degree,
           CAST(coalesce(per_node.n_triangles, 0) AS BIGINT)
               AS n_triangles,
           round(CAST(2 AS DOUBLE) * coalesce(per_node.n_triangles, 0)
                 / (deg.d * (deg.d - 1)), 6) AS clustering
    FROM deg LEFT JOIN per_node ON deg.n = per_node.n
    WHERE deg.d >= 2
    ORDER BY word
    """
