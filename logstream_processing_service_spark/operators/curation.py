"""Training-corpus curation operators: sequence packing, pattern
scrubbing (PII-style), and domain mixing.

These extend the reference's surface toward the LLM-data-pipeline north
star (the reference's closest analogues: text composition for embedding,
scripts/run_incremental_batch.py:77, and the LIMIT-based "sampling" of
scripts/validate_quality.py:68). All three are everyday steps in a 100 TB
curation run:

- **Sequence packing** — concatenate-and-chunk documents into fixed
  token-budget training rows (the GPT-style pretraining layout). The global
  token stream is sharded so every shard packs independently: one shuffle
  on the shard key, then pure window arithmetic.
- **Pattern scrubbing** — regex scan + redaction (emails, IPv4, phones, or
  any configured term set). Pure per-row expressions; runs at scan speed.
- **Domain mixing** — hit target per-domain token shares by deterministic
  hash sampling, with the rate table computed from the data itself (tiny
  broadcast), never ``rand()`` (reproducible, stable under re-partition).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

# ---------------------------------------------------------------------------
# Sequence packing (concatenate-and-chunk)
# ---------------------------------------------------------------------------


def pack_sequences(
    documents: DataFrame,
    budget: int = 512,
    shards: int = 8,
    salt: str = "pack-v1",
) -> DataFrame:
    """Assign every document a position in a sharded token stream and the
    training-chunk range it lands in.

    Packing layout = concatenate-and-chunk: within a shard, documents are
    concatenated in doc_id order and the stream is cut every ``budget``
    tokens; a document whose span crosses a cut is split across chunks
    (``n_chunks`` > 1). This is the standard pretraining packing (no padding
    waste), as opposed to greedy bin-packing which is order-dependent and
    not expressible as a window.

    Scale shape: the ONLY exchange is the hash-partition on ``shard``
    (uniform by construction — md5 of the salted key); each shard's
    cumulative sum is a single window pass. ``shards`` should be ~4× the
    executor-core count at scale so stragglers even out; chunk ids are
    globally unique via (shard, chunk).
    """
    tokens = F.size(T.words(F.col("text")))
    shard = F.expr(
        T.hash48_sql(f"concat('{salt}:', CAST(doc_id AS STRING))")
    ) % F.lit(shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_token")
    first_chunk = F.floor((cum - F.col("n_tokens")) / F.lit(budget))
    last_chunk = F.floor((cum - F.lit(1)) / F.lit(budget))
    return (
        documents.select(
            "doc_id", tokens.alias("n_tokens"), shard.alias("shard")
        )
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            start,
            first_chunk.alias("first_chunk"),
            (last_chunk - first_chunk + 1).alias("n_chunks"),
        )
    )


def packing_efficiency(
    documents: DataFrame, budget: int = 512, shards: int = 8
) -> DataFrame:
    """Packing audit: per shard — tokens, chunks produced, tail padding
    wasted in the final partial chunk, and split-document count."""
    packed = pack_sequences(documents, budget, shards)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.floor((F.sum("n_tokens") - 1) / F.lit(budget)) + 1).alias(
                "n_chunks"
            ),
            (
                (F.floor((F.sum("n_tokens") - 1) / F.lit(budget)) + 1)
                * F.lit(budget)
                - F.sum("n_tokens")
            ).alias("tail_padding"),
            F.sum(F.when(F.col("n_chunks") > 1, 1).otherwise(0)).alias(
                "n_split_docs"
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Pattern scrubbing (PII-style scan + redaction)
# ---------------------------------------------------------------------------

# Defaults target real PII. Patterns are restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): character classes, \d,
# \b, bounded quantifiers — no backreferences, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,}\d",
}


def pattern_scrub(
    documents: DataFrame,
    patterns: dict[str, str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-document match counts for each named pattern plus the redacted
    text (every match replaced by ``[NAME]``, applied in sorted-name order
    so the composition is deterministic).

    Semantics with OVERLAPPING patterns: each ``n_<name>`` counts matches
    against the ORIGINAL text (independent scan stats), while redaction is
    sequential — an earlier pattern can consume text a later pattern also
    matched (e.g. the phone default matching a digit run inside an email),
    so ``n_matches`` can exceed the number of placeholders in ``redacted``.
    The DuckDB oracle computes the identical semantics.

    Scale shape: pure per-row regexp expressions inside one codegen'd
    projection — no explode, no shuffle, no UDF. At 100 TB this is
    scan-bound; the regex cost is per-byte of text, exactly like the
    reference's text composition pass.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    count_exprs = {
        name: F.regexp_count(F.col(text_col), F.lit(p))
        for name, p in sorted(pats.items())
    }
    red = F.col(text_col)
    for name, p in sorted(pats.items()):
        red = F.regexp_replace(red, p, f"[{name.upper()}]")
    total = sum(count_exprs.values(), F.lit(0))
    return documents.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in count_exprs.items()],
        total.alias("n_matches"),
        (total > 0).alias("flagged"),
        red.alias("redacted"),
    )


def pattern_scrub_oracle_sql(
    patterns: dict[str, str], table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`pattern_scrub` (RE2 needs the 'g' flag for
    replace-all; counts via len(regexp_extract_all))."""

    def esc(p: str) -> str:
        return p.replace("'", "''")

    names = sorted(patterns)
    count_cols = ",\n           ".join(
        f"CAST(len(regexp_extract_all({text_col}, '{esc(patterns[n])}')) AS INT)"
        f" AS n_{n}"
        for n in names
    )
    red = text_col
    for n in names:
        red = f"regexp_replace({red}, '{esc(patterns[n])}', '[{n.upper()}]', 'g')"
    total = " + ".join(f"n_{n}" for n in names)
    return f"""
    WITH scanned AS (
        SELECT doc_id,
           {count_cols},
           {red} AS redacted
        FROM {table}
    )
    SELECT doc_id, {', '.join('n_' + n for n in names)},
           ({total}) AS n_matches, ({total}) > 0 AS flagged, redacted
    FROM scanned
    """


# ---------------------------------------------------------------------------
# Domain mixing
# ---------------------------------------------------------------------------


def domain_mix_plan(
    documents: DataFrame,
    targets: dict[str, float],
    budget_frac: float = 0.5,
    strata_col: str = "lang",
) -> DataFrame:
    """Sampling-rate table to hit target per-domain token shares within a
    total budget of ``budget_frac`` × corpus tokens.

    rate(d) = min(1, share(d) · budget / tokens(d)): domains the target
    over-weights relative to supply are kept whole (rate caps at 1 — you
    cannot mint data), over-supplied domains are down-sampled.

    Scale shape: one groupBy on the domain (map-side combined to ~|domains|
    rows), one broadcast of the 1-row total — the classic tiny-dimension
    scalar-subquery pattern. The plan itself is dimension-sized.
    """
    tokens = F.size(T.words(F.col("text")))
    per = documents.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("total_tokens"))
    share = F.lit(0.0)
    for value, s in sorted(targets.items()):
        share = F.when(F.col(strata_col) == value, F.lit(s)).otherwise(share)
    target_tokens = share * F.col("total_tokens") * F.lit(budget_frac)
    rate = F.least(F.lit(1.0), target_tokens / F.col("n_tokens"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            strata_col,
            "n_docs",
            "n_tokens",
            F.round(target_tokens, 2).alias("target_tokens"),
            F.round(rate, 6).alias("rate"),
        )
        .orderBy(strata_col)
    )


def domain_mix_sample(
    documents: DataFrame,
    targets: dict[str, float],
    budget_frac: float = 0.5,
    strata_col: str = "lang",
    salt: str = "mix-v1",
) -> DataFrame:
    """Apply :func:`domain_mix_plan` deterministically: keep a document iff
    its hash fraction (48-bit md5 hash / 2^48 ∈ [0,1)) is below its
    domain's rate.

    The rate table is joined broadcast (|domains| rows); the keep predicate
    is then a per-row hash compare — reproducible run-to-run, stable when
    the corpus grows (an existing doc never flips), and verifiable
    bit-for-bit by the DuckDB oracle because both engines compute the SAME
    md5-derived hash and the SAME IEEE-double rate expression.
    """
    tokens = F.size(T.words(F.col("text")))
    per = documents.groupBy(strata_col).agg(F.sum(tokens).alias("n_tokens"))
    total = per.agg(F.sum("n_tokens").alias("total_tokens"))
    share = F.lit(0.0)
    for value, s in sorted(targets.items()):
        share = F.when(F.col(strata_col) == value, F.lit(s)).otherwise(share)
    rate = F.least(
        F.lit(1.0),
        share * F.col("total_tokens") * F.lit(budget_frac) / F.col("n_tokens"),
    )
    rates = per.crossJoin(F.broadcast(total)).select(
        strata_col, rate.alias("_rate")
    )
    hash_frac = F.expr(
        T.hash48_sql(f"concat('{salt}:', CAST(doc_id AS STRING))")
    ) / F.lit(float(1 << 48))
    return (
        documents.join(F.broadcast(rates), strata_col)
        .filter(hash_frac < F.col("_rate"))
        .select("doc_id", strata_col, tokens.alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# Unigram log-probability scoring (LM-filter family)
# ---------------------------------------------------------------------------


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document mean unigram surprisal: avg(-ln(p(word))) with p
    estimated from the corpus itself — the cheap stand-in for the LM
    perplexity filters (CCNet-style) used to rank crawl text by fluency.
    High avg surprisal = rare-word soup; low = repetitive boilerplate.

    Scale shape: two aggregations. The vocabulary (word → count) is
    dimension-sized (≪ corpus, Heaps' law), so the probability lookup is a
    BROADCAST join against the exploded token stream — the token stream
    itself never shuffles; the only wide exchange is the vocab groupBy,
    which map-side combines to |vocab| rows per task.
    """
    w = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("wd")
    )
    freq = w.groupBy("wd").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    surprisal = -F.log(F.col("c") / F.col("t"))
    return (
        w.join(F.broadcast(freq), "wd")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(surprisal), 6).alias("avg_surprisal"),
            F.round(F.max(surprisal), 6).alias("max_surprisal"),
        )
    )


def bigram_logprob(
    documents: DataFrame, min_count: int = 2, backoff: float = 0.4
) -> DataFrame:
    """Per-document mean bigram surprisal with stupid backoff (Brants et
    al. 2007): score(w2|w1) = c(w1,w2)/c_ctx(w1) when the bigram count
    reaches ``min_count``, else ``backoff`` · c(w2)/total — the next step
    up from ``unigram_logprob`` toward the CCNet LM-perplexity filter.
    ``c_ctx(w1)`` is the bigram-context count (occurrences of w1 with a
    successor), so the conditional distribution sums to 1 per context.
    Also reports the backoff fraction — how much of the doc fell outside
    the pruned LM (rare-continuation soup scores high on both).

    Scale shape: the bigram stream is reduced TWICE before any join —
    (doc, w1, w2) with multiplicity ``m`` (map-side combine), then
    (w1, w2) global counts from that already-reduced frame — so the wide
    exchanges carry aggregated rows, never raw tokens. The bigram LM is
    joined back at (w1, w2) grain as a shuffle hash join (the bigram
    vocabulary is NOT dimension-sized at corpus scale — do not broadcast
    it); hot bigrams are AQE-skew-splittable. The unigram vocab, context
    counts, and total ARE dimension-sized and ride broadcast joins.
    """
    docs = documents.select("doc_id", T.words(F.col("text")).alias("_w"))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(_w, 1, greatest(size(_w)-1, 0)),"
                " slice(_w, 2, greatest(size(_w)-1, 0)),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # NOT persisted, by measurement: pinning per_doc/bgfreq was tried and
    # came out 1.25× SLOWER warm at sf0.1 — the doc×bigram frame is wide
    # enough that the cache write costs more than the branch re-run AQE
    # already partially reuses. (Contrast the dedup paths, where persist
    # won 2.9×: there the re-run is the md5 scan, pure CPU.)
    per_doc = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    bgfreq = per_doc.groupBy("w1", "w2").agg(F.sum("m").alias("c_bg"))
    ctx = bgfreq.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    toks = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("wd")
    )
    uni = toks.groupBy("wd").agg(F.count(F.lit(1)).alias("c_uni"))
    total = uni.agg(F.sum("c_uni").alias("t"))
    seen = F.col("c_bg") >= min_count
    s = F.when(
        seen, -F.log(F.col("c_bg") / F.col("c_ctx"))
    ).otherwise(-F.log(F.lit(backoff) * F.col("c_uni") / F.col("t")))
    scored = (
        per_doc.join(bgfreq, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(uni.withColumnRenamed("wd", "w2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "m",
            s.alias("s"),
            F.when(~seen, F.col("m")).otherwise(F.lit(0)).alias("bo"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_bigrams"),
        F.round(F.sum(F.col("m") * F.col("s")) / F.sum("m"), 6).alias(
            "avg_surprisal"
        ),
        F.round(F.max("s"), 6).alias("max_surprisal"),
        F.round(F.sum("bo") / F.sum("m").cast("double"), 6).alias(
            "backoff_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Sequential filter funnel
# ---------------------------------------------------------------------------


def curation_funnel(
    documents: DataFrame,
    min_words: int = 20,
    max_dup_ratio: float = 0.2,
    min_stop_ratio: float = 0.03,
) -> DataFrame:
    """The curation funnel report: how many documents each quality rule
    drops, applied in SEQUENCE (a doc is charged to the FIRST rule it
    fails) — the standard artifact for auditing a filtering pipeline.

    Rules: (1) too_short — fewer than ``min_words`` tokens; (2) repetitive
    — duplicate-3-gram ratio above ``max_dup_ratio``; (3) no_stopwords —
    stopword ratio below ``min_stop_ratio`` (word-salad signal).

    Scale shape: every feature is computed in ONE codegen'd projection
    (hashed shingles in-row, no explode); the funnel is then a single
    4-value aggregate — one pass over the corpus, a 4-row result.
    """
    wcol = T.words(F.col("text"))
    n_words = F.size(wcol)
    # let-bound (not withColumn-staged): see curate_corpus — the optimizer
    # inlines staging aliases into pushed predicates/collapsed projections
    # and re-evaluates the md5 array per shingle element
    dup_ratio = F.expr(
        T.let_sql(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark"),
            "wh",
            T.let_sql(
                T.shingle_hash_array_sql("wh", 3),
                "s",
                "(size(s) - size(array_distinct(s)))"
                " / cast(greatest(size(s), 1) as double)",
            ),
        )
    )
    stops = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
    stop_ratio = F.size(
        F.filter(wcol, lambda x: x.isin(*stops))
    ) / F.greatest(n_words, F.lit(1)).cast("double")
    flagged = documents.select(
        (n_words < min_words).alias("f1"),
        (dup_ratio > max_dup_ratio).alias("f2"),
        (stop_ratio < min_stop_ratio).alias("f3"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("f1"), 1).otherwise(0)).alias("d1"),
        F.sum(F.when(~F.col("f1") & F.col("f2"), 1).otherwise(0)).alias("d2"),
        F.sum(
            F.when(~F.col("f1") & ~F.col("f2") & F.col("f3"), 1).otherwise(0)
        ).alias("d3"),
    )
    return agg.selectExpr(
        "stack(4, "
        "'0_input', CAST(0 AS BIGINT), n0, "
        "'1_too_short', d1, n0 - d1, "
        "'2_repetitive', d2, n0 - d1 - d2, "
        "'3_no_stopwords', d3, n0 - d1 - d2 - d3"
        ") AS (rule, n_dropped, n_remaining)"
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules + vocabulary-pruning report
# ---------------------------------------------------------------------------


def gopher_filter_report(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopword_kinds: int = 2,
) -> DataFrame:
    """Gopher-rules quality report (Rae et al. 2021 §A1.1): the standard
    repetition-independent document filters — word-count bounds, mean word
    length bounds, symbol-to-word ratio (# and …), bullet-started and
    ellipsis-ended line ratios, alphabetic-word ratio, and ≥2 distinct
    stopwords — plus the conjunction verdict.

    Scale shape: every column is in-row array math over the token/line
    arrays — the whole report is a single scan-projection with ZERO
    exchanges at any corpus size. Ratios divide exact integers, so the
    doubles are bit-identical in any engine and partitioning.
    """
    w = T.words(F.col("text"))
    n_words = F.size(w)
    nw = F.nullif(n_words.cast("double"), F.lit(0.0))
    sum_wlen = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_wlen = F.round(sum_wlen / nw, 6)
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("^[a-z]+$")))
    alpha_ratio = F.round(n_alpha / nw, 6)
    n_hash = F.length(F.col("text")) - F.length(F.regexp_replace("text", "#", ""))
    n_ellipsis = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / F.lit(3)
    symbol_ratio = F.round((n_hash + n_ellipsis) / nw, 6)
    lines = F.split(F.col("text"), "\n")
    n_lines = F.nullif(F.size(lines).cast("double"), F.lit(0.0))
    n_bullet = F.size(
        F.filter(lines, lambda x: x.startswith("- ") | x.startswith("* "))
    )
    n_ell_end = F.size(F.filter(lines, lambda x: x.endswith("...")))
    bullet_ratio = F.round(n_bullet / n_lines, 6)
    ellipsis_ratio = F.round(n_ell_end / n_lines, 6)
    stops = F.array(*[F.lit(s) for s in T.LANG_STOPWORDS["en"]])
    stop_kinds = F.size(F.array_intersect(F.array_distinct(w), stops))
    passes = (
        n_words.between(min_words, max_words)
        & mean_wlen.between(min_mean_wlen, max_mean_wlen)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (alpha_ratio >= min_alpha_ratio)
        & (stop_kinds >= min_stopword_kinds)
    )
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_kinds.alias("stopword_kinds"),
        passes.alias("passes_gopher"),
    )


def oov_rate(documents: DataFrame, vocab_size: int = 16) -> DataFrame:
    """Vocabulary-pruning report: per document, the fraction of tokens
    outside the corpus's top-``vocab_size`` vocabulary (frequency desc,
    word asc tie-break) — the cheap screen for rare-token soup and the
    sizing input for tokenizer vocabulary decisions.

    Scale shape: the vocabulary aggregate map-side combines to |vocab|
    rows per task (Heaps' law keeps it dimension-sized), then comes back
    as a BROADCAST left join against the token stream; the stream itself
    never shuffles — the only wide exchange is the per-doc count.
    """
    toks = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("wd")
    )
    vocab = (
        toks.groupBy("wd")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.col("wd"))
        .limit(vocab_size)
        .select("wd", F.lit(1).alias("_in"))
    )
    return (
        toks.join(F.broadcast(vocab), "wd", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("_in").alias("in_vocab_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "in_vocab_tokens",
            ((F.col("n_tokens") - F.col("in_vocab_tokens")) / F.col("n_tokens"))
            .alias("oov_rate"),
        )
    )


def c4_line_stats(
    documents: DataFrame,
    min_words: int = 5,
    require_terminal_punct: bool = True,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning report (Raffel et al. 2020 §2.2): per
    document, which lines survive the classic rules — ≥ ``min_words`` words,
    (optionally) terminal punctuation, no "javascript" line — plus the
    page-level screens (any "lorem ipsum", any ``{``) and the conjunction
    keep/drop verdict (≥ ``min_kept_lines`` surviving lines and no page
    screen hit).

    Rule counts are independent per rule (a line can be both short and
    punctuation-less), ``n_kept_lines`` is the conjunction.

    Scale shape: entirely in-row array math over the trimmed line array —
    a single scan-projection with ZERO exchanges at any corpus size.
    Ratios divide exact integers so the doubles are engine-identical.
    """
    lines = F.filter(
        F.transform(F.split(F.col("text"), F.chr(F.lit(10))), F.trim),
        lambda x: x != F.lit(""),
    )

    def wc(x):
        return F.size(F.filter(F.split(x, " "), lambda w: w != F.lit("")))

    def punct_ok(x):
        return (
            x.endswith(".") | x.endswith("!") | x.endswith("?") | x.endswith('"')
        )

    def is_js(x):
        return F.contains(F.lower(x), F.lit("javascript"))

    def keeps(x):
        k = (wc(x) >= min_words) & ~is_js(x)
        if require_terminal_punct:
            k = k & punct_ok(x)
        return k

    kept = F.filter(lines, keeps)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    has_lorem = F.contains(F.lower(F.col("text")), F.lit("lorem ipsum"))
    has_brace = F.contains(F.col("text"), F.lit("{"))
    return documents.select(
        "doc_id",
        n_lines.cast("bigint").alias("n_lines"),
        n_kept.cast("bigint").alias("n_kept_lines"),
        F.size(F.filter(lines, lambda x: wc(x) < min_words))
        .cast("bigint")
        .alias("n_short_lines"),
        F.size(F.filter(lines, lambda x: ~punct_ok(x)))
        .cast("bigint")
        .alias("n_no_punct_lines"),
        F.size(F.filter(lines, is_js)).cast("bigint").alias("n_js_lines"),
        F.aggregate(kept, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .alias("kept_chars"),
        (n_kept.cast("double") / F.greatest(n_lines, F.lit(1)))
        .alias("kept_frac"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ((n_kept >= min_kept_lines) & ~has_lorem & ~has_brace).alias("keep_doc"),
    )


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020): score every
    document by mean bigram surprisal, split each LANGUAGE into
    head / middle / tail terciles by per-lang thresholds (low surprisal =
    head = cleanest). The bucket label is what mixture plans key on
    ("train mostly on head+middle, sample tail").

    Tercile thresholds come from a per-lang KLL quantile sketch (one
    map-combined aggregate, KB-sized state, ~0.8% rank error at k=200)
    broadcast back for an in-row comparison — never a per-lang NTILE
    (a per-lang total sort is a single-task stage for any big language;
    exact interpolated terciles also aren't engine-portable at p=1/3,
    unlike the binary-exact quartiles in ``doc_length_quartiles``).
    Rank error moves only docs within ~1% of a boundary one bucket over —
    immaterial for a tercile mixture policy.
    """
    lp = bigram_logprob(documents)
    labeled = documents.select("doc_id", "lang").join(lp, "doc_id")
    th = (
        labeled.groupBy("lang")
        .agg(
            F.expr("kll_sketch_agg_double(avg_surprisal, 200)").alias("_sk")
        )
        .select(
            "lang",
            F.expr(
                "kll_sketch_get_quantile_double(_sk, cast(1.0/3 as double))"
            ).alias("_t1"),
            F.expr(
                "kll_sketch_get_quantile_double(_sk, cast(2.0/3 as double))"
            ).alias("_t2"),
        )
    )
    return (
        labeled.join(F.broadcast(th), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_surprisal",
            F.when(F.col("avg_surprisal") <= F.col("_t1"), "head")
            .when(F.col("avg_surprisal") <= F.col("_t2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def perplexity_buckets_exact(
    documents: DataFrame, sample_n: int = 2000, salt: str = "pplx-v1"
) -> DataFrame:
    """CCNet head/middle/tail bucketing with DETERMINISTIC, engine-portable
    tercile thresholds — the oracle-paired twin of ``perplexity_buckets``
    (whose KLL sketch thresholds are correct-by-bound but not bit-portable
    across engines).

    Thresholds per language come from a capped deterministic sample: the
    ``sample_n`` docs with the smallest keyed-hash draw (the
    sample_k_per_group reservoir — cutoff-prefiltered, never a per-lang
    full sort), then the ceil(m/3)-th and ceil(2m/3)-th smallest sampled
    avg_surprisal values (RANK selection, no interpolation — an element
    OF the data is exact in both engines, and since ranking is by the
    value itself, ties at the boundary cannot change the selected value).
    avg_surprisal is bigram_logprob's 6-dp-rounded output on both sides,
    so the <= comparisons are bit-identical.

    Scale: one sample pass (KB per language), thresholds broadcast back,
    assignment in-row — the same shape as the sketch variant; sampling
    error moves only near-boundary docs, same as the sketch's rank error,
    but now REPRODUCIBLY (the sample is keyed-hash-deterministic).
    """
    from .sampling import sample_k_per_group

    lp = bigram_logprob(documents).select("doc_id", "avg_surprisal")
    # persist: BOTH the threshold sample and the final assignment consume
    # this frame — without the cache the whole bigram-surprisal DAG
    # executes twice (measured ~2.6s -> ~2.0s warm at sf0.1)
    # cache: caller-owned (repo contract — bench/driver clear per query)
    labeled = documents.select("doc_id", "lang").join(lp, "doc_id").persist()
    samp = sample_k_per_group(labeled, "lang", "doc_id", sample_n, salt=salt)
    th = (
        samp.groupBy("lang")
        .agg(F.array_sort(F.collect_list("avg_surprisal")).alias("_arr"))
        .select(
            "lang",
            F.expr(
                "element_at(_arr, cast((size(_arr) + 2) div 3 as int))"
            ).alias("_t1"),
            F.expr(
                "element_at(_arr, cast((size(_arr) * 2 + 2) div 3 as int))"
            ).alias("_t2"),
        )
    )
    return (
        labeled.join(F.broadcast(th), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_surprisal",
            F.when(F.col("avg_surprisal") <= F.col("_t1"), "head")
            .when(F.col("avg_surprisal") <= F.col("_t2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def curate_corpus(
    documents: DataFrame,
    min_words: int = 20,
    max_dup_ratio: float = 0.2,
    min_stop_ratio: float = 0.03,
    n: int = 3,
    threshold: float = 0.8,
    quality_col: str = "n_chars",
    test_threshold_hex: str = "1a",
    salt: str = "split-v1",
    n_shards: int = 8,
) -> DataFrame:
    """The END-TO-END curation pipeline as one operator: quality-funnel
    filter → MinHash near-dup clusters → quality-keeper dedup →
    leakage-safe cluster-grain split → deterministic shard manifest of
    the train side. Output (doc_id, cluster_id, shard, pos) IS the
    training manifest a 100 TB run writes as its final artifact — this
    operator is the engine's marquee composition, and every stage's
    semantics are the already-verified building blocks (curation_funnel
    rules, dedup_keep_table keeper, leakage_safe_split unit,
    shard_assignment order).

    Composition efficiency: the near-dup CLUSTERS are computed ONCE and
    feed both the keeper decision and the split unit — calling
    dedup_keep_table then leakage_safe_split would run the whole MinHash
    pipeline twice. Survivors are persisted (three consumers: the minhash
    scan, the quality join, the final left join); at 100 TB stage the
    survivor frame to parquet instead.
    """
    from .dedup import connected_components, minhash_lsh_pairs
    from .sampling import shard_assignment, split_bucket

    wcol = T.words(F.col("text"))
    n_words = F.size(wcol)
    # dup_ratio via let-bound word-hash + shingle arrays: this predicate
    # gets PUSHED DOWN into the scan filter, and predicate pushdown
    # inlines withColumn aliases unconditionally — only a lambda binding
    # keeps the md5 array single-evaluation (T.let_sql; 156s → <1s at
    # sf0.1 for this exact filter)
    dup_ratio = F.expr(
        T.let_sql(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark"),
            "wh",
            T.let_sql(
                T.shingle_hash_array_sql("wh", 3),
                "s",
                "(size(s) - size(array_distinct(s)))"
                " / cast(greatest(size(s), 1) as double)",
            ),
        )
    )
    stops = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
    stop_ratio = F.size(
        F.filter(wcol, lambda x: x.isin(*stops))
    ) / F.greatest(n_words, F.lit(1)).cast("double")
    surv = (
        documents.filter(
            ~(n_words < min_words)
            & ~(dup_ratio > max_dup_ratio)
            & ~(stop_ratio < min_stop_ratio)
        )
        .select("doc_id", "text", quality_col)
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()
    )
    pairs = minhash_lsh_pairs(surv, n=n, threshold=threshold)
    cc = connected_components(pairs)
    clustered = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).join(surv.select("doc_id", quality_col), "doc_id")
    keepers = clustered.groupBy("cluster_id").agg(
        F.expr(f"max_by(doc_id, struct({quality_col}, -doc_id))").alias(
            "_keeper"
        )
    )
    decided = clustered.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("_keeper")).alias("keep"),
    )
    full = (
        surv.select("doc_id")
        .join(decided, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )
    train_kept = full.filter(
        F.col("keep")
        & (split_bucket("cluster_id", salt) >= test_threshold_hex)
    ).select("doc_id", "cluster_id")
    return (
        shard_assignment(train_kept, "doc_id", n_shards=n_shards)
        .select("doc_id", "cluster_id", "shard", "pos")
        .orderBy("doc_id")
    )


def temperature_mix_plan(
    documents: DataFrame,
    alpha: float = 0.3,
    budget_frac: float = 0.5,
    strata_col: str = "source",
) -> DataFrame:
    """Temperature-scaled mixing (Conneau & Lample 2019; the mT5/LLaMA
    multi-source recipe): instead of hand-set targets, the share of
    domain d is n_d^alpha / Σ n^alpha — alpha < 1 flattens the natural
    distribution, upweighting tail domains without starving the head.
    Emits the same rate table :func:`domain_mix_plan` does, with the
    learned shares alongside the naturals for the recipe audit.

    Scale shape identical to domain_mix_plan: one map-side-combined
    groupBy to ~|domains| rows, one broadcast of the 1-row totals; the
    pow/divide arithmetic runs on the dimension table only.
    """
    tokens = F.size(T.words(F.col("text")))
    per = documents.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).alias("n_tokens"),
    )
    total = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("_z"),
    )
    share = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)) / F.col("_z")
    natural = F.col("n_tokens") / F.col("total_tokens").cast("double")
    rate = F.least(
        F.lit(1.0),
        share * F.col("total_tokens") * F.lit(budget_frac) / F.col("n_tokens"),
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            strata_col,
            "n_docs",
            "n_tokens",
            F.round(natural, 6).alias("natural_share"),
            F.round(share, 6).alias("target_share"),
            F.round(rate, 6).alias("sample_rate"),
            F.round(rate * F.col("n_tokens"), 2).alias("expected_tokens"),
        )
        .orderBy(strata_col)
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 10007


def _dsir_bucket_sql(dialect: str, n_buckets: int = DSIR_BUCKETS) -> str:
    """Bucket array over a PRE-STAGED word-hash column ``wh`` (array<long>
    of bucket ids, with multiplicity). The word-hash array MUST be bound
    as its own projection/CTE first — substituting it textually here
    re-evaluates one md5 per word per shingle element (measured 100s vs
    4s at sf0.1, the dedup shingle_table lesson)."""
    sh = T.shingle_hash_array_sql("wh", 2, dialect)
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({sh}, s -> s % {n_buckets})"


def dsir_weights(
    documents: DataFrame,
    target_lang: str = "en",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance weights: log w(doc) = Σ_b count_doc(b) ·
    (ln p_target(b) − ln p_source(b)) over hashed-bigram buckets with
    add-one smoothing; here the "target domain" sample is the corpus's
    ``target_lang`` slice and the source is the whole corpus. ``selected``
    marks docs more target-like than source-like (log w > 0); a
    fixed-budget selection at scale samples a weight threshold (or Gumbel
    top-k) instead of ranking globally.

    Scale: features are in-row (one md5/word, rolling bigram hash, mod
    B); the two distributions are B-row aggregates (B ≈ 10k — broadcast
    side); the per-doc weight is one (doc, bucket) aggregation joined
    against the broadcast log-ratio table. No global sort, no window.
    """
    wh = documents.select(
        "doc_id", "lang",
        F.expr(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
        ).alias("wh"),
    )
    feat = wh.select(
        "doc_id", "lang",
        F.explode(F.expr(_dsir_bucket_sql("spark", n_buckets))).alias("b"),
    # cache: caller-owned (repo contract — bench/driver clear per query)
    ).persist()  # four consumers (per-doc, target, source, totals)
    per_doc = feat.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    target = feat.filter(F.col("lang") == target_lang).groupBy("b").agg(
        F.count(F.lit(1)).alias("ct")
    )
    source = feat.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    totals = feat.agg(
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0))
        .cast("bigint")
        .alias("tt"),
        F.count(F.lit(1)).alias("ts"),
    )
    lr = (
        source.join(target, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tt") + F.lit(n_buckets))
                )
                - F.log(
                    (F.col("cs") + F.lit(1.0)) / (F.col("ts") + F.lit(n_buckets))
                )
            ).alias("lr"),
        )
    )
    lw = (
        per_doc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("lr")).alias("logw"),
            F.sum("cnt").cast("bigint").alias("n_feats"),
        )
    )
    return documents.select("doc_id", "lang").join(lw, "doc_id").select(
        "doc_id",
        "lang",
        "n_feats",
        F.round("logw", 6).alias("log_weight"),
        (F.col("logw") > 0).alias("selected"),
    )


def dsir_oracle_sql(
    target_lang: str = "en", n_buckets: int = DSIR_BUCKETS
) -> str:
    words = T.words_sql("text", "duckdb")
    whsql = T.word_hash_array_sql("w", "duckdb")
    bucket = _dsir_bucket_sql("duckdb", n_buckets)
    return f"""
    WITH wrd AS (SELECT doc_id, lang, {words} AS w FROM documents),
    whs AS (SELECT doc_id, lang, {whsql} AS wh FROM wrd),
    feat AS (
        SELECT doc_id, lang, unnest({bucket}) AS b FROM whs
    ),
    pd AS (SELECT doc_id, b, count(*) AS cnt FROM feat GROUP BY 1, 2),
    tc AS (
        SELECT b, count(*) AS ct FROM feat
        WHERE lang = '{target_lang}' GROUP BY 1
    ),
    sc AS (SELECT b, count(*) AS cs FROM feat GROUP BY 1),
    tot AS (
        SELECT CAST(sum(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS tt,
               count(*) AS ts
        FROM feat
    ),
    lr AS (
        SELECT sc.b,
               ln((coalesce(ct, 0) + 1.0) / (tt + {n_buckets}))
               - ln((cs + 1.0) / (ts + {n_buckets})) AS lr
        FROM sc LEFT JOIN tc USING (b) CROSS JOIN tot
    ),
    lw AS (
        SELECT pd.doc_id, sum(cnt * lr) AS logw,
               CAST(sum(cnt) AS BIGINT) AS n_feats
        FROM pd JOIN lr USING (b) GROUP BY 1
    )
    SELECT d.doc_id, d.lang, lw.n_feats,
           round(lw.logw, 6) AS log_weight,
           lw.logw > 0 AS selected
    FROM documents d JOIN lw ON d.doc_id = lw.doc_id
    """


# ---------------------------------------------------------------------------
# Modified-Kneser-Ney trigram LM (the CCNet-style LM-quality filter, one
# order up from bigram_logprob; Kneser & Ney 1995 / Chen & Goodman 1998
# with a single fixed discount)
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75


def kn_trigram_logprob(documents: DataFrame, discount: float = KN_DISCOUNT) -> DataFrame:
    """Per-document mean trigram surprisal under an interpolated
    Kneser-Ney LM trained on the corpus itself (self-scoring, like
    ``bigram_logprob`` — no OOV chain because every doc trigram is in the
    training counts):

        P1(w3)        = N1+(·w3) / |bigram types|
        P2(w3|w2)     = max(N1+(·w2w3)−D, 0)/N1+(·w2·) + D·N1+(w2·)/N1+(·w2·) · P1
        P3(w3|w1,w2)  = max(c(w1w2w3)−D, 0)/c(w1w2·) + D·N1+(w1w2·)/c(w1w2·) · P2

    Lower orders use CONTINUATION (type) counts — the KN insight that
    "Francisco" is frequent but follows only "San".

    Scale shape (the bigram_logprob discipline, one order up): the token
    stream reduces to (doc, w1, w2, w3, m) with map-side combine before
    anything global; every LM table derives from the trigram TYPE/count
    table, never the raw stream. Trigram- and bigram-grain joins are
    shuffle hash joins (n-gram vocabularies are not dimension-sized);
    the w2/w3/scalar tables are vocab-sized and broadcast.
    """
    D = float(discount)
    docs = documents.select("doc_id", T.words(F.col("text")).alias("_w"))
    tri_stream = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(zip_with("
                " slice(_w, 1, greatest(size(_w)-2, 0)),"
                " slice(_w, 2, greatest(size(_w)-2, 0)),"
                " (a, b) -> struct(a AS w1, b AS w2)),"
                " slice(_w, 3, greatest(size(_w)-2, 0)),"
                " (p, c) -> struct(p.w1 AS w1, p.w2 AS w2, c AS w3))"
            )
        ).alias("t"),
    ).select("doc_id", "t.w1", "t.w2", "t.w3")
    per_doc = tri_stream.groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("m")
    )
    tri = per_doc.groupBy("w1", "w2", "w3").agg(F.sum("m").alias("c3"))
    ctx3 = tri.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2ctx"), F.count(F.lit(1)).alias("n3types")
    )
    cont2 = tri.select("w1", "w2", "w3").distinct().groupBy("w2", "w3").agg(
        F.count(F.lit(1)).alias("cont2")
    )
    ctx2 = cont2.groupBy("w2").agg(
        F.sum("cont2").alias("cont2ctx"), F.count(F.lit(1)).alias("n2types")
    )
    cont1 = cont2.groupBy("w3").agg(F.sum(F.lit(1)).alias("cont1"))
    t2 = cont2.agg(F.count(F.lit(1)).alias("t2"))

    scored = (
        per_doc.join(tri, ["w1", "w2", "w3"])
        .join(ctx3, ["w1", "w2"])
        .join(cont2, ["w2", "w3"])
        .join(F.broadcast(ctx2), "w2")
        .join(F.broadcast(cont1), "w3")
        .crossJoin(F.broadcast(t2))
        .withColumn("p1", F.col("cont1") / F.col("t2"))
        .withColumn(
            "p2",
            F.greatest(F.col("cont2") - F.lit(D), F.lit(0.0))
            / F.col("cont2ctx")
            + F.lit(D) * F.col("n2types") / F.col("cont2ctx") * F.col("p1"),
        )
        .withColumn(
            "p3",
            F.greatest(F.col("c3") - F.lit(D), F.lit(0.0)) / F.col("c2ctx")
            + F.lit(D) * F.col("n3types") / F.col("c2ctx") * F.col("p2"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_trigrams"),
        F.round(-F.sum(F.col("m") * F.log("p3")) / F.sum("m"), 6).alias(
            "mean_surprisal"
        ),
    )
    return documents.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("bigint").alias(
            "n_trigrams"
        ),
        "mean_surprisal",
    )


def kn_trigram_oracle_sql(discount: float = KN_DISCOUNT) -> str:
    D = discount
    words = T.words_sql("text", "duckdb")
    return f"""
    WITH docs AS (SELECT doc_id, {words} AS w FROM documents),
    tri_stream AS (
        SELECT doc_id,
               w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
        FROM docs, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)
        WHERE len(w) >= 3
    ),
    per_doc AS (
        SELECT doc_id, w1, w2, w3, count(*) AS m
        FROM tri_stream GROUP BY 1, 2, 3, 4
    ),
    tri AS (SELECT w1, w2, w3, sum(m) AS c3 FROM per_doc GROUP BY 1, 2, 3),
    ctx3 AS (
        SELECT w1, w2, sum(c3) AS c2ctx, count(*) AS n3types
        FROM tri GROUP BY 1, 2
    ),
    cont2 AS (
        SELECT w2, w3, count(*) AS cont2
        FROM (SELECT DISTINCT w1, w2, w3 FROM tri) GROUP BY 1, 2
    ),
    ctx2 AS (
        SELECT w2, sum(cont2) AS cont2ctx, count(*) AS n2types
        FROM cont2 GROUP BY 1
    ),
    cont1 AS (SELECT w3, count(*) AS cont1 FROM cont2 GROUP BY 1),
    t2 AS (SELECT count(*) AS t2 FROM cont2),
    scored AS (
        SELECT per_doc.doc_id, per_doc.m,
               greatest(tri.c3 - {D}, 0.0) / ctx3.c2ctx
               + {D} * ctx3.n3types / ctx3.c2ctx * (
                   greatest(cont2.cont2 - {D}, 0.0) / ctx2.cont2ctx
                   + {D} * ctx2.n2types / ctx2.cont2ctx
                     * (cont1.cont1 / t2.t2)
               ) AS p3
        FROM per_doc
        JOIN tri USING (w1, w2, w3)
        JOIN ctx3 USING (w1, w2)
        JOIN cont2 USING (w2, w3)
        JOIN ctx2 USING (w2)
        JOIN cont1 USING (w3)
        CROSS JOIN t2
    ),
    agg AS (
        SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
               round(-sum(m * ln(p3)) / sum(m), 6) AS mean_surprisal
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(agg.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           agg.mean_surprisal
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


def dsir_importance_sample(
    documents: DataFrame,
    k: int,
    target_lang: str = "en",
    temperature: float = 1.0,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The DSIR paper's actual selection step: importance RESAMPLING —
    draw a fixed-budget sample of ``k`` docs with inclusion probability
    ∝ exp(log_weight / temperature), via the A-ES weighted sampler
    (deterministic keyed-hash draws, TakeOrdered top-k — no global sort,
    no window; operators/sampling.py). temperature=1 is the paper's
    sampled-softmax form; temperature→0 approaches greedy top-weight.

    Scale: dsir_weights' cost plus one in-row exp and a k-row
    TakeOrdered. exp(logw/T) can overflow for extreme weights — logw is
    shifted by its maximum first (broadcast scalar), which leaves
    inclusion probabilities untouched (A-ES keys are scale-invariant in
    the weights). Temperatures far below ~0.1 underflow every non-argmax
    weight to zero (excluded by the sampler's w>0 filter) — use the
    direct top-k by log_weight for greedy selection instead."""
    from . import sampling as S

    w = dsir_weights(documents, target_lang, n_buckets)
    mx = w.agg(F.max("log_weight").alias("mx"))
    weighted = w.crossJoin(F.broadcast(mx)).withColumn(
        "imp_w",
        F.exp((F.col("log_weight") - F.col("mx")) / F.lit(float(temperature))),
    )
    return S.weighted_sample(weighted, "doc_id", "imp_w", k).select(
        "doc_id", "lang", "log_weight", "sample_key"
    )


def kn_trigram_logprob_pruned(
    documents: DataFrame,
    discount: float = KN_DISCOUNT,
    prune_min: int = 2,
) -> DataFrame:
    """Count-pruned interpolated Kneser-Ney (the KenLM practicality:
    singleton trigrams dominate an n-gram table's size — at web scale
    ~half the trigram types are hapax — and pruning them shrinks the
    model by that factor): trigrams with c3 < ``prune_min`` are dropped
    from the top order and their probability mass flows into the
    interpolation weight,

        λ(w1,w2) = (D·|kept types| + Σ_pruned c3) / c(w1w2·)
        P3 = [kept] · max(c3−D, 0)/c(w1w2·) + λ·P2(w3|w2)

    which keeps every context a PROPER distribution (Σ_w3 P3 = 1 —
    asserted in tests/test_curation.py): the kept discounted terms plus
    λ account for exactly the full mass, and a fully-pruned context
    degrades to pure backoff (λ = 1). Lower orders keep the FULL-table
    continuation counts (KenLM computes lower orders before pruning).
    prune_min=1 reproduces the unpruned model bit-for-bit.

    Scale shape identical to kn_trigram_logprob: kept/pruned is decided
    in-expression on the same trigram table — no extra pass, no extra
    join."""
    D = float(discount)
    docs = documents.select("doc_id", T.words(F.col("text")).alias("_w"))
    tri_stream = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(zip_with("
                " slice(_w, 1, greatest(size(_w)-2, 0)),"
                " slice(_w, 2, greatest(size(_w)-2, 0)),"
                " (a, b) -> struct(a AS w1, b AS w2)),"
                " slice(_w, 3, greatest(size(_w)-2, 0)),"
                " (p, c) -> struct(p.w1 AS w1, p.w2 AS w2, c AS w3))"
            )
        ).alias("t"),
    ).select("doc_id", "t.w1", "t.w2", "t.w3")
    per_doc = tri_stream.groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("m")
    )
    tri = per_doc.groupBy("w1", "w2", "w3").agg(F.sum("m").alias("c3"))
    kept = F.col("c3") >= prune_min
    ctx3 = tri.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2ctx"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n3kept"),
        F.sum(F.when(~kept, F.col("c3")).otherwise(0)).alias("pruned_mass"),
    )
    cont2 = tri.select("w1", "w2", "w3").distinct().groupBy("w2", "w3").agg(
        F.count(F.lit(1)).alias("cont2")
    )
    ctx2 = cont2.groupBy("w2").agg(
        F.sum("cont2").alias("cont2ctx"), F.count(F.lit(1)).alias("n2types")
    )
    cont1 = cont2.groupBy("w3").agg(F.sum(F.lit(1)).alias("cont1"))
    t2 = cont2.agg(F.count(F.lit(1)).alias("t2"))

    lam = (
        F.lit(D) * F.col("n3kept") + F.col("pruned_mass")
    ) / F.col("c2ctx")
    scored = (
        per_doc.join(tri, ["w1", "w2", "w3"])
        .join(ctx3, ["w1", "w2"])
        .join(cont2, ["w2", "w3"])
        .join(F.broadcast(ctx2), "w2")
        .join(F.broadcast(cont1), "w3")
        .crossJoin(F.broadcast(t2))
        .withColumn("p1", F.col("cont1") / F.col("t2"))
        .withColumn(
            "p2",
            F.greatest(F.col("cont2") - F.lit(D), F.lit(0.0))
            / F.col("cont2ctx")
            + F.lit(D) * F.col("n2types") / F.col("cont2ctx") * F.col("p1"),
        )
        .withColumn(
            "p3",
            F.when(
                kept,
                F.greatest(F.col("c3") - F.lit(D), F.lit(0.0))
                / F.col("c2ctx"),
            ).otherwise(F.lit(0.0))
            + lam * F.col("p2"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_trigrams"),
        F.round(-F.sum(F.col("m") * F.log("p3")) / F.sum("m"), 6).alias(
            "mean_surprisal"
        ),
    )
    return documents.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("bigint").alias(
            "n_trigrams"
        ),
        "mean_surprisal",
    ).orderBy("doc_id")


def kn_trigram_pruned_oracle_sql(
    discount: float = KN_DISCOUNT, prune_min: int = 2
) -> str:
    D = discount
    words = T.words_sql("text", "duckdb")
    return f"""
    WITH docs AS (SELECT doc_id, {words} AS w FROM documents),
    tri_stream AS (
        SELECT doc_id,
               w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
        FROM docs, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)
        WHERE len(w) >= 3
    ),
    per_doc AS (
        SELECT doc_id, w1, w2, w3, count(*) AS m
        FROM tri_stream GROUP BY 1, 2, 3, 4
    ),
    tri AS (SELECT w1, w2, w3, sum(m) AS c3 FROM per_doc GROUP BY 1, 2, 3),
    ctx3 AS (
        SELECT w1, w2, sum(c3) AS c2ctx,
               sum(CASE WHEN c3 >= {prune_min} THEN 1 ELSE 0 END) AS n3kept,
               sum(CASE WHEN c3 < {prune_min} THEN c3 ELSE 0 END)
                   AS pruned_mass
        FROM tri GROUP BY 1, 2
    ),
    cont2 AS (
        SELECT w2, w3, count(*) AS cont2
        FROM (SELECT DISTINCT w1, w2, w3 FROM tri) GROUP BY 1, 2
    ),
    ctx2 AS (
        SELECT w2, sum(cont2) AS cont2ctx, count(*) AS n2types
        FROM cont2 GROUP BY 1
    ),
    cont1 AS (SELECT w3, count(*) AS cont1 FROM cont2 GROUP BY 1),
    t2 AS (SELECT count(*) AS t2 FROM cont2),
    scored AS (
        SELECT per_doc.doc_id, per_doc.m,
               CASE WHEN tri.c3 >= {prune_min}
                    THEN greatest(tri.c3 - {D}, 0.0) / ctx3.c2ctx
                    ELSE 0.0 END
               + (({D} * ctx3.n3kept + ctx3.pruned_mass) / ctx3.c2ctx) * (
                   greatest(cont2.cont2 - {D}, 0.0) / ctx2.cont2ctx
                   + {D} * ctx2.n2types / ctx2.cont2ctx
                     * (cont1.cont1 / t2.t2)
               ) AS p3
        FROM per_doc
        JOIN tri USING (w1, w2, w3)
        JOIN ctx3 USING (w1, w2)
        JOIN cont2 USING (w2, w3)
        JOIN ctx2 USING (w2)
        JOIN cont1 USING (w3)
        CROSS JOIN t2
    ),
    agg AS (
        SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
               round(-sum(m * ln(p3)) / sum(m), 6) AS mean_surprisal
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(agg.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           agg.mean_surprisal
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    ORDER BY d.doc_id
    """


def dsir_gumbel_topk(
    documents: DataFrame,
    k: int = 50,
    target_lang: str = "en",
    temperature: float = 1.0,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "dsir-gumbel-v1",
) -> DataFrame:
    """Gumbel-top-k DSIR selection (the log-space twin of
    ``dsir_importance_sample``): rank by log_weight/T + G where
    G = −ln(−ln u) is Gumbel(0,1) noise from the portable keyed hash,
    keep the k best. The Gumbel-max property makes this an EXACT sample
    without replacement from softmax(log_weight/T) — identical inclusion
    law to the A-ES resampler — but it never exponentiates: no max-shift
    broadcast, no underflow collapse at small temperatures (the two
    failure modes dsir_importance_sample has to engineer around). This
    is the form the dsir_weights docstring promises for fixed-budget
    selection at scale.

    Determinism/portability: u = (hash48(salt:doc_id) + 0.5) / 2^48 is
    strictly inside (0,1) (both ln's finite) and bit-identical in
    DuckDB; the key is built from the ALREADY-ROUNDED log_weight and
    rounded to 12 dp before ranking (the weighted_sample convention), so
    the selected set is engine-stable. Scale shape: dsir_weights' cost
    plus one in-row hash + two ln's and a TakeOrdered top-k — no global
    sort, no window, no extra exchange."""
    from ..functions.text import hash48_sql

    w = dsir_weights(documents, target_lang, n_buckets)
    h = F.expr(hash48_sql(f"concat('{salt}:', cast(doc_id as string))"))
    u = (h + F.lit(0.5)) / F.lit(float(1 << 48))
    gumbel = -F.log(-F.log(u))
    key = F.round(
        F.col("log_weight") / F.lit(float(temperature)) + gumbel, 12
    )
    return (
        w.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "lang", "log_weight", "gumbel_key")
    )


def dsir_gumbel_oracle_sql(
    k: int = 50,
    target_lang: str = "en",
    temperature: float = 1.0,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "dsir-gumbel-v1",
) -> str:
    from ..functions.text import hash48_sql

    h = hash48_sql(f"concat('{salt}:', CAST(doc_id AS VARCHAR))")
    return f"""
    SELECT doc_id, lang, log_weight,
           round(log_weight / {float(temperature)}
                 + -ln(-ln((({h}) + 0.5) / {float(1 << 48)})), 12)
               AS gumbel_key
    FROM ({dsir_oracle_sql(target_lang, n_buckets)}) w
    ORDER BY gumbel_key DESC, doc_id LIMIT {k}
    """


def shard_manifest_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    n_shards: int = 16,
    salt: str = "manifest-v1",
) -> DataFrame:
    """Shard-grain MANIFEST diff between two corpus snapshots — the
    incremental-curation planner: after a corpus update (crawl refresh,
    dedup pass, policy scrub), which training-data shards actually need
    re-materializing? Docs are assigned to shards by the same stable
    keyed hash discipline as ``shard_assignment`` (reproducible across
    reruns and cluster sizes), the two snapshots are compared ONCE at
    doc grain, and everything rolls up to one row per shard:

    (shard, n_docs_old, n_docs_new, n_added, n_removed, n_changed,
    chars_old, chars_new, needs_rewrite) — ``n_changed`` counts docs
    present in both whose text hash differs; ``needs_rewrite`` is true
    iff the shard's content moved at all. A 100 TB export with 1%
    churn re-writes only the touched shards (the txlog/CDC complement:
    snapshot_diff answers WHICH rows changed, this answers WHICH
    OUTPUT FILES must be rebuilt).

    Scale: one doc-grain full-outer join on doc_id (hash-partitioned,
    no skew — doc_id is unique on each side), text compared via the
    48-bit md5 hash so the join carries (id, shard, hash, len) — never
    two copies of the corpus text; then ONE shard-grain aggregate
    (n_shards rows). Shard ids are identical on both sides by
    construction, so a doc never "moves shards" in the diff.
    """
    h_shard = F.expr(
        T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
    )
    # hash/len over coalesce(text, ''): md5(NULL) is NULL on both
    # engines, which would silently drop a NULL-text doc from the
    # presence counts — a null-text doc is a present (empty) doc, not
    # an absent one. Same coalesce in the oracle.
    h_text = F.expr(T.hash48_sql("coalesce(text, '')"))

    def prep(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            "doc_id",
            (h_shard % n_shards).cast("int").alias("shard"),
            h_text.alias(f"h_{tag}"),
            F.length(F.coalesce("text", F.lit(""))).cast("bigint").alias(
                f"len_{tag}"
            ),
        )
    o = prep(old_docs, "old")
    n = prep(new_docs, "new").withColumnRenamed("shard", "shard_n")
    j = o.join(n, "doc_id", "full_outer").select(
        F.coalesce("shard", "shard_n").alias("shard"),
        "h_old", "h_new", "len_old", "len_new",
    )
    return (
        j.groupBy("shard")
        .agg(
            F.sum(F.when(F.col("h_old").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_docs_old"),
            F.sum(F.when(F.col("h_new").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_docs_new"),
            F.sum(
                F.when(
                    F.col("h_old").isNull() & F.col("h_new").isNotNull(), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_added"),
            F.sum(
                F.when(
                    F.col("h_new").isNull() & F.col("h_old").isNotNull(), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_removed"),
            F.sum(
                F.when(
                    F.col("h_old").isNotNull()
                    & F.col("h_new").isNotNull()
                    & (F.col("h_old") != F.col("h_new")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_changed"),
            F.sum(F.coalesce("len_old", F.lit(0))).cast("bigint").alias(
                "chars_old"
            ),
            F.sum(F.coalesce("len_new", F.lit(0))).cast("bigint").alias(
                "chars_new"
            ),
        )
        .withColumn(
            "needs_rewrite",
            (F.col("n_added") + F.col("n_removed") + F.col("n_changed"))
            > 0,
        )
        .orderBy("shard")
    )


def shard_manifest_diff_oracle_sql(
    old_cte: str,
    new_cte: str,
    n_shards: int = 16,
    salt: str = "manifest-v1",
) -> str:
    """DuckDB twin over caller-supplied old/new snapshot CTE bodies
    (each must yield (doc_id, text)); same hash48 shard/text keys."""
    h_shard = T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
    h_text = T.hash48_sql("coalesce(text, '')")
    return f"""
    WITH old_snap AS ({old_cte}),
    new_snap AS ({new_cte}),
    o AS (
        SELECT doc_id, CAST(({h_shard}) % {n_shards} AS INT) AS shard,
               ({h_text}) AS h_old,
               CAST(length(coalesce(text, '')) AS BIGINT) AS len_old
        FROM old_snap
    ),
    n AS (
        SELECT doc_id, CAST(({h_shard}) % {n_shards} AS INT) AS shard_n,
               ({h_text}) AS h_new,
               CAST(length(coalesce(text, '')) AS BIGINT) AS len_new
        FROM new_snap
    ),
    j AS (
        SELECT coalesce(o.shard, n.shard_n) AS shard,
               h_old, h_new, len_old, len_new
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT shard,
           CAST(sum(CASE WHEN h_old IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_old,
           CAST(sum(CASE WHEN h_new IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_new,
           CAST(sum(CASE WHEN h_old IS NULL AND h_new IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(sum(CASE WHEN h_new IS NULL AND h_old IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN h_old IS NOT NULL AND h_new IS NOT NULL
                         AND h_old <> h_new THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed,
           CAST(sum(coalesce(len_old, 0)) AS BIGINT) AS chars_old,
           CAST(sum(coalesce(len_new, 0)) AS BIGINT) AS chars_new,
           (sum(CASE WHEN h_old IS NULL AND h_new IS NOT NULL
                     THEN 1 ELSE 0 END)
            + sum(CASE WHEN h_new IS NULL AND h_old IS NOT NULL
                       THEN 1 ELSE 0 END)
            + sum(CASE WHEN h_old IS NOT NULL AND h_new IS NOT NULL
                       AND h_old <> h_new THEN 1 ELSE 0 END)) > 0
               AS needs_rewrite
    FROM j
    GROUP BY shard
    ORDER BY shard
    """


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
# Data Mixtures Speeds Up Language Model Pretraining") — r12 queue
# rehearsal
# ---------------------------------------------------------------------------


def doremi_domain_weights(
    documents: DataFrame,
    eta: float = 1.0,
    eps: float = 0.01,
    strata_col: str = "source",
) -> DataFrame:
    """Domain mixture weights by EXCESS LOSS, the DoReMi recipe at
    proxy grain: DoReMi trains a small proxy model with group-DRO,
    upweighting domains whose proxy loss most exceeds a reference
    model's, then reuses the learned mixture for the big run. The
    deterministic engine-side analogue replaces the learned excess
    loss with a closed-form one — the per-token KL divergence of the
    domain's unigram distribution from the corpus mixture,
    excess(d) = Σ_tok (c_dt/n_d)·ln((c_dt·N)/(n_d·c_t)) — which is
    exactly the cross-entropy penalty a corpus-mixture reference LM
    pays on domain d, per token. Domains far from the mixture (the
    ones a shared model underfits) get upweighted, which is the DoReMi
    direction. With a STATIC loss signal the T-round multiplicative-
    weights update collapses to a single exponential tilt
    w(d) ∝ exp(η·excess(d)) (T absorbs into η); ``eps`` is DoReMi's
    uniform smoothing on the output mixture,
    final = (1−ε)·w + ε·u. No training, no randomness — both engines
    compute the identical table.

    Output, one row per domain: (source, n_tokens, excess_kl,
    domain_weight, smoothed_weight), 6-dp rounds; weights sum to 1
    before rounding.

    Cross-engine discipline (the rho1_token_selection recipe, hardened
    r12 per the r11 advice): counts, totals and N are exact BIGINTs,
    so every ln argument is a bit-identical rational; each ln-TERM is
    snapped to a micro-nat BIGINT (round(term·1e6)) BEFORE summation —
    integer addition is order-independent, so the excess can never
    pick up partial-sum order noise the way a rounded double sum can
    (a last-6dp flip there would propagate through exp/normalize into
    every weight). excess_kl = Σterm_µ/1e6 is an exact-integer ratio
    (IEEE division is correctly rounded → identical double on both
    engines), and exp/normalize run on that snapped excess. A 1-ulp
    libm ln() divergence now moves one TERM by ≤2e-9 µnat — it flips
    only if that term sits within 2e-9 of a .5 boundary, instead of
    the whole sum sitting within 5e-7 of a 6-dp boundary.

    Scale: one corpus scan to (source, tok) counts (map-side combine,
    vocab-grain), one vocab-grain re-aggregate for the corpus counts,
    then all weight arithmetic on the |domains|-row dimension table —
    nothing corpus-sized crosses the exp/normalize stage. At 100 TB
    this is the domain-mixing planner that feeds temperature_mix_plan's
    sampler: compute weights here, sample there.
    """
    toks = documents.select(
        strata_col, F.explode(T.words(F.col("text"))).alias("tok")
    )
    counts = (
        toks.groupBy(strata_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # cache: caller-owned (repo contract — bench/driver clear per
        # query); three consumers: totals, corpus counts, KL terms
        .persist()
    )
    totals = counts.groupBy(strata_col).agg(
        F.sum("c").cast("bigint").alias("n")
    )
    corpus = counts.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("ct")
    )
    big_n = totals.agg(F.sum("n").cast("bigint").alias("nn"))
    term_micro = (
        F.round(
            F.col("c").cast("double") / F.col("n")
            * F.log(
                (F.col("c").cast("double") * F.col("nn"))
                / (F.col("n").cast("double") * F.col("ct"))
            )
            * F.lit(1e6),
            0,
        )
        .cast("bigint")
    )
    excess = (
        counts.join(corpus, "tok")
        .join(F.broadcast(totals), strata_col)
        .crossJoin(F.broadcast(big_n))
        .groupBy(strata_col)
        .agg(
            F.max("n").alias("n_tokens"),
            (F.sum(term_micro).cast("double") / F.lit(1e6)).alias(
                "excess_kl"
            ),
        )
    )
    w_raw = F.exp(F.lit(eta) * F.col("excess_kl"))
    z = Window.partitionBy()
    n_dom = F.count(F.lit(1)).over(z)
    weight = w_raw / F.sum(w_raw).over(z)
    smoothed = (F.lit(1.0) - F.lit(eps)) * weight + F.lit(eps) / n_dom
    return (
        excess.select(
            strata_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "excess_kl",
            F.round(weight, 6).alias("domain_weight"),
            F.round(smoothed, 6).alias("smoothed_weight"),
        )
        .orderBy(strata_col)
    )


def doremi_oracle_sql(
    eta: float = 1.0, eps: float = 0.01, strata_col: str = "source"
) -> str:
    """DuckDB twin: identical BIGINT rationals into ln, identical
    per-term micro-nat snapping before the (order-independent integer)
    sum, identical snapped excess into exp, same normalize-then-round
    order. sum(BIGINT) promotes to HUGEINT in DuckDB — exact, and cast
    back to DOUBLE before it can reach an output column."""
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH toks AS (
        SELECT {strata_col}, unnest({words_duck}) AS tok FROM documents
    ),
    counts AS (
        SELECT {strata_col}, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    totals AS (
        SELECT {strata_col}, CAST(sum(c) AS BIGINT) AS n
        FROM counts GROUP BY 1
    ),
    corpus AS (
        SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM counts GROUP BY 1
    ),
    big_n AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM totals),
    excess AS (
        SELECT c.{strata_col}, max(t.n) AS n_tokens,
               CAST(sum(CAST(round(
                   CAST(c.c AS DOUBLE) / t.n
                   * ln((CAST(c.c AS DOUBLE) * b.N)
                        / (CAST(t.n AS DOUBLE) * k.ct))
                   * 1e6, 0) AS BIGINT)) AS DOUBLE) / 1e6 AS excess_kl
        FROM counts c
        JOIN corpus k USING (tok)
        JOIN totals t USING ({strata_col})
        CROSS JOIN big_n b
        GROUP BY 1
    )
    SELECT {strata_col},
           CAST(n_tokens AS BIGINT) AS n_tokens,
           excess_kl,
           round(exp({eta} * excess_kl)
                 / sum(exp({eta} * excess_kl)) OVER (), 6)
               AS domain_weight,
           round((1.0 - {eps}) * exp({eta} * excess_kl)
                 / sum(exp({eta} * excess_kl)) OVER ()
                 + {eps} / count(*) OVER (), 6) AS smoothed_weight
    FROM excess
    ORDER BY {strata_col}
    """


def doremi_iterated(
    documents: DataFrame,
    t_rounds: int = 3,
    eta: float = 1.0,
    eps: float = 0.01,
    strata_col: str = "source",
) -> DataFrame:
    """The FULL DoReMi multiplicative-weights loop (Xie et al. 2023) at
    proxy grain — :func:`doremi_domain_weights` is the T=1 special
    case, where a STATIC loss signal collapses the iteration into one
    exponential tilt. Here the loss signal is re-weighted every round:
    the reference mixture q_t(tok) = Σ_d w_t(d)·p_d(tok) moves toward
    the domains the weights favour, each domain's excess
    KL(p_d ‖ q_t) shrinks as the mixture approaches it, and the update
    w_{t+1} ∝ w_t·exp(η·excess_t) runs T rounds with ε-uniform
    smoothing applied to the weights entering each round (DoReMi's
    per-iteration smoothing) — the self-balancing group-DRO dynamic
    the one-shot tilt cannot express.

    Output, one row per domain: (source, n_tokens, excess_kl,
    domain_weight) — excess_kl is the FINAL round's excess against the
    round-T mixture (micro-nat exact), domain_weight = W_T/1e6, a
    ratio of exact integers.

    Cross-engine discipline (everything integer between libm calls):
    weights live as MICRO-unit BIGINTs W_d; the mixture is a per-(d,
    tok) micro-micro snap q_µ(tok) = Σ_d round(w·p_d·1e12) (integer
    sum — order-independent); the excess is the per-term micro-nat
    snap of p_d·ln(p_d·1e12/greatest(q_µ, 1)) (integer sum again; the
    greatest() clamp — mirrored verbatim in the oracle — covers the
    q_µ=0 corner where every containing domain has w·p_d < 5e-7, which
    would otherwise diverge as Spark-Infinity vs DuckDB-error); the update
    raw_µ = round(W_smoothed·exp(η·excess)) and the normalize
    W' = round(1e6·raw_µ/Σraw_µ) are integer-in/integer-out with one
    exp and one correctly-rounded division in between. The DuckDB
    oracle is the same recurrence UNROLLED into T CTE blocks (the
    kcore discipline), every expression structurally identical.

    Scale: the (domain, tok) count frame is built once and persisted;
    each round costs one vocab-grain mixture aggregate + one
    vocab-grain excess aggregate (map-side combined), and the weight
    update is a |domains|-row driver computation (bounded, the EM-loop
    discipline). T is a small constant — the corpus is scanned once,
    the vocab T·2 times, and nothing corpus-sized reaches the driver.
    """
    from decimal import ROUND_HALF_UP, Decimal

    def _r(x: float) -> int:
        # HALF_UP on the exact binary double — what Spark's round(x, 0)
        # and DuckDB's round(x, 0) both compute
        return int(Decimal(x).quantize(Decimal(1), ROUND_HALF_UP))

    spark = documents.sparkSession
    toks = documents.select(
        strata_col, F.explode(T.words(F.col("text"))).alias("tok")
    )
    counts = (
        toks.groupBy(strata_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # cache: caller-owned (repo contract); 2·T consumers (mixture +
        # excess per round)
        .persist()
    )
    totals = {
        r[strata_col]: r["n"]
        for r in counts.groupBy(strata_col)
        .agg(F.sum("c").cast("bigint").alias("n"))
        .collect()
    }
    domains = sorted(totals)
    nd = len(domains)
    w = {d: _r(1000000.0 / nd) for d in domains}
    excess: dict[str, int] = {}
    for _ in range(t_rounds):
        ws = {
            d: _r((1.0 - eps) * w[d] + eps * 1000000.0 / nd)
            for d in domains
        }
        wf = F.broadcast(
            spark.createDataFrame(
                [(d, ws[d], int(totals[d])) for d in domains],
                f"{strata_col} string, ws long, n long",
            )
        )
        base = counts.join(wf, strata_col)
        qm = base.groupBy("tok").agg(
            F.sum(
                F.round(
                    F.col("ws").cast("double")
                    * F.col("c")
                    / F.col("n")
                    * F.lit(1e6),
                    0,
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("qm")
        )
        p = F.col("c").cast("double") / F.col("n")
        # r12-advice fix: the mixture snap q_µ = round(ws·c/n·1e6) can
        # round to 0 for a token whose every containing domain has tiny
        # weight and huge n (ws·c/n < 5e-7); ln(p·1e12/0) is a
        # cross-engine landmine (Spark yields Infinity and the bigint
        # cast garbage, DuckDB errors on CAST(round(inf))). Clamp the
        # snapped mixture to 1 µµ-unit — IDENTICALLY on both engines —
        # so the floor is deterministic shared arithmetic, not
        # divergent overflow behavior.
        qm_safe = F.greatest(F.col("qm"), F.lit(1).cast("bigint"))
        ex_rows = (
            base.join(qm, "tok")
            .groupBy(strata_col)
            .agg(
                F.sum(
                    F.round(
                        p * F.log(p * F.lit(1e12) / qm_safe) * F.lit(1e6),
                        0,
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("exm")
            )
            .collect()
        )
        excess = {r[strata_col]: int(r["exm"]) for r in ex_rows}
        raw = {
            d: _r(float(ws[d]) * math.exp(eta * excess[d] / 1e6))
            for d in domains
        }
        s = sum(raw.values())
        w = {d: _r(1000000.0 * raw[d] / s) for d in domains}
    return spark.createDataFrame(
        [
            (d, int(totals[d]), excess[d] / 1e6, w[d] / 1e6)
            for d in domains
        ],
        f"{strata_col} string, n_tokens bigint, excess_kl double,"
        " domain_weight double",
    )


def doremi_iterated_oracle_sql(
    t_rounds: int = 3,
    eta: float = 1.0,
    eps: float = 0.01,
    strata_col: str = "source",
) -> str:
    """DuckDB twin: the recurrence unrolled into T CTE blocks — same
    micro-unit integer state, same snap points, same expression
    structure (association order matters: every arithmetic step must
    hit libm/IEEE with the identical double)."""
    words_duck = T.words_sql("text", "duckdb")
    blocks = [
        f"""toks AS (
        SELECT {strata_col}, unnest({words_duck}) AS tok FROM documents
    ),
    counts AS (
        SELECT {strata_col}, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    totals AS (
        SELECT {strata_col}, CAST(sum(c) AS BIGINT) AS n
        FROM counts GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM totals),
    w0 AS (
        SELECT {strata_col},
               CAST(round(1000000.0 / nd, 0) AS BIGINT) AS w
        FROM totals, nd
    )"""
    ]
    for t in range(1, t_rounds + 1):
        blocks.append(
            f"""ws{t} AS (
        SELECT {strata_col},
               CAST(round(CAST({1.0 - eps!r} AS DOUBLE) * w
                          + CAST({eps!r} AS DOUBLE) * 1000000.0 / nd, 0)
                    AS BIGINT) AS ws
        FROM w{t - 1}, nd
    ),
    q{t} AS (
        SELECT tok,
               CAST(sum(CAST(round(
                   CAST(ws AS DOUBLE) * c / n * 1e6, 0) AS BIGINT))
                   AS BIGINT) AS qm
        FROM counts
        JOIN totals USING ({strata_col})
        JOIN ws{t} USING ({strata_col})
        GROUP BY tok
    ),
    ex{t} AS (
        SELECT {strata_col},
               CAST(sum(CAST(round(
                   CAST(c AS DOUBLE) / n
                   * ln(CAST(c AS DOUBLE) / n * 1e12
                        / greatest(qm, CAST(1 AS BIGINT))) * 1e6, 0)
                   AS BIGINT)) AS BIGINT) AS exm
        FROM counts
        JOIN totals USING ({strata_col})
        JOIN q{t} USING (tok)
        GROUP BY 1
    ),
    raw{t} AS (
        SELECT {strata_col},
               CAST(round(CAST(ws AS DOUBLE)
                          * exp(CAST({eta!r} AS DOUBLE) * exm / 1e6), 0)
                    AS BIGINT) AS raw
        FROM ws{t} JOIN ex{t} USING ({strata_col})
    ),
    s{t} AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM raw{t}),
    w{t} AS (
        SELECT {strata_col},
               CAST(round(1000000.0 * raw / s, 0) AS BIGINT) AS w
        FROM raw{t}, s{t}
    )"""
        )
    joined = ",\n    ".join(blocks)
    return f"""
    WITH {joined}
    SELECT t.{strata_col}, t.n AS n_tokens,
           CAST(e.exm AS DOUBLE) / 1e6 AS excess_kl,
           CAST(w.w AS DOUBLE) / 1e6 AS domain_weight
    FROM totals t
    JOIN ex{t_rounds} e USING ({strata_col})
    JOIN w{t_rounds} w USING ({strata_col})
    ORDER BY t.{strata_col}
    """


def rho1_token_selection(documents: DataFrame) -> DataFrame:
    """Selective-language-modeling token budget (Rho-1, Lin et al.
    2024: "Not All Tokens Are What You Need") at unigram-proxy grain:
    Rho-1 trains only on tokens whose reference-model loss is high —
    the rest are already learned and waste compute. The deterministic
    engine-side analogue scores every token occurrence with its corpus
    unigram surprisal −ln(c/T) (the reference-loss proxy this repo's
    lm-filter family already uses) and selects occurrences ABOVE the
    corpus token entropy H = Σ (c/T)·(−ln(c/T)) — the
    information-theoretic "average token", so selected = carries more
    information than the corpus mean. The per-document selection rate
    is the training-token budget report: how much of each doc would an
    SLM run actually train on.

    Cross-engine discipline: c and T are exact BIGINTs; per-token
    surprisal and H are snapped to MICRO-NAT BIGINTs (round(x·1e6))
    before anything else, so the threshold compare is integer-exact
    and the selected-average is a ratio of exact integers (IEEE
    division is correctly rounded, so both engines produce the
    identical double) — averaging 6-dp doubles directly was measured
    to flip the last digit on one sf0.01 row from partial-sum order
    noise.

    Output (doc-grain): (doc_id, n_tokens, n_selected, sel_rate,
    sel_avg_surprisal) — sel_avg_surprisal NULL when nothing selected.

    Scale shape: identical to unigram_logprob — vocab groupBy
    (map-side combine), H as a 1-row broadcast off the vocab table,
    surprisal attached to the VOCAB dimension then broadcast onto the
    token stream (the stream itself never shuffles), one doc rollup.
    """
    w = documents.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("wd")
    )
    freq = (
        w.groupBy("wd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # cache: caller-owned (repo contract — bench/driver clear per
        # query); three consumers: total, the score table, H — without
        # it each one re-scans the corpus for the vocab aggregate
        .persist()
    )
    total = freq.agg(F.sum("c").cast("bigint").alias("t"))
    scored = freq.crossJoin(F.broadcast(total)).select(
        "wd",
        F.round(
            -F.log(F.col("c").cast("double") / F.col("t")) * F.lit(1e6), 0
        )
        .cast("bigint")
        .alias("sm"),
    )
    h = (
        freq.crossJoin(F.broadcast(total))
        .agg(
            F.round(
                F.sum(
                    F.col("c").cast("double")
                    / F.col("t")
                    * -F.log(F.col("c").cast("double") / F.col("t"))
                )
                * F.lit(1e6),
                0,
            )
            .cast("bigint")
            .alias("hm")
        )
    )
    sel = F.col("sm") > F.col("hm")
    n_sel = F.sum(F.when(sel, 1).otherwise(0)).cast("bigint")
    return (
        w.join(F.broadcast(scored), "wd")
        .crossJoin(F.broadcast(h))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            n_sel.alias("n_selected"),
            F.round(
                n_sel / F.count(F.lit(1)).cast("double"), 6
            ).alias("sel_rate"),
            F.round(
                F.sum(F.when(sel, F.col("sm"))).cast("double")
                / n_sel.cast("double")
                / F.lit(1e6),
                6,
            ).alias("sel_avg_surprisal"),
        )
        .orderBy("doc_id")
    )


def rho1_oracle_sql() -> str:
    """DuckDB twin: same BIGINT rationals, same 6-dp rounds BEFORE the
    threshold compare, same entropy threshold."""
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH w AS (SELECT doc_id, unnest({words_duck}) AS wd FROM documents),
    freq AS (SELECT wd, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
    scored AS (
        SELECT wd,
               CAST(round(-ln(CAST(c AS DOUBLE) / t) * 1e6, 0) AS BIGINT)
                   AS sm
        FROM freq, total
    ),
    h AS (
        SELECT CAST(round(sum(CAST(c AS DOUBLE) / t
                              * -ln(CAST(c AS DOUBLE) / t)) * 1e6, 0)
                    AS BIGINT) AS hm
        FROM freq, total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN sm > hm THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
           round(sum(CASE WHEN sm > hm THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS sel_rate,
           round(CAST(sum(CASE WHEN sm > hm THEN sm END) AS DOUBLE)
                 / CAST(sum(CASE WHEN sm > hm THEN 1 ELSE 0 END)
                        AS DOUBLE) / 1e6, 6) AS sel_avg_surprisal
    FROM w JOIN scored USING (wd), h
    GROUP BY doc_id
    ORDER BY doc_id
    """


def source_coverage_report(documents: DataFrame, n: int = 3) -> DataFrame:
    """Leave-one-out n-gram coverage per source — the marginal-utility
    signal behind greedy mixture construction (the submodular-coverage
    view of data selection: a source earns its tokens by contributing
    shingle mass NO other source provides). For every source: how many
    distinct word-n-gram shingles it contains, how many are UNIQUE to
    it (appear in no other source — exactly its leave-one-out marginal
    coverage), and both as shares of the corpus's distinct shingle
    inventory. A syndicated mirror scores near-zero uniqueness — cut
    it; a high-marginal tail source is irreplaceable at any size.

    Semantics: shingle identity is the 48-bit rolling word-hash
    (functions/text.py — strings never materialize); NO doc-frequency
    cap (coverage wants the true inventory; the cap exists to bound
    PAIR joins, and nothing here is pairwise).

    Output, one row per source: (source, n_shingles, n_unique,
    uniqueness, coverage_share, marginal_share) — ratios of exact
    BIGINTs (IEEE division, deterministic), 6-dp rounds.

    Scale: shingles stream from the scan exchange-free (in-row
    array_distinct), collapse to distinct (source, shingle) — ONE
    exchange on the 8-byte hash — then the per-shingle source count is
    a map-side-combined aggregate of that frame; the final rollup is
    |sources| rows. Nothing pairwise, nothing super-linear: the whole
    operator is two hash aggregates over the shingle inventory.
    """
    wh = documents.select(
        "source",
        F.expr(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
        ).alias("wh"),
    )
    ss = (
        wh.select(
            "source",
            F.explode(
                F.array_distinct(F.expr(T.shingle_hash_array_sql("wh", n)))
            ).alias("s"),
        )
        .distinct()
        # cache: caller-owned (repo contract — bench/driver clear per
        # query); two consumers: the per-shingle source count and the
        # source rollup join
        .persist()
    )
    per_sh = ss.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src")
    )
    total = per_sh.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    per_source = (
        ss.join(per_sh, "s")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("n_src") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
    )
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_shingles",
            "n_unique",
            F.round(
                F.col("n_unique").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("uniqueness"),
            F.round(
                F.col("n_shingles").cast("double") / F.col("t").cast("double"),
                6,
            ).alias("coverage_share"),
            F.round(
                F.col("n_unique").cast("double") / F.col("t").cast("double"),
                6,
            ).alias("marginal_share"),
        )
        .orderBy("source")
    )


def source_coverage_oracle_sql(n: int = 3) -> str:
    """DuckDB twin: same hash CTEs at SOURCE grain, no df cap, same
    exact-BIGINT ratios."""
    words_duck = T.words_sql("text", "duckdb")
    return f"""
    WITH words AS (SELECT source, {words_duck} AS w FROM documents),
    whs AS (
        SELECT source, {T.word_hash_array_sql('w', 'duckdb')} AS wh
        FROM words
    ),
    ss AS (
        SELECT DISTINCT source,
               unnest({T.shingle_hash_array_sql('wh', n, 'duckdb')}) AS s
        FROM whs
    ),
    per_sh AS (SELECT s, CAST(count(*) AS BIGINT) AS n_src FROM ss GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM per_sh),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique
        FROM ss JOIN per_sh USING (s)
        GROUP BY 1
    )
    SELECT source, n_shingles, n_unique,
           round(CAST(n_unique AS DOUBLE) / n_shingles, 6) AS uniqueness,
           round(CAST(n_shingles AS DOUBLE) / t, 6) AS coverage_share,
           round(CAST(n_unique AS DOUBLE) / t, 6) AS marginal_share
    FROM per_source, tot
    ORDER BY source
    """


def greedy_coverage_order(
    documents: DataFrame, n: int = 3, k: int = 5
) -> DataFrame:
    """Greedy submodular source ORDERING — the iterative extension of
    :func:`source_coverage_report` (its leave-one-out marginal is the
    t=1 step of this loop): pick the source with the largest distinct-
    shingle inventory, remove its shingles from every other source's
    pool, repeat. Classic greedy max-coverage (Nemhauser et al. 1978:
    within 1−1/e of the optimal k-subset), which is the "which feeds
    to onboard first" question a curation team actually asks — the
    first picks buy diverse mass, syndicated mirrors fall to the
    bottom because their pools empty the moment the original is taken.

    Output, one row per pick, ``k`` rows: (pick_rank, source,
    marginal_gain, cum_covered, cum_share) — marginal_gain = distinct
    shingles newly covered by this pick, cum_share = cum_covered /
    corpus distinct inventory as an exact-BIGINT IEEE division (no
    rounding anywhere: every column is integer-derived, so parity with
    the unrolled-CTE oracle is by construction). Ties break by source
    name ascending.

    Scale (r14 single-pass form, guide §1.2/§2.3): greedy max-coverage
    depends on the corpus ONLY through the histogram of per-shingle
    source SETS — |{shingles held by exactly this set of sources}| per
    observed set. One corpus pass aggregates it (per-shingle collect_set
    with map-side partial aggregation — duplicate (source, shingle)
    pairs collapse inside the same exchange the old distinct paid, so
    no separate distinct pass), and all ``k`` greedy rounds then run on
    the driver over ≤ min(2^|sources|, |shingles observed sets|) rows:
    gain(s | picked) = Σ counts of sets containing s and disjoint from
    picked — exactly the anti-join aggregate of the per-round form,
    with zero per-round cluster jobs. Guarded at 30 sources: beyond
    that the observed-set histogram is no longer provably driver-small,
    and the per-round anti-join loop (one aggregate + one ≤|sources|-row
    collect per round) runs instead — same results by construction.
    """
    spark = documents.sparkSession
    # Two-step projection (the source_coverage_report shape), NOT one
    # nested expression: shingle_hash_array_sql references its argument
    # n+1 times inside a transform() lambda, and Spark does not CSE
    # subexpressions across lambda references — nesting the full
    # word-hash expression there re-tokenized the document PER SHINGLE
    # ELEMENT (measured 19 s for 500 docs at sf0.01; this form is
    # ~150x faster, found when the r13 eager-timing bench first
    # measured this operator's true build cost).
    wh = documents.select(
        "source",
        F.expr(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
        ).alias("wh"),
    )
    raw = wh.select(
        "source",
        F.explode(
            F.array_distinct(F.expr(T.shingle_hash_array_sql("wh", n)))
        ).alias("s"),
    )
    n_src = documents.select("source").distinct().count()
    if n_src <= 30:
        # single-pass histogram (docstring): duplicate (source, s) pairs
        # collapse inside collect_set — same one (s-keyed) exchange the
        # old distinct paid, and the k rounds become driver arithmetic.
        hist = {
            frozenset(r["srcs"]): int(r["cnt"])
            for r in raw.groupBy("s")
            .agg(F.collect_set("source").alias("srcs"))
            .groupBy("srcs")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .collect()
        }
        total = sum(hist.values())
        all_sources = sorted(set().union(*hist.keys())) if hist else []
        picked_set: set[str] = set()
        rows: list[tuple] = []
        cum = 0
        for rank in range(1, min(k, len(all_sources)) + 1):
            gains = {
                s: sum(
                    cnt
                    for srcs, cnt in hist.items()
                    if s in srcs and not (srcs & picked_set)
                )
                for s in all_sources
                if s not in picked_set
            }
            best = min(gains, key=lambda s: (-gains[s], s))
            g = int(gains[best])
            cum += g
            rows.append((rank, best, g, cum, cum / total))
            picked_set.add(best)
        return spark.createDataFrame(
            rows,
            "pick_rank int, source string, marginal_gain bigint,"
            " cum_covered bigint, cum_share double",
        )

    # >30 sources: per-round anti-join loop (identical results; the
    # observed-set histogram is no longer provably driver-small).
    # cache: caller-owned (repo contract); k+2 consumers — the
    # total inventory, the per-round gain aggregates, the covered
    # frames
    ss = raw.distinct().persist()
    total = ss.select("s").distinct().count()
    all_sources = sorted(
        r["source"] for r in ss.select("source").distinct().collect()
    )
    picked: list[str] = []
    rows = []
    cum = 0
    for rank in range(1, min(k, len(all_sources)) + 1):
        pool = ss.filter(~F.col("source").isin(picked)) if picked else ss
        if picked:
            # covered-after-t-picks IS the distinct shingle set of the
            # picked sources — derived from the persisted ss in one
            # step per round (r13). Identical set by construction.
            covered = (
                ss.filter(F.col("source").isin(picked))
                .select("s")
                .distinct()
            )
            pool = pool.join(covered, "s", "left_anti")
        gains = {
            r["source"]: r["g"]
            for r in pool.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("g"))
            .collect()
        }
        remaining = [s for s in all_sources if s not in picked]
        best = min(remaining, key=lambda s: (-gains.get(s, 0), s))
        g = int(gains.get(best, 0))
        cum += g
        rows.append((rank, best, g, cum, cum / total))
        picked.append(best)
    return spark.createDataFrame(
        rows,
        "pick_rank int, source string, marginal_gain bigint,"
        " cum_covered bigint, cum_share double",
    )


def greedy_coverage_oracle_sql(n: int = 3, k: int = 5) -> str:
    """DuckDB twin: the greedy loop UNROLLED into k chained CTE blocks
    (the kcore/doremi_iterated unroll discipline) — per round t, g{t}
    left-joins the remaining sources to their uncovered-shingle counts
    (zero-gain sources stay pickable), p{t} is the (g DESC, source)
    argmax, cov{t} the covered set after t picks. Every compared
    column is an exact BIGINT or an exact-BIGINT IEEE division.
    ``ss`` and each ``cov{t}`` are AS MATERIALIZED: they are referenced
    by every subsequent round, and DuckDB's default CTE inlining
    re-evaluates a CTE per reference — super-linear blow-up measured
    at 5k docs (the un-pinned form ground >15 min; materialized it
    returns in seconds, values identical)."""
    words_duck = T.words_sql("text", "duckdb")
    blocks = [
        f"""words AS (SELECT source, {words_duck} AS w FROM documents),
    whs AS (
        SELECT source, {T.word_hash_array_sql('w', 'duckdb')} AS wh
        FROM words
    ),
    ss AS MATERIALIZED (
        SELECT DISTINCT source,
               unnest({T.shingle_hash_array_sql('wh', n, 'duckdb')}) AS s
        FROM whs
    ),
    srcs AS (SELECT DISTINCT source FROM ss),
    tot AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS t FROM ss)"""
    ]
    picked_union = None
    for t in range(1, k + 1):
        not_picked = (
            f"WHERE sr.source NOT IN (SELECT source FROM {picked_union})"
            if picked_union
            else ""
        )
        pool_pred = (
            f"WHERE source NOT IN (SELECT source FROM {picked_union}) "
            f"AND s NOT IN (SELECT s FROM cov{t - 1})"
            if picked_union
            else ""
        )
        blocks.append(
            f"""g{t} AS (
        SELECT sr.source, CAST(coalesce(c.g, 0) AS BIGINT) AS g
        FROM srcs sr LEFT JOIN (
            SELECT source, count(*) AS g FROM ss {pool_pred} GROUP BY 1
        ) c USING (source) {not_picked}
    ),
    p{t} AS (SELECT source, g FROM g{t} ORDER BY g DESC, source LIMIT 1),
    picked{t} AS ({' UNION ALL '.join(f'SELECT source FROM p{i}' for i in range(1, t + 1))}),
    cov{t} AS MATERIALIZED (
        SELECT DISTINCT s FROM ss
        WHERE source IN (SELECT source FROM picked{t})
    )"""
        )
        picked_union = f"picked{t}"
    finals = " UNION ALL ".join(
        f"""SELECT {t} AS pick_rank, source, g AS marginal_gain,
               (SELECT CAST(count(*) AS BIGINT) FROM cov{t}) AS cum_covered,
               CAST((SELECT count(*) FROM cov{t}) AS DOUBLE) / t.t
                   AS cum_share
        FROM p{t}, tot t"""
        for t in range(1, k + 1)
    )
    joined = ",\n    ".join(blocks)
    return f"""
    WITH {joined}
    SELECT * FROM ({finals})
    ORDER BY pick_rank
    """


def merkle_corpus_tree(
    documents: DataFrame,
    n_shards: int = 64,
    fanout: int = 8,
    salt: str = "manifest-v1",
) -> DataFrame:
    """Merkle-style integrity tree over a corpus snapshot: shards are
    leaves (same stable keyed-hash shard assignment as
    :func:`shard_manifest_diff`, so the two operators describe the same
    physical layout), each node's fingerprint is the BIT-XOR of its
    rows' 48-bit content hashes — XOR is order-independent (no sort
    needed), overflow-free (no HUGEINT promotion on either engine) and
    composes: a parent's xor IS the xor of its children, so every level
    is the same one aggregate. Row identity (doc_id) is hashed INTO the
    content hash, so two different docs with identical text cannot
    cancel.

    Output, one row per tree node: (level, node_id, node_hash, n_docs)
    — level 0 = the ``n_shards`` leaves, each higher level groups
    ``fanout`` children, up to the single root. With 64/8 that is
    64 + 8 + 1 = 73 rows regardless of corpus size.

    Scale: ONE corpus scan to (shard, rowhash) — 8-byte longs, never
    text — one map-side-combined xor aggregate to ``n_shards`` rows,
    then the upper levels fold a 73-row frame. At 100 TB the tree is
    the KB-sized integrity manifest you store next to a snapshot: two
    replicas compare roots in O(1), and a mismatch localizes to the
    divergent shard in log_fanout(n_shards) node probes instead of a
    full-corpus diff (the rsync/Cassandra anti-entropy discipline
    applied to training-corpus snapshots).

    Integrity caveat (r11 advice): the 48-bit XOR fold is a
    DETERMINISTIC PARITY FINGERPRINT for drift detection and testing,
    not a tamper-evident certificate. XOR cancels (any even
    multiset of identical row hashes vanishes; an adversary — or an
    unlucky pair of flips — can leave a node hash unchanged), and at
    ~2^24 rows per node the birthday bound on 48-bit row hashes makes
    an undetected accidental collision plausible at the 100 TB scale
    this manifest targets. If the integrity claim is load-bearing,
    widen the row hash to ≥128 bits and replace the fold with an
    order-sensitive cryptographic combine (e.g. per-shard
    sorted-stream SHA-256, or an incremental-collision-resistant
    MuHash-style multiset hash); the tree shape, shard assignment and
    O(delta) maintenance identity all carry over unchanged.
    """
    shard = (
        F.expr(T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))"))
        % n_shards
    ).cast("int")
    rowh = F.expr(
        T.hash48_sql(
            "concat('merkle-v1:', cast(doc_id as string), ':', "
            "coalesce(text, ''))"
        )
    )
    leaves = (
        documents.select(shard.alias("node_id"), rowh.alias("h"))
        .groupBy("node_id")
        .agg(
            F.expr("bit_xor(h)").cast("bigint").alias("node_hash"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .select(F.lit(0).alias("level"), "node_id", "node_hash", "n_docs")
    )
    levels = [leaves]
    width, lvl = n_shards, 0
    while width > 1:
        width = (width + fanout - 1) // fanout
        lvl += 1
        prev = levels[-1]
        levels.append(
            prev.groupBy(
                (F.col("node_id") / fanout).cast("int").alias("node_id")
            )
            .agg(
                F.expr("bit_xor(node_hash)").cast("bigint").alias(
                    "node_hash"
                ),
                F.sum("n_docs").cast("bigint").alias("n_docs"),
            )
            .select(
                F.lit(lvl).alias("level"), "node_id", "node_hash", "n_docs"
            )
        )
    out = levels[0]
    for fr in levels[1:]:
        out = out.unionByName(fr)
    return out


def merkle_integrity_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    n_shards: int = 64,
    fanout: int = 8,
    salt: str = "manifest-v1",
) -> DataFrame:
    """Compare the Merkle trees of two corpus snapshots node-by-node —
    the replica-divergence localizer: ``differs`` marks exactly the
    root-to-leaf paths that changed, so a reader can see at a glance
    how much of the corpus moved (root row) and precisely which shards
    carry it (level-0 rows). Complements :func:`shard_manifest_diff`:
    that one answers WHAT changed inside the touched shards (doc-grain
    adds/removes/changes), this one proves WHERE the snapshots agree —
    matching subtree hashes certify untouched shards without reading
    them.

    Output, one row per tree node (full outer over both trees):
    (level, node_id, hash_old, hash_new, n_docs_old, n_docs_new,
    differs). A shard empty on one side keeps its row with NULL
    hash/0 docs on that side.

    Scale: two independent tree builds (each one scan + one leaf
    aggregate) and a ≤ 73-row join — the diff itself never touches the
    corpus.
    """
    o = merkle_corpus_tree(old_docs, n_shards, fanout, salt).select(
        "level",
        "node_id",
        F.col("node_hash").alias("hash_old"),
        F.col("n_docs").alias("n_docs_old"),
    )
    n = merkle_corpus_tree(new_docs, n_shards, fanout, salt).select(
        "level",
        "node_id",
        F.col("node_hash").alias("hash_new"),
        F.col("n_docs").alias("n_docs_new"),
    )
    return (
        o.join(n, ["level", "node_id"], "full_outer")
        .select(
            "level",
            "node_id",
            "hash_old",
            "hash_new",
            F.coalesce("n_docs_old", F.lit(0)).cast("bigint").alias(
                "n_docs_old"
            ),
            F.coalesce("n_docs_new", F.lit(0)).cast("bigint").alias(
                "n_docs_new"
            ),
            (~F.col("hash_old").eqNullSafe(F.col("hash_new"))).alias(
                "differs"
            ),
        )
        .orderBy("level", "node_id")
    )


def merkle_diff_oracle_sql(
    old_cte: str,
    new_cte: str,
    n_shards: int = 64,
    fanout: int = 8,
    salt: str = "manifest-v1",
) -> str:
    """DuckDB twin over caller-supplied (doc_id, text) snapshot CTEs:
    same shard/content hash48 keys, same xor folds, same full-outer
    node diff (IS DISTINCT FROM = Spark's negated eqNullSafe)."""
    h_shard = T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
    h_row = T.hash48_sql(
        "concat('merkle-v1:', cast(doc_id as string), ':', "
        "coalesce(text, ''))"
    )

    def tree(src: str, tag: str) -> str:
        pieces = [
            f"""{tag}_l0 AS (
            SELECT 0 AS level, CAST(({h_shard}) % {n_shards} AS INT)
                       AS node_id,
                   CAST(bit_xor({h_row}) AS BIGINT) AS node_hash,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM {src} GROUP BY 2
        )"""
        ]
        width, lvl = n_shards, 0
        while width > 1:
            width = (width + fanout - 1) // fanout
            lvl += 1
            pieces.append(
                f"""{tag}_l{lvl} AS (
                SELECT {lvl} AS level,
                       CAST(node_id // {fanout} AS INT) AS node_id,
                       CAST(bit_xor(node_hash) AS BIGINT) AS node_hash,
                       CAST(sum(n_docs) AS BIGINT) AS n_docs
                FROM {tag}_l{lvl - 1} GROUP BY 2
            )"""
            )
        union = " UNION ALL ".join(
            f"SELECT * FROM {tag}_l{i}" for i in range(lvl + 1)
        )
        pieces.append(f"{tag}_tree AS ({union})")
        return ",\n    ".join(pieces)

    return f"""
    WITH old_snap AS ({old_cte}),
    new_snap AS ({new_cte}),
    {tree('old_snap', 'o')},
    {tree('new_snap', 'n')}
    SELECT coalesce(o.level, n.level) AS level,
           coalesce(o.node_id, n.node_id) AS node_id,
           o.node_hash AS hash_old,
           n.node_hash AS hash_new,
           CAST(coalesce(o.n_docs, 0) AS BIGINT) AS n_docs_old,
           CAST(coalesce(n.n_docs, 0) AS BIGINT) AS n_docs_new,
           (o.node_hash IS DISTINCT FROM n.node_hash) AS differs
    FROM o_tree o
    FULL OUTER JOIN n_tree n
      ON o.level = n.level AND o.node_id = n.node_id
    ORDER BY level, node_id
    """


def merkle_tree_update(
    old_docs: DataFrame,
    new_docs: DataFrame,
    n_shards: int = 64,
    fanout: int = 8,
    salt: str = "manifest-v1",
) -> DataFrame:
    """INCREMENTAL Merkle maintenance: produce the NEW snapshot's tree
    from the OLD tree plus the doc-grain delta only — never a full
    re-fold of the new corpus. Because node hashes are XOR folds, the
    patch is exact and closed-form (xor is self-inverse):
    new_hash(node) = old_hash(node) ⊕ xor(removed row hashes under it)
    ⊕ xor(added row hashes under it), with a changed doc counting as
    remove+add. Leaves emptied by the patch (n_docs reaches 0) are
    DROPPED, and upper nodes recount from their children's doc totals,
    so the result is row-identical to a full rebuild
    (:func:`merkle_corpus_tree` on the new snapshot) — asserted against
    the full-rebuild oracle and pre-proven as an identity in
    tests/test_merkle.py::test_xor_patch_identity_enables_incremental_maintenance.

    Output: (level, node_id, node_hash, n_docs) — same contract as
    :func:`merkle_corpus_tree`.

    Scale: the ONLY corpus-sized work is the doc-grain hash diff (one
    full-outer join of (doc_id, 8-byte rowhash) projections — in a
    txlog deployment even that disappears: operators/txlog.py
    ``snapshot_diff`` hands over the delta directly, making the whole
    update O(|delta| + tree), which is the point: a 100 TB corpus with
    1% churn re-fingerprints 1% of its rows, then patches a 73-row
    tree. The patch/propagate/apply stages all run at ≤ tree-size
    grain.
    """
    shard = (
        F.expr(T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))"))
        % n_shards
    ).cast("int")
    rowh = F.expr(
        T.hash48_sql(
            "concat('merkle-v1:', cast(doc_id as string), ':', "
            "coalesce(text, ''))"
        )
    )

    def prep(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            "doc_id", shard.alias(f"shard_{tag}"), rowh.alias(f"h_{tag}")
        )

    # doc-grain delta: rows whose (id, content-hash) pair differs
    # between snapshots; each side contributes its own hash to the
    # leaf patch (a changed doc contributes both = remove + add)
    j = prep(old_docs, "o").join(prep(new_docs, "n"), "doc_id", "full_outer")
    changed = j.filter(~F.col("h_o").eqNullSafe(F.col("h_n")))
    contrib = (
        changed.filter(F.col("h_o").isNotNull())
        .select(
            F.col("shard_o").alias("node_id"),
            F.col("h_o").alias("h"),
            F.lit(-1).alias("dn"),
        )
        .unionByName(
            changed.filter(F.col("h_n").isNotNull()).select(
                F.col("shard_n").alias("node_id"),
                F.col("h_n").alias("h"),
                F.lit(1).alias("dn"),
            )
        )
    )
    leaf_patch = contrib.groupBy("node_id").agg(
        F.expr("bit_xor(h)").cast("bigint").alias("px"),
        F.sum("dn").cast("bigint").alias("dn"),
    )
    # propagate the leaf patches up: each level folds the one below
    patches = [
        leaf_patch.select(F.lit(0).alias("level"), "node_id", "px", "dn")
    ]
    width, lvl = n_shards, 0
    while width > 1:
        width = (width + fanout - 1) // fanout
        lvl += 1
        prev = patches[-1]
        patches.append(
            prev.groupBy(
                (F.col("node_id") / fanout).cast("int").alias("node_id")
            )
            .agg(
                F.expr("bit_xor(px)").cast("bigint").alias("px"),
                F.sum("dn").cast("bigint").alias("dn"),
            )
            .select(F.lit(lvl).alias("level"), "node_id", "px", "dn")
        )
    patch = patches[0]
    for fr in patches[1:]:
        patch = patch.unionByName(fr)

    old_tree = merkle_corpus_tree(old_docs, n_shards, fanout, salt)
    return (
        old_tree.join(patch, ["level", "node_id"], "full_outer")
        .select(
            "level",
            "node_id",
            (
                F.coalesce("node_hash", F.lit(0)).bitwiseXOR(
                    F.coalesce("px", F.lit(0))
                )
            )
            .cast("bigint")
            .alias("node_hash"),
            (F.coalesce("n_docs", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint")
            .alias("n_docs"),
        )
        .filter(F.col("n_docs") > 0)  # emptied nodes leave the tree
        .orderBy("level", "node_id")
    )


def merkle_tree_oracle_sql(
    snapshot_cte: str,
    n_shards: int = 64,
    fanout: int = 8,
    salt: str = "manifest-v1",
) -> str:
    """DuckDB FULL-REBUILD tree over a (doc_id, text) snapshot CTE —
    the oracle for :func:`merkle_tree_update`: the incremental patch
    must reproduce the from-scratch fold row-for-row."""
    h_shard = T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
    h_row = T.hash48_sql(
        "concat('merkle-v1:', cast(doc_id as string), ':', "
        "coalesce(text, ''))"
    )
    pieces = [
        f"""l0 AS (
        SELECT 0 AS level, CAST(({h_shard}) % {n_shards} AS INT) AS node_id,
               CAST(bit_xor({h_row}) AS BIGINT) AS node_hash,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM snap GROUP BY 2
    )"""
    ]
    width, lvl = n_shards, 0
    while width > 1:
        width = (width + fanout - 1) // fanout
        lvl += 1
        pieces.append(
            f"""l{lvl} AS (
            SELECT {lvl} AS level, CAST(node_id // {fanout} AS INT)
                       AS node_id,
                   CAST(bit_xor(node_hash) AS BIGINT) AS node_hash,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs
            FROM l{lvl - 1} GROUP BY 2
        )"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM l{i}" for i in range(lvl + 1))
    ctes = ",\n    ".join(pieces)
    return f"""
    WITH snap AS ({snapshot_cte}),
    {ctes}
    SELECT level, node_id, node_hash, n_docs FROM ({union})
    ORDER BY level, node_id
    """
