"""Text expression helpers — dual-dialect where the DuckDB oracle must
reproduce the exact arithmetic.

Everything here is engine-side (no Python UDFs): tokenization, shingling,
and all hashing are Catalyst expressions over built-ins, so the hot path
stays inside whole-stage codegen at any scale.

The integer hash is ``md5 hex prefix → base-16 positional sum`` — chosen
because ``md5``, ``substr`` and ``instr`` behave identically in Spark SQL
and DuckDB, giving a 48-bit deterministic hash both engines can compute
bit-for-bit (Spark's ``hash()``/``xxhash64`` are Spark-specific and NOT
oracle-reproducible).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# 48-bit deterministic string hash (identical SQL text in both dialects)
# ---------------------------------------------------------------------------

_HEX_WEIGHTS = [(j, 16 ** (12 - j)) for j in range(1, 13)]


def hash48_sql(col_sql: str, dialect: str = "shared") -> str:
    """SQL text computing a 48-bit integer from md5(col).

    ``dialect="shared"`` (default) emits the instr/substr hex fold that is
    valid in BOTH Spark SQL and DuckDB — use it anywhere the same text
    feeds an oracle string. ``dialect="spark"`` emits
    ``conv(substring(md5(x),1,12),16,10)`` — the same 48-bit value (the
    first 12 hex digits ARE Σ digit_j·16^(12−j); parity asserted over the
    full corpus word stream, 0 mismatches) in one codegen'd call instead
    of 12 substr+instr string ops per value (measured 2.7× on the word
    stream, r13 guide §1.2 per-task work). DuckDB has no conv(), so the
    fold stays the shared/oracle form."""
    if dialect == "spark":
        return f"CAST(conv(substring(md5({col_sql}), 1, 12), 16, 10) AS BIGINT)"
    # weights as explicit BIGINT: Spark 4 runs ANSI mode, where an int*int
    # product of these magnitudes overflows (DuckDB promotes automatically)
    terms = "+".join(
        f"(instr('0123456789abcdef', substr(md5({col_sql}),{j},1))-1)"
        f"*CAST({w} AS BIGINT)"
        for j, w in _HEX_WEIGHTS
    )
    return f"({terms})"


def hash48(col: Column | str) -> Column:
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("hash48 needs a column NAME usable inside F.expr")
    return F.expr(hash48_sql(name, dialect="spark"))


# ---------------------------------------------------------------------------
# Tokenization / shingling
# ---------------------------------------------------------------------------

def words(col: Column) -> Column:
    """Whitespace tokens, empties dropped (matches oracle list_filter)."""
    return F.filter(F.split(col, " "), lambda x: x != F.lit(""))


def words_sql(col_sql: str, dialect: str) -> str:
    if dialect == "spark":
        return f"filter(split({col_sql}, ' '), x -> x <> '')"
    return f"list_filter(string_split({col_sql}, ' '), x -> x <> '')"


# ---------------------------------------------------------------------------
# Hashed shingles (rolling combination of per-word hashes)
#
# Building shingle STRINGS (concat_ws of word slices) makes every dedup scan
# allocate ~|doc| bytes per shingle and ships strings through every exchange.
# Instead: hash each WORD once (md5 → 48-bit int), then a shingle's identity
# is the rolling combination  h = (((h1·B + h2) mod M)·B + h3) mod M  — pure
# integer arithmetic, identical in Spark and DuckDB. Equivalent to string
# shingles up to 2^-48 word-hash collisions. Every downstream exchange
# (doc-frequency window, inverted-index join, minhash agg, collect_set)
# carries 8-byte longs instead of shingle strings, and MinHash needs NO
# second md5 pass — the shingle hash IS the minhash input.
#
# The two-level transform (md5 array first, THEN hex-sum array) is
# deliberate: it structurally guarantees ONE md5 per word even where
# codegen's common-subexpression elimination doesn't reach inside lambda
# bodies (the hex-sum expands the md5 operand 12×).
# ---------------------------------------------------------------------------

HS_BASE = 8191          # prime multiplier; 2^48·8191 + 2^48 < 2^63 (no overflow)
HS_MOD = 1 << 48


def word_hash_array_sql(words_sql: str, dialect: str) -> str:
    """SQL for `array<long>` of per-word 48-bit hashes (one md5 per word).

    Spark emits conv() over the first 12 md5 hex digits — one codegen'd
    call per word, same value as the hex fold (see hash48_sql; parity
    asserted corpus-wide, 0 mismatches), and md5 appears ONCE inside the
    lambda so the two-level anti-CSE transform is no longer needed on
    this side. DuckDB keeps the two-level fold (no conv())."""
    if dialect == "spark":
        return (
            f"transform({words_sql}, x -> "
            "CAST(conv(substring(md5(x), 1, 12), 16, 10) AS BIGINT))"
        )
    hexsum = "+".join(
        f"(instr('0123456789abcdef', substr(y,{j},1))-1)*CAST({w} AS BIGINT)"
        for j, w in _HEX_WEIGHTS
    )
    return (
        f"list_transform(list_transform({words_sql}, x -> md5(x)), "
        f"y -> {hexsum})"
    )


def let_sql(bind_sql: str, var: str, body_sql: str, dialect: str = "spark") -> str:
    """Let-binding as SQL: evaluate ``bind_sql`` ONCE per row, bind it to
    lambda variable ``var``, and evaluate ``body_sql`` against it —
    implemented as a 1-element higher-order transform.

    Why this exists: a ``withColumn`` staging projection is NOT a safe
    binding for expensive arrays. CollapseProject has a cheapness guard,
    but PushDownPredicate inlines projection aliases into filter
    predicates UNCONDITIONALLY — a multi-reference alias like a per-word
    md5 array feeding a shingle transform then re-evaluates per
    reference per lambda element, turning a linear scan into O(len²)
    per document (measured: the curate_corpus funnel filter went 156s →
    sub-second at sf0.1 when rebound with this helper; same mechanism as
    the r4 DSIR 100s→2s lesson). A lambda binding survives every
    optimizer rewrite because the variable is scoped, not named in the
    plan."""
    if dialect == "spark":
        return f"element_at(transform(array({bind_sql}), {var} -> {body_sql}), 1)"
    return f"list_transform([{bind_sql}], {var} -> {body_sql})[1]"


def shingle_hash_array_sql(wh_sql: str, n: int = 3, dialect: str = "spark") -> str:
    """SQL for `array<long>` of n-gram shingle hashes over a word-hash array
    column. Out-of-range words (docs shorter than n) hash as 0, so a short
    doc still yields exactly one shingle — same shape as the string form."""

    def elem(j: int) -> str:
        e = (
            f"try_element_at({wh_sql}, i+{j})"
            if dialect == "spark"
            else f"{wh_sql}[CAST(i+{j} AS INT)]"
        )
        return f"coalesce({e}, CAST(0 AS BIGINT))"

    acc = elem(0)
    for j in range(1, n):
        acc = f"(({acc})*{HS_BASE} + {elem(j)}) % {HS_MOD}"
    if dialect == "spark":
        return (
            f"transform(sequence(1, greatest(size({wh_sql})-{n - 1}, 1)), "
            f"i -> {acc})"
        )
    return (
        f"list_transform(range(1, greatest(len({wh_sql})-{n - 1}, 1)+1), "
        f"i -> {acc})"
    )


# ---------------------------------------------------------------------------
# MinHash (SURVEY north-star dedup; reference has no dedup of its own —
# closest analogue is the ON CONFLICT key dedup, src/db/log_ops.py:53)
# ---------------------------------------------------------------------------

MINHASH_PRIME = (1 << 61) - 1
# fixed permutation constants (a odd < 2^12 so a*h + b stays < 2^63)
MINHASH_PERMS: list[tuple[int, int]] = [
    (3079, 102334155), (1543, 701408733), (389, 267914296), (2053, 165580141),
    (769, 433494437), (1237, 899809343), (3517, 614891469), (243, 470832131),
    (2749, 137438953), (661, 786432001), (1901, 313989281), (4001, 517619245),
    (977, 220000001), (3319, 648391353), (151, 918273645), (2389, 365089841),
]
MINHASH_BANDS = 4  # 4 bands x 4 rows


def minhash_value_sql(h_sql: str, perm: tuple[int, int]) -> str:
    a, b = perm
    return f"(({a}*{h_sql} + {b}) % {MINHASH_PRIME})"


# ---------------------------------------------------------------------------
# SimHash (32-bit) — near-dup by Hamming distance with banded blocking
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8 bits per band; hamming<=3 guaranteed caught (pigeonhole)


def simhash_from_wordhash_sums(bit_sums: list[Column], n_words: Column) -> Column:
    """Given per-bit counts of set bits across words, build the simhash:
    bit i set iff more than half the words have bit i set."""
    out = F.lit(0).cast("long")
    for i, s in enumerate(bit_sums):
        out = out + F.when(s * 2 > n_words, F.lit(1 << i)).otherwise(F.lit(0))
    return out


# ---------------------------------------------------------------------------
# Rolling polynomial fingerprint (order-sensitive document hash)
# ---------------------------------------------------------------------------

FP_PRIME = 144115188075855859  # ~2^57: acc*31 + h48 stays < 2^63
FP_MULT = 31


def fingerprint_sql(words_expr: str, dialect: str) -> str:
    """Left-fold rolling hash over word hashes — order-sensitive, exact in
    both dialects (sequential fold, pure int64 arithmetic).

    Folds over ``word_hash_array_sql`` (md5 array first, hex-sum second):
    inlining hash48 into the fold lambda would evaluate md5 12× per word,
    since codegen's common-subexpression elimination doesn't reach inside
    lambda bodies. Same values either way — only the md5 count changes.
    """
    wh = word_hash_array_sql(words_expr, dialect)
    if dialect == "spark":
        return (
            f"aggregate({wh}, cast(0 as bigint), "
            f"(acc, x) -> (acc * {FP_MULT} + x) % {FP_PRIME})"
        )
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), {wh}), "
        f"(acc, x) -> (acc * {FP_MULT} + x) % {FP_PRIME})"
    )


# ---------------------------------------------------------------------------
# Language-ID stopword sets (tiny, deterministic heuristic)
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "dans", "que"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "en", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}
LANG_PRIORITY = ("en", "de", "fr", "es", "zh")

# ---------------------------------------------------------------------------
# Paragraph segmentation (dual-dialect) — used by paragraph-grain dedup
# ---------------------------------------------------------------------------

def paragraphs_sql(
    col_sql: str,
    dialect: str,
    mode: str = "newline",
    block_words: int = 10,
) -> str:
    """SQL for ``array<string>`` of paragraphs of a text column, identical in
    Spark SQL and DuckDB.

    ``newline`` mode: split on newline characters, trim, drop empties — the
    real-corpus form (MassiveText-style paragraph grain). ``block`` mode:
    non-overlapping ``block_words``-word chunks — the form that is
    non-degenerate on single-line corpora (like the synthetic test tables,
    which contain no newlines). A doc shorter than one block still yields
    exactly one paragraph; an empty doc yields one empty paragraph.
    """
    if mode == "newline":
        if dialect == "spark":
            return (
                f"filter(transform(split({col_sql}, chr(10)), x -> trim(x)), "
                "x -> x <> '')"
            )
        return (
            f"list_filter(list_transform(string_split({col_sql}, chr(10)), "
            "x -> trim(x)), x -> x <> '')"
        )
    if mode != "block":
        raise ValueError(f"unknown paragraph mode: {mode!r}")
    w = block_words
    ws = words_sql(col_sql, dialect)
    if dialect == "spark":
        nb = f"greatest(cast(ceil(size({ws}) / {w}.0) as int), 1)"
        return (
            f"transform(sequence(0, {nb} - 1), "
            f"b -> array_join(slice({ws}, b*{w} + 1, {w}), ' '))"
        )
    nb = f"greatest(cast(ceil(len({ws}) / {w}.0) as int), 1)"
    return (
        f"list_transform(range(0, {nb}), "
        f"b -> array_to_string(list_slice({ws}, b*{w} + 1, b*{w} + {w}), ' '))"
    )
