"""Distributed unigram-LM tokenizer training + encoding (Kudo 2018 —
the SentencePiece "unigram" model) — the other standard subword
tokenizer next to BPE (operators/bpe.py), trained with EM over a
segmentation lattice instead of greedy pair merges.

The reference counts tokens with a fixed heuristic (SURVEY §2 token
counting); like the BPE module this LEARNS the vocabulary from the
corpus so token budgets reflect the corpus's own distribution — and the
two trainers cross-check each other's compression numbers
(tokenizer_fertility, tokenizer_compare).

Scale design (mirrors bpe.py, the pattern a production trainer uses):

* ONE distributed pass builds the (word, n) pretoken frequency table —
  the only job that touches the 100 TB corpus. Everything after runs at
  vocabulary grain (DISTINCT words, MBs after ``min_word_count`` trims
  the hapax tail; the same loud driver-collect guard as ``bpe_train``).
* Seed-candidate counting is ALSO distributed: every substring (len
  2..``max_piece_len``) of every distinct word, weighted by word count,
  through one explode → groupBy — corpus-scale substring statistics
  without a driver loop. The top ``seed_size`` by (count × len) come
  back via TakeOrdered (orderBy + limit), never a full sort.
* The EM + prune loop runs DRIVER-SIDE over the collected word table,
  exactly like SentencePiece itself (its trainer is one process over
  the suffix-array seed + sentence sample). The lattice for each word
  is built once per prune round as integer arc lists (start, end,
  piece_id) and the forward-backward recursions run over those arrays,
  so EM iterations cost arithmetic, not string slicing.
* Encoding stays distributed and re-uses the word factorization:
  Viterbi-encode each DISTINCT word once (Arrow-batched pandas UDF,
  model rides along as a broadcast-sized closure), then one equi-join
  back to the doc grain (AQE broadcasts the vocab side when small).

Pinned semantics (mirrored exactly by the pure-Python reference in
tests/test_unigram.py):

* Lattice: a word w segments into pieces drawn from the vocabulary;
  every single character of the corpus is ALWAYS in the vocabulary
  (full coverage — no word is unreachable).
* E-step: standard forward-backward expected piece counts; corpus
  log-likelihood is ``sum_w n_w * log Z_w``.
* M-step: piece logprob = log(E_i / sum_j E_j).
* Prune: multi-char pieces ranked by likelihood loss if removed,
  ``loss_i = E_i * (logp_i - viterbi_altcost_i)`` where the alt cost
  Viterbi-segments the piece's own string with the piece excluded
  (the SentencePiece approximation). Zero-expectation pieces drop
  immediately; survivors = top ``keep`` by (loss desc, piece asc),
  where ``keep = max(vocab_size - n_chars, floor(0.75 * n_multi))``
  (gradual shrink, never below the target). Single chars never prune.
* Viterbi ties (equal scores): the SMALLEST split point wins, i.e. the
  LONGEST final piece — deterministic across runs and engines.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import word_frequency_table

_NEG_INF = float("-inf")


@dataclass(frozen=True)
class UnigramModel:
    """The trained tokenizer: (piece, logprob) pairs, KBs — a driver-side
    artifact like a k-means codebook or the BPE merge list."""

    pieces: tuple[tuple[str, float], ...]
    max_piece_len: int

    def logprobs(self) -> dict[str, float]:
        return dict(self.pieces)


def substring_candidates(
    wf: DataFrame, seed_size: int, max_piece_len: int
) -> DataFrame:
    """(piece, cnt): the ``seed_size`` highest-scoring multi-char
    substrings across the corpus — distributed explode of every
    substring of every distinct word, weighted by word frequency.
    Score = occurrence count × piece length (SentencePiece's seed
    heuristic); ties break lexicographically for determinism."""
    w = F.col("word")
    starts = F.sequence(F.lit(1), F.length(w))
    lens = F.sequence(F.lit(2), F.lit(max_piece_len))
    subs = F.flatten(
        F.transform(
            starts,
            lambda i: F.filter(
                F.transform(
                    lens,
                    lambda l: F.when(
                        i + l - F.lit(1) <= F.length(w), w.substr(i, l)
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return (
        wf.select(F.explode(subs).alias("piece"), F.col("n"))
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .withColumn("score", F.col("cnt") * F.length("piece"))
        .orderBy(F.desc("score"), F.asc("piece"))
        .limit(seed_size)
        .select("piece", "cnt")
    )


def _collect_word_table(
    documents: DataFrame,
    min_word_count: int,
    max_vocab_rows: int,
    max_vocab_chars: int,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Guarded (word, n) collect — identical contract to ``bpe_train``:
    the relief valve for a web corpus is raising ``min_word_count``."""
    wf = word_frequency_table(documents)
    if min_word_count > 1:
        wf = wf.filter(F.col("n") >= min_word_count)
    sizing = wf.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("chars"),
    ).collect()[0]
    if sizing["rows"] > max_vocab_rows or sizing["chars"] > max_vocab_chars:
        raise ValueError(
            f"unigram vocabulary table has {sizing['rows']} rows / "
            f"{sizing['chars']} chars — exceeds the driver-collect guard "
            f"({max_vocab_rows} rows / {max_vocab_chars} chars). Raise "
            "min_word_count to trim the hapax tail (standard practice), "
            "or raise the guard if the driver has headroom."
        )
    word_counts = [(r["word"], int(r["n"])) for r in wf.collect()]
    # deterministic driver state independent of partition arrival order
    word_counts.sort()
    return wf, word_counts


def _lae(a: float, b: float) -> float:
    """log(exp(a) + exp(b)), -inf-safe."""
    if a < b:
        a, b = b, a
    if b == _NEG_INF:
        return a
    return a + math.log1p(math.exp(b - a))


def _build_arcs(
    words: list[str], piece_id: dict[str, int], max_piece_len: int
) -> list[list[tuple[int, int, int]]]:
    """Per-word lattice arcs (start, end, piece_id) for pieces currently
    in the vocabulary. Built once per prune round; EM iterations inside
    the round reuse the integer arcs (no string slicing in the hot loop).
    """
    arcs_all: list[list[tuple[int, int, int]]] = []
    for w in words:
        L = len(w)
        arcs: list[tuple[int, int, int]] = []
        for i in range(1, L + 1):
            lo = max(0, i - max_piece_len)
            for j in range(lo, i):
                pid = piece_id.get(w[j:i])
                if pid is not None:
                    arcs.append((j, i, pid))
        arcs_all.append(arcs)
    return arcs_all


def _forward_backward(
    L: int, arcs: list[tuple[int, int, int]], lp: list[float]
) -> tuple[list[float], list[float]]:
    alpha = [_NEG_INF] * (L + 1)
    alpha[0] = 0.0
    for j, i, pid in arcs:  # arcs are sorted by end position i
        if alpha[j] != _NEG_INF:
            alpha[i] = _lae(alpha[i], alpha[j] + lp[pid])
    beta = [_NEG_INF] * (L + 1)
    beta[L] = 0.0
    for j, i, pid in reversed(arcs):
        if beta[i] != _NEG_INF:
            beta[j] = _lae(beta[j], beta[i] + lp[pid])
    return alpha, beta


def _em_round(
    word_lens: list[int],
    counts: list[int],
    arcs_all: list[list[tuple[int, int, int]]],
    lp: list[float],
    n_pieces: int,
) -> tuple[list[float], float]:
    """One E+M step over the whole word table. Returns (new logprobs,
    corpus log-likelihood under the INPUT probs)."""
    expected = [0.0] * n_pieces
    ll = 0.0
    for L, n, arcs in zip(word_lens, counts, arcs_all):
        alpha, beta = _forward_backward(L, arcs, lp)
        z = alpha[L]
        if z == _NEG_INF:
            raise AssertionError(
                "unreachable word in unigram lattice — single-char "
                "coverage invariant violated"
            )
        ll += n * z
        for j, i, pid in arcs:
            a, b = alpha[j], beta[i]
            if a != _NEG_INF and b != _NEG_INF:
                expected[pid] += n * math.exp(a + lp[pid] + b - z)
    total = sum(expected)
    new_lp = [
        math.log(e / total) if e > 0.0 else _NEG_INF for e in expected
    ]
    return new_lp, ll


def _viterbi(
    word: str, lp: dict[str, float], max_piece_len: int
) -> tuple[list[str], float]:
    """Best segmentation. Ties: smallest split point (longest final
    piece). Raises if the word is unreachable (coverage invariant)."""
    L = len(word)
    best = [_NEG_INF] * (L + 1)
    back = [-1] * (L + 1)
    best[0] = 0.0
    for i in range(1, L + 1):
        lo = max(0, i - max_piece_len)
        for j in range(lo, i):
            if best[j] == _NEG_INF:
                continue
            p = lp.get(word[j:i])
            if p is None:
                continue
            s = best[j] + p
            if s > best[i] or (s == best[i] and j < back[i]):
                best[i] = s
                back[i] = j
    if best[L] == _NEG_INF:
        raise ValueError(f"word not segmentable by model: {word!r}")
    out: list[str] = []
    i = L
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out, best[L]


def unigram_train(
    documents: DataFrame,
    vocab_size: int = 512,
    seed_size: int | None = None,
    max_piece_len: int = 8,
    em_iters: int = 2,
    prune_keep: float = 0.75,
    min_word_count: int = 1,
    max_vocab_rows: int = 5_000_000,
    max_vocab_chars: int = 256 << 20,
) -> UnigramModel:
    """Learn a ``vocab_size`` unigram-LM vocabulary from the corpus.

    ``vocab_size`` counts EVERYTHING including the mandatory single
    characters; if the corpus alphabet alone exceeds it, the result is
    just the alphabet. ``seed_size`` defaults to 4 × vocab_size
    multi-char candidates (SentencePiece seeds larger and prunes, same
    idea)."""
    if seed_size is None:
        seed_size = 4 * vocab_size
    wf, word_counts = _collect_word_table(
        documents, min_word_count, max_vocab_rows, max_vocab_chars
    )
    seeds = [
        (r["piece"], int(r["cnt"]))
        for r in substring_candidates(wf, seed_size, max_piece_len).collect()
    ]

    words = [w for w, _ in word_counts]
    counts = [n for _, n in word_counts]
    word_lens = [len(w) for w in words]
    chars = sorted({c for w in words for c in w})
    char_set = set(chars)

    # initial freq-weighted scores: chars from corpus character counts,
    # multi-char pieces from the distributed substring counts
    char_freq: dict[str, float] = {c: 0.0 for c in chars}
    for w, n in word_counts:
        for c in w:
            char_freq[c] += n
    piece_freq: dict[str, float] = dict(char_freq)
    for p, c in seeds:
        if p not in piece_freq:
            piece_freq[p] = float(c)

    def normalized_lp(freq: dict[str, float]) -> dict[str, float]:
        total = sum(freq.values())
        return {p: math.log(f / total) for p, f in freq.items() if f > 0.0}

    lp_map = normalized_lp(piece_freq)
    # chars must stay segmentable even at zero initial frequency
    floor = math.log(0.5 / max(sum(piece_freq.values()), 1.0))
    for c in chars:
        lp_map.setdefault(c, floor)

    while True:
        pieces = sorted(lp_map)
        piece_id = {p: i for i, p in enumerate(pieces)}
        lp = [lp_map[p] for p in pieces]
        arcs_all = _build_arcs(words, piece_id, max_piece_len)
        for _ in range(em_iters):
            lp, _ = _em_round(word_lens, counts, arcs_all, lp, len(pieces))
            # re-floor chars EM zeroed out (coverage invariant)
            for c in chars:
                if lp[piece_id[c]] == _NEG_INF:
                    lp[piece_id[c]] = floor
        lp_map = {p: lp[piece_id[p]] for p in pieces}

        multi = [p for p in pieces if p not in char_set]
        if len(chars) + len(multi) <= vocab_size:
            break
        # normalized expected-count fractions under this round's probs
        # (one more E-step; _em_round returns log(E_i / sum E)). Loss
        # ranking only needs e_i up to a common scale, so the fraction
        # times any fixed constant ranks identically to the raw count.
        e_frac_lp, _ = _em_round(
            word_lens, counts, arcs_all, lp, len(pieces)
        )
        e_of = {
            p: math.exp(e_frac_lp[piece_id[p]])
            if e_frac_lp[piece_id[p]] != _NEG_INF
            else 0.0
            for p in pieces
        }
        total_n = float(sum(n * L for n, L in zip(counts, word_lens)))
        losses: list[tuple[float, str]] = []
        for p in multi:
            e = e_of[p] * total_n
            if e <= 0.0:
                continue  # never used — free to drop
            others = {q: v for q, v in lp_map.items() if q != p}
            try:
                _, alt = _viterbi(p, others, max_piece_len)
            except ValueError:
                alt = _NEG_INF
            if alt == _NEG_INF:
                loss = math.inf  # removal would break coverage
            else:
                loss = e * (lp_map[p] - alt)
            losses.append((loss, p))
        keep_n = max(vocab_size - len(chars), int(len(multi) * prune_keep))
        keep_n = min(keep_n, len(losses))
        losses.sort(key=lambda t: (-t[0], t[1]))
        survivors = {p for _, p in losses[:keep_n]}
        if len(survivors) == len(multi):
            break  # nothing prunable — stop rather than loop forever
        lp_map = {
            p: v
            for p, v in lp_map.items()
            if p in char_set or p in survivors
        }

    # final renormalization so stored logprobs sum to 1 over the model;
    # pieces EM drove to zero mass carry no information — drop them
    # (chars are floored above, so coverage survives)
    probs = {
        p: math.exp(v) for p, v in lp_map.items() if v != _NEG_INF
    }
    total = sum(probs.values())
    final = sorted((p, math.log(v / total)) for p, v in probs.items())
    return UnigramModel(pieces=tuple(final), max_piece_len=max_piece_len)


def unigram_token_counts(
    documents: DataFrame, model: UnigramModel
) -> DataFrame:
    """Per-document token counts under the trained unigram model, plus
    pretoken segments for compression auditing — same three-shuffle
    shape as ``bpe_token_counts``: Viterbi-encode each DISTINCT word
    once (Arrow batch UDF, model is a KB-scale closure), join back to
    the doc grain, sum."""
    from .textanalysis import GPT2_PRETOKEN_RE

    lp = model.logprobs()
    max_len = model.max_piece_len

    @F.pandas_udf("bigint")
    def n_tokens(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: len(_viterbi(w, lp, max_len)[0]))

    doc_words = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(GPT2_PRETOKEN_RE), 0)
        ).alias("word"),
    )
    vocab = (
        doc_words.select("word")
        .distinct()
        .withColumn("word_tokens", n_tokens(F.col("word")))
    )
    return (
        doc_words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("word_tokens").alias("unigram_tokens"),
            F.count(F.lit(1)).alias("pretoken_segments"),
        )
        .orderBy("doc_id")
    )


def tokenizer_compare(
    documents: DataFrame,
    num_merges: int = 256,
    vocab_size: int = 512,
    min_word_count: int = 2,
) -> DataFrame:
    """Head-to-head tokenizer report on the SAME corpus: characters,
    GPT-2 pretokens, trained BPE, trained unigram-LM — one row per
    tokenizer with total tokens and chars/token compression. The
    decision table a data team reads before committing a vocabulary
    (tokenizer_fertility answers per-language fairness; this answers
    which FAMILY compresses this corpus best at equal budget).

    Scale: both trainings share the single corpus pass (the guarded
    (word, n) table) and both encoders run once per DISTINCT word —
    the totals are weighted sums over the word table, so the report
    costs two vocab-grain aggregations regardless of corpus size."""
    from .bpe import bpe_train, encode_word, word_frequency_table

    wf = word_frequency_table(documents)
    if min_word_count > 1:
        wf = wf.filter(F.col("n") >= min_word_count)
    # cache: caller-owned (repo contract — bench/driver clear per query)
    wf = wf.persist()

    merges = bpe_train(
        documents, num_merges=num_merges, min_word_count=min_word_count
    )
    ranked = [(m.left, m.right) for m in sorted(merges, key=lambda m: m.rank)]
    uni = unigram_train(
        documents, vocab_size=vocab_size, min_word_count=min_word_count
    )
    lp = uni.logprobs()
    max_len = uni.max_piece_len

    @F.pandas_udf("bigint")
    def n_bpe(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: len(encode_word(w, ranked)))

    @F.pandas_udf("bigint")
    def n_uni(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: len(_viterbi(w, lp, max_len)[0]))

    enc = wf.select(
        "word",
        "n",
        F.length("word").alias("n_chars"),
        n_bpe(F.col("word")).alias("bpe"),
        n_uni(F.col("word")).alias("uni"),
    )
    tot = enc.agg(
        F.sum(F.col("n") * F.col("n_chars")).alias("chars"),
        F.sum(F.col("n")).alias("pretokens"),
        F.sum(F.col("n") * F.col("bpe")).alias("bpe_tokens"),
        F.sum(F.col("n") * F.col("uni")).alias("uni_tokens"),
    ).collect()[0]
    wf.unpersist()

    spark = documents.sparkSession
    chars = int(tot["chars"])
    rows = [
        ("chars", chars, None),
        ("gpt2_pretokens", int(tot["pretokens"]), len(ranked)),
        (f"bpe_{num_merges}m", int(tot["bpe_tokens"]), len(ranked)),
        (f"unigram_{vocab_size}v", int(tot["uni_tokens"]), len(lp)),
    ]
    out = spark.createDataFrame(
        [
            (name, n, round(chars / n, 6) if n else None, vocab)
            for name, n, vocab in rows
        ],
        "tokenizer string, total_tokens bigint, chars_per_token double, "
        "vocab_entries int",
    )
    return out.orderBy("tokenizer")
