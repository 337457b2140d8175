"""Unigram-LM tokenizer (operators/unigram.py) vs a naive
enumeration reference.

The naive reference enumerates EVERY segmentation of a word (feasible
for short words), so forward-backward expected counts, the marginal
likelihood, and the Viterbi argmax (with the pinned tie-break: smallest
split point = longest final piece) are each checked against exhaustive
ground truth — the same strategy tests/test_bpe.py uses for the merge
fold.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logstream_processing_service_spark.operators.unigram import (
    _NEG_INF,
    UnigramModel,
    _build_arcs,
    _em_round,
    _viterbi,
    substring_candidates,
    unigram_token_counts,
    unigram_train,
)


# ---------------------------------------------------------------------------
# naive reference: enumerate all segmentations
# ---------------------------------------------------------------------------

def _all_segmentations(word: str, vocab: set[str], max_len: int):
    if not word:
        yield []
        return
    for l in range(1, min(max_len, len(word)) + 1):
        head = word[:l]
        if head in vocab:
            for rest in _all_segmentations(word[l:], vocab, max_len):
                yield [head] + rest


def _naive_expected(word_counts, lp: dict[str, float], max_len: int):
    """Expected piece counts + corpus LL by full enumeration."""
    vocab = set(lp)
    expected: dict[str, float] = defaultdict(float)
    ll = 0.0
    for word, n in word_counts:
        segs = list(_all_segmentations(word, vocab, max_len))
        probs = [math.exp(sum(lp[p] for p in s)) for s in segs]
        z = sum(probs)
        assert z > 0.0, word
        ll += n * math.log(z)
        for s, pr in zip(segs, probs):
            for p in s:
                expected[p] += n * pr / z
    return expected, ll


def _naive_viterbi(word: str, lp: dict[str, float], max_len: int):
    """Brute-force argmax with the pinned tie-break: among max-score
    segmentations, prefer (recursively) the longest FINAL piece — which
    is what 'smallest split point wins at every position' produces."""
    best = None
    best_key = None
    for s in _all_segmentations(word, set(lp), max_len):
        score = sum(lp[p] for p in s)
        # suffix piece lengths, compared longest-final-first
        key = (score, tuple(len(p) for p in reversed(s)))
        if best_key is None or key > best_key:
            best_key = key
            best = s
    return best, best_key[0]


def _run_em(word_counts, lp_map, max_len):
    words = [w for w, _ in word_counts]
    counts = [n for _, n in word_counts]
    pieces = sorted(lp_map)
    pid = {p: i for i, p in enumerate(pieces)}
    arcs = _build_arcs(words, pid, max_len)
    lp = [lp_map[p] for p in pieces]
    new_lp, ll = _em_round(
        [len(w) for w in words], counts, arcs, lp, len(pieces)
    )
    return {p: new_lp[pid[p]] for p in pieces}, ll


CORPUS = [("abab", 3), ("aba", 2), ("bb", 1), ("a", 4)]
VOCAB0 = {
    "a": math.log(0.3),
    "b": math.log(0.3),
    "ab": math.log(0.25),
    "ba": math.log(0.1),
    "bb": math.log(0.05),
}


def test_em_round_matches_enumeration():
    got, ll = _run_em(CORPUS, VOCAB0, max_len=2)
    exp, ll_ref = _naive_expected(CORPUS, VOCAB0, max_len=2)
    assert ll == pytest.approx(ll_ref, rel=1e-12)
    total = sum(exp.values())
    for p in VOCAB0:
        want = exp[p] / total
        have = 0.0 if got[p] == _NEG_INF else math.exp(got[p])
        assert have == pytest.approx(want, rel=1e-10, abs=1e-12), p


def test_em_increases_likelihood():
    lp = dict(VOCAB0)
    lls = []
    for _ in range(6):
        lp, ll = _run_em(CORPUS, lp, max_len=2)
        # floor zeroed chars as the trainer does, so the lattice stays live
        for c in "ab":
            if lp[c] == _NEG_INF:
                lp[c] = math.log(1e-9)
        lls.append(ll)
    for prev, nxt in zip(lls, lls[1:]):
        assert nxt >= prev - 1e-9, lls


def test_viterbi_matches_bruteforce():
    for word in ["abab", "aba", "bb", "a", "abba", "bababa"]:
        seg, score = _viterbi(word, VOCAB0, 2)
        ref_seg, ref_score = _naive_viterbi(word, VOCAB0, 2)
        assert score == pytest.approx(ref_score, rel=1e-12)
        assert seg == ref_seg, (word, seg, ref_seg)
        assert "".join(seg) == word


def test_viterbi_tiebreak_prefers_longest_final_piece():
    # 'aa' vs 'a'+'a' with p(aa) == p(a)^2: equal score, pin says 'aa'
    lp = {"a": math.log(0.5), "aa": math.log(0.25)}
    seg, _ = _viterbi("aa", lp, 2)
    assert seg == ["aa"]
    ref_seg, _ = _naive_viterbi("aa", lp, 2)
    assert ref_seg == ["aa"]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=6,
    ),
    st.lists(
        st.text(alphabet="abc", min_size=2, max_size=3),
        max_size=4,
    ),
)
def test_fuzz_em_and_viterbi_vs_enumeration(word_counts, extra_pieces):
    chars = sorted({c for w, _ in word_counts for c in w})
    vocab = {c: 1.0 for c in chars}
    for p in extra_pieces:
        vocab.setdefault(p, 0.5)
    total = sum(vocab.values())
    lp_map = {p: math.log(v / total) for p, v in vocab.items()}

    got, ll = _run_em(word_counts, lp_map, max_len=3)
    exp, ll_ref = _naive_expected(word_counts, lp_map, max_len=3)
    assert ll == pytest.approx(ll_ref, rel=1e-9)
    tot = sum(exp.values())
    for p in lp_map:
        want = exp.get(p, 0.0) / tot
        have = 0.0 if got[p] == _NEG_INF else math.exp(got[p])
        assert have == pytest.approx(want, rel=1e-8, abs=1e-10), p

    for w, _ in word_counts:
        seg, score = _viterbi(w, lp_map, 3)
        ref_seg, ref_score = _naive_viterbi(w, lp_map, 3)
        assert score == pytest.approx(ref_score, rel=1e-9)
        assert seg == ref_seg
        assert "".join(seg) == w


# ---------------------------------------------------------------------------
# end-to-end training on Spark frames
# ---------------------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a cat and a mat and a hat",
    "the hat on the cat",
    "mats and hats and cats",
]


def test_substring_candidates_matches_naive(spark):
    from logstream_processing_service_spark.operators.bpe import (
        word_frequency_table,
    )

    docs = _docs(spark, TEXTS)
    wf = word_frequency_table(docs)
    got = {
        r["piece"]: r["cnt"]
        for r in substring_candidates(wf, 10_000, 4).collect()
    }
    naive: dict[str, int] = defaultdict(int)
    for r in wf.collect():
        w, n = r["word"], r["n"]
        for i in range(len(w)):
            for l in range(2, 5):
                if i + l <= len(w):
                    naive[w[i : i + l]] += n
    assert got == dict(naive)


def test_train_reaches_target_and_is_deterministic(spark):
    docs = _docs(spark, TEXTS)
    m1 = unigram_train(docs, vocab_size=40, max_piece_len=4, em_iters=2)
    m2 = unigram_train(docs, vocab_size=40, max_piece_len=4, em_iters=2)
    assert m1 == m2
    assert len(m1.pieces) <= 40
    lp = m1.logprobs()
    # probabilities form a distribution
    assert sum(math.exp(v) for v in lp.values()) == pytest.approx(1.0)
    from logstream_processing_service_spark.operators.bpe import (
        word_frequency_table,
    )

    rows = word_frequency_table(docs).collect()
    # alphabet coverage: every char of every pretoken word is a piece
    chars = {c for r in rows for c in r["word"]}
    assert chars <= set(lp), chars - set(lp)
    # every corpus word encodes and round-trips
    for r in rows:
        seg, _ = _viterbi(r["word"], lp, m1.max_piece_len)
        assert "".join(seg) == r["word"]


def test_train_learns_frequent_multichar_pieces(spark):
    docs = _docs(spark, TEXTS * 4)
    m = unigram_train(docs, vocab_size=60, max_piece_len=4, em_iters=3)
    lp = m.logprobs()
    multi = [p for p in lp if len(p) > 1]
    assert multi, "no multi-char pieces survived"
    # 'at' (cat/mat/hat/sat) is the dominant bigram of this corpus —
    # some piece containing it must survive pruning
    assert any("at" in p for p in multi), sorted(multi)


def test_guard_fires_on_tiny_limits(spark):
    docs = _docs(spark, TEXTS)
    with pytest.raises(ValueError, match="guard"):
        unigram_train(docs, vocab_size=40, max_vocab_rows=3)


def test_token_counts_distributed_matches_driver(spark):
    docs = _docs(spark, TEXTS)
    m = unigram_train(docs, vocab_size=50, max_piece_len=4, em_iters=2)
    got = {
        r["doc_id"]: (r["unigram_tokens"], r["pretoken_segments"])
        for r in unigram_token_counts(docs, m).collect()
    }
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.textanalysis import (
        GPT2_PRETOKEN_RE,
    )

    seg_rows = docs.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(GPT2_PRETOKEN_RE), 0).alias("s"),
    ).collect()
    lp = m.logprobs()
    for r in seg_rows:
        segs = r["s"]
        want = sum(len(_viterbi(w, lp, m.max_piece_len)[0]) for w in segs)
        assert got[r["doc_id"]] == (want, len(segs)), r["doc_id"]


def test_fertility_beats_char_grain(spark):
    """A trained vocabulary must compress vs character tokenization."""
    docs = _docs(spark, TEXTS * 4)
    m = unigram_train(docs, vocab_size=80, max_piece_len=5, em_iters=3)
    lp = m.logprobs()
    from logstream_processing_service_spark.operators.bpe import (
        word_frequency_table,
    )

    rows = word_frequency_table(docs).collect()
    n_tokens = sum(
        r["n"] * len(_viterbi(r["word"], lp, 5)[0]) for r in rows
    )
    n_chars = sum(r["n"] * len(r["word"]) for r in rows)
    assert n_tokens < n_chars


def test_tokenizer_compare_report(spark):
    """The head-to-head report: chars is the upper bound on any
    tokenizer's total; trained BPE and unigram must both compress
    below the pretoken... no — below CHARS and above pretokens
    (a pretoken is >= 1 token), and chars/token must exceed 1.0 for
    both trained families."""
    from logstream_processing_service_spark.operators.unigram import (
        tokenizer_compare,
    )

    docs = _docs(spark, TEXTS * 4)
    rows = {
        r["tokenizer"]: r
        for r in tokenizer_compare(
            docs, num_merges=64, vocab_size=60, min_word_count=1
        ).collect()
    }
    chars = rows["chars"]["total_tokens"]
    pre = rows["gpt2_pretokens"]["total_tokens"]
    bpe = rows["bpe_64m"]["total_tokens"]
    uni = rows["unigram_60v"]["total_tokens"]
    assert pre <= bpe <= chars
    assert pre <= uni <= chars
    assert rows["bpe_64m"]["chars_per_token"] > 1.0
    assert rows["unigram_60v"]["chars_per_token"] > 1.0
    assert rows["chars"]["chars_per_token"] == 1.0
