"""Unigram-LM tokenizer (operators/unigram.py): trainer pinned against
an independent transcription of the documented Viterbi-EM pipeline,
segmentation optimality/losslessness, planted-corpus compression, and
partitioning determinism."""

from __future__ import annotations

import itertools

import pytest

from etl_python_sqlite_spark.operators.bpe import word_histogram
from etl_python_sqlite_spark.operators.unigram import (
    unigram_from_histogram,
    unigram_token_counts,
    viterbi_segment,
)


def _replay(hist, vocab_size, seed_size=2048, max_len=8, rounds=2):
    """Independent transcription of the documented trainer: substring
    seeding capped by (count desc, piece asc); Viterbi hard-EM with
    exact cross-multiplied likelihoods (ties: fewer pieces, then
    lexicographic); one prune keeping all single chars; final EM."""
    chars = {ch for w, _ in hist for ch in w}
    seed = {}
    for w, c in hist:
        for i in range(len(w)):
            for j in range(i + 1, min(len(w), i + max_len) + 1):
                seed[w[i : j]] = seed.get(w[i : j], 0) + c
    counts = dict(
        sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    )
    for ch in chars:
        counts.setdefault(ch, seed.get(ch, 1))

    def seg(word, cur, T):
        best = None
        # brute force over ALL segmentations (exponential — test words
        # are short), scored by the same exact rational rule
        n = len(word)
        for cuts in itertools.product([0, 1], repeat=max(0, n - 1)):
            pieces, start = [], 0
            for i, cut in enumerate(cuts, 1):
                if cut:
                    pieces.append(word[start:i])
                    start = i
            pieces.append(word[start:])
            if any(
                len(p) > max_len or cur.get(p, 0) <= 0 for p in pieces
            ):
                continue
            prod = 1
            for p in pieces:
                prod *= cur[p]
            cand = (prod, len(pieces), tuple(pieces))
            if best is None:
                best = cand
            else:
                l, r = cand[0] * T ** best[1], best[0] * T ** cand[1]
                if l > r or (
                    l == r
                    and (
                        cand[1] < best[1]
                        or (cand[1] == best[1] and cand[2] < best[2])
                    )
                ):
                    best = cand
        return best[2] if best else tuple(word)

    def em(cur):
        T = sum(cur.values())
        new = {}
        for w, c in hist:
            for p in seg(w, cur, T):
                new[p] = new.get(p, 0) + c
        for ch in chars:
            new.setdefault(ch, 1)
        return new

    for _ in range(rounds):
        counts = em(counts)
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    counts = dict(multi[: max(0, vocab_size - len(singles))]) | singles
    counts = em(counts)
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


HIST = [
    ("internationalization", 40),
    ("international", 60),
    ("nation", 100),
    ("nationalize", 30),
    ("inter", 50),
    ("the", 500),
    ("these", 120),
    ("them", 90),
]


def test_trainer_matches_independent_transcription():
    got = unigram_from_histogram(HIST, vocab_size=24)
    assert got == _replay(HIST, vocab_size=24)


def test_viterbi_is_optimal_and_lossless():
    vocab = unigram_from_histogram(HIST, vocab_size=24)
    counts = dict(vocab)
    T = sum(counts.values())
    for w, _ in HIST:
        seg = viterbi_segment(w, counts, T)
        assert seg is not None and "".join(seg) == w
        # optimality vs the brute-force scorer in the transcription
        assert seg == _replay_best(w, counts, T)


def _replay_best(word, counts, T):
    best = None
    for cuts in itertools.product([0, 1], repeat=max(0, len(word) - 1)):
        pieces, start = [], 0
        for i, cut in enumerate(cuts, 1):
            if cut:
                pieces.append(word[start:i])
                start = i
        pieces.append(word[start:])
        if any(len(p) > 8 or counts.get(p, 0) <= 0 for p in pieces):
            continue
        prod = 1
        for p in pieces:
            prod *= counts[p]
        cand = (prod, len(pieces), tuple(pieces))
        if best is None:
            best = cand
        else:
            l, r = cand[0] * T ** best[1], best[0] * T ** cand[1]
            if l > r or (
                l == r
                and (
                    cand[1] < best[1]
                    or (cand[1] == best[1] and cand[2] < best[2])
                )
            ):
                best = cand
    return best[2]


def test_planted_corpus_learns_composite_pieces():
    """A corpus dominated by one repeated bigram must keep a multi-char
    piece covering it, and compress well below one piece per char."""
    hist = [("ababab", 200), ("abab", 150), ("ab", 100), ("ba", 5)]
    vocab = unigram_from_histogram(hist, vocab_size=8)
    counts = dict(vocab)
    T = sum(counts.values())
    assert any(len(p) > 1 for p, _ in vocab)
    seg = viterbi_segment("ababab", counts, T)
    assert "".join(seg) == "ababab"
    assert len(seg) < 6  # strictly better than character fallback


def test_spark_trainer_and_encoder(spark):
    df = spark.createDataFrame(
        [(i, "the nation of these them nation the the") for i in range(6)]
        + [(100, ""), (101, None), (102, "\tnation  these\n")],
        "doc_id long, text string",
    )
    vocab = unigram_from_histogram(word_histogram(df), vocab_size=32)
    assert vocab == unigram_from_histogram(word_histogram(df.repartition(7)), vocab_size=32)
    out = {
        r["doc_id"]: (r["n_pieces"], r["n_words"])
        for r in unigram_token_counts(df, vocab).collect()
    }
    assert out[100] == (0, 0)
    assert out[101] == (0, 0)
    assert out[102][1] == 2
    # every word is >= 1 piece and <= its char count
    n_pieces, n_words = out[0]
    assert n_words == 8
    assert n_words <= n_pieces <= len("the nation of these them nation the the".replace(" ", ""))
    # the trained vocabulary compresses the dominant words below chars
    assert n_pieces < 33  # 33 = total chars of the 8 words


def test_oov_encoder_fallback():
    """Characters absent from the vocabulary count one piece each —
    the encoder never crashes on unseen text."""
    counts = {"a": 5, "b": 3}
    assert viterbi_segment("axb", counts, 8) is None  # trainer-side: None
    # encoder-side fallback is per-word char count, exercised via the
    # Spark path in test_spark_trainer_and_encoder's vocab (covers all
    # corpus chars); here we pin the None contract only.


@pytest.mark.parametrize("word", ["", "a"])
def test_degenerate_words(word):
    counts = {"a": 1}
    seg = viterbi_segment(word, counts, 1)
    assert seg == ((() if word == "" else ("a",)))


def _trainer_fuzz(**overrides):
    """On random small histograms (short words so the transcription's
    exponential brute-force segmentation stays cheap) the trainer and the
    independent transcription agree exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=7)

    @settings(max_examples=25, deadline=None, **overrides)
    @given(
        st.dictionaries(word, st.integers(1, 50), min_size=1, max_size=6),
        st.integers(4, 12),
    )
    def _case(hist_map, vocab_size):
        hist = sorted(hist_map.items(), key=lambda kv: (-kv[1], kv[0]))
        got = unigram_from_histogram(hist, vocab_size=vocab_size)
        assert got == _replay(hist, vocab_size=vocab_size)

    _case()


def test_trainer_fuzz_vs_transcription():
    """Property pin, derandomized: the same draws on every run."""
    _trainer_fuzz(derandomize=True, database=None)


@pytest.mark.slow
def test_trainer_fuzz_vs_transcription_randomized():
    """The same property on fresh random draws every run."""
    _trainer_fuzz()
