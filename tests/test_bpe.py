"""BPE trainer tests: merge rules vs an independent reference trainer,
encode/decode roundtrip, compression on repetitive corpora, and the
distributed histogram path."""

from __future__ import annotations

from collections import Counter

import pytest

from etl_python_sqlite_spark.operators import bpe as B


def _reference_trainer(word_counts: dict[str, int], n_merges: int):
    """Straight transcription of the published algorithm (Sennrich 2016
    Fig. 2 pseudocode — including its boundary-anchored ``re.sub``, so a
    bigram only merges WHOLE symbols and never fuses across a symbol
    that merely starts with the same characters), kept independent of
    the operator's code paths."""
    import re

    vocab = {" ".join(list(w) + [B.END]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for word, c in vocab.items():
            syms = word.split()
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best, cnt = max(
            pairs.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1])
        )
        if cnt < 2:
            break
        merges.append(best)
        pat = re.compile(
            r"(?<!\S)" + re.escape(" ".join(best)) + r"(?!\S)"
        )
        repl = "".join(best)
        vocab = {pat.sub(repl, w): c for w, c in vocab.items()}
    return merges


def test_merges_match_reference():
    counts = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3, "newer": 4,
        "wide": 2, "low-key": 1,
    }
    got = B.merges_from_histogram(list(counts.items()), 12)
    exp = _reference_trainer(counts, 12)
    assert got == exp
    assert len(got) == 12


def test_merges_match_reference_symbol_prefix_aliasing():
    """The corpus that breaks a naive str.replace reference: after
    ('a','b')→'ab', the word 'aab' is 'a ab </w>' — a later ('a','a')
    merge must NOT fuse the (a, ab) pair. Both trainers must agree."""
    counts = {"ab": 10, "aab": 6, "aa": 5, "aaab": 3}
    got = B.merges_from_histogram(list(counts.items()), 8)
    exp = _reference_trainer(counts, 8)
    assert got == exp


def test_reference_trainer_replace_is_tokenwise():
    """Guard for the reference itself: the anchored sub only merges whole
    symbols (never inside a previously merged symbol)."""
    counts = {"aaa": 3}
    merges = _reference_trainer(counts, 2)
    assert merges[0] == ("a", "a")


def test_encode_roundtrip_and_rank_priority():
    counts = {"banana": 10, "bandana": 5, "ban": 8}
    merges = B.merges_from_histogram(list(counts.items()), 10)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in counts:
        toks = B.encode_word(w, ranks)
        assert "".join(toks) == w + B.END  # lossless
    # an unseen word still encodes (falls back toward characters)
    toks = B.encode_word("banditry", ranks)
    assert "".join(toks) == "banditry" + B.END


def test_distributed_histogram_and_token_counts(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat"),
        (2, "a mat the cat liked"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hist = dict(B.word_histogram(df))
    assert hist["the"] == 4 and hist["cat"] == 3 and hist["mat"] == 2
    merges = B.merges_from_histogram(B.word_histogram(df), n_merges=20)
    out = {
        r["doc_id"]: (r["n_bpe_tokens"], r["n_words"])
        for r in B.bpe_token_counts(df, merges).collect()
    }
    assert out[3] == (0, 0)
    assert out[0][1] == 6
    # trained merges compress: fewer tokens than raw character count
    raw_chars = sum(len(w) + 1 for w in rows[0][1].split())
    assert out[0][0] < raw_chars
    # frequent words collapse to few symbols; "the" should be 1 token
    ranks = {p: i for i, p in enumerate(merges)}
    assert len(B.encode_word("the", ranks)) == 1


def test_compression_on_repetitive_corpus(spark):
    df = spark.createDataFrame(
        [(i, "abcabcabc " * 20) for i in range(10)],
        "doc_id long, text string",
    )
    merges = B.merges_from_histogram(B.word_histogram(df), n_merges=30)
    out = B.bpe_token_counts(df, merges).collect()
    # 20 words/doc, each "abcabcabc": near-total merge → ≤ 2 tokens/word
    for r in out:
        assert r["n_bpe_tokens"] <= r["n_words"] * 2
