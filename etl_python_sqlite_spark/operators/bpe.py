"""Byte-pair-encoding tokenizer training at corpus scale (Sennrich/
Haddow/Birch, "Neural machine translation of rare words with subword
units", ACL 2016 — the GPT-2/RoBERTa training scheme).

The scale insight: BPE training never needs the corpus — it needs the
WORD HISTOGRAM. The only distributed work is one explode→groupBy word
count (a single shuffle, map-side combined); the merge loop then runs
on the bounded vocabulary (top ``max_vocab`` types) driver-side, which
is how you train a tokenizer over 100 TB without 100 TB ever touching
the trainer. Applying the learned merges back to the corpus is an
Arrow-batched pandas UDF with a per-batch word cache (each distinct
word is encoded once per batch, not once per occurrence).

Determinism: no RNG anywhere; the merge argmax tie-breaks on
(count, pair) with the pair's lexicographic order, and the vocabulary
cap tie-breaks on (count, word) — identical results on any cluster
layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.text import words

END = "</w>"  # end-of-word marker, per the published algorithm


def word_histogram(
    df: DataFrame, text_col: str = "text", max_vocab: int = 65536
) -> list[tuple[str, int]]:
    """ONE distributed pass: (word, count) for the ``max_vocab`` most
    frequent words, ordered and tie-broken deterministically."""
    wc = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_vocab)
    )
    return [(r["w"], int(r["c"])) for r in wc.collect()]


def merges_from_histogram(
    hist: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """The classic trainer over a (word, count) histogram: repeatedly
    merge the most frequent adjacent symbol pair. O(vocab · n_merges)."""
    vocab = {tuple(w) + (END,): c for w, c in hist}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for symbols, c in vocab.items():
            for i in range(len(symbols) - 1):
                p = (symbols[i], symbols[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break  # nothing repeats — further merges are noise
        a, b = best[0]
        merges.append((a, b))
        merged = a + b
        new_vocab = {}
        for symbols, c in vocab.items():
            out = []
            i = 0
            while i < len(symbols):
                if (
                    i < len(symbols) - 1
                    and symbols[i] == a
                    and symbols[i + 1] == b
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merge rules (lowest rank first) to one word — the standard
    GPT-2 style greedy merge-by-rank encoder."""
    symbols = list(word) + [END]
    while len(symbols) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token count under the learned merges. One
    mapInPandas pass; each batch encodes every DISTINCT word once and
    reuses the result (the natural-language skew — few types, many
    tokens — is exactly what makes the cache effective)."""
    import re

    import pandas as pd

    ranks = {p: i for i, p in enumerate(merges)}
    schema = f"{id_col} long, n_bpe_tokens long, n_words long"
    # the SAME ASCII whitespace class as functions.text.words — Python's
    # str.split additionally splits on unicode spaces, which would break
    # parity with the training histogram and the SQL word-count twin
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def _encode(batches):
        for pdf in batches:
            cache: dict[str, int] = {}
            out_ids, out_tok, out_w = [], [], []
            for vid, text in zip(pdf[id_col], pdf[text_col]):
                ws = (
                    [w for w in ws_re.split(text) if w]
                    if isinstance(text, str)
                    else []
                )
                total = 0
                for w in ws:
                    n = cache.get(w)
                    if n is None:
                        n = len(encode_word(w, ranks))
                        cache[w] = n
                    total += n
                out_ids.append(vid)
                out_tok.append(total)
                out_w.append(len(ws))
            yield pd.DataFrame(
                {id_col: out_ids, "n_bpe_tokens": out_tok, "n_words": out_w}
            )

    return df.select(id_col, text_col).mapInPandas(_encode, schema=schema)
