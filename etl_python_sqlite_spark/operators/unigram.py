"""Unigram-LM (SentencePiece-style) tokenizer training at corpus scale
(Kudo, "Subword regularization: improving neural network translation
models with multiple subword candidates", ACL 2018 — the
SentencePiece/T5/LLaMA training scheme; public literature only).

The BPE sibling (``operators/bpe.py``): the reference engine has no
tokenizer surface at all, so this is EXT surface, and the scale shape is
identical — unigram training never needs the corpus, it needs the WORD
HISTOGRAM. The only distributed work is the one explode→groupBy word
count (the caller passes ``bpe.word_histogram``'s output — the BPE
trainer's stage, one map-side-combined shuffle); seeding, EM and
pruning then run on the bounded vocabulary driver-side, which is how
you train a tokenizer over 100 TB without 100 TB ever touching the
trainer. Applying the
learned vocabulary back to the corpus is an Arrow-batched ``mapInPandas``
with a per-batch distinct-word cache (same natural-language-skew
argument as the BPE encoder).

Deviations from Kudo 2018, chosen for exactness (this repo's integer
discipline) and pinned by ``tests/test_unigram.py``:

* **Viterbi (hard) EM** instead of forward-backward expected counts —
  the standard simplification; counts stay exact integers.
* **Log-free rational scoring.** A segmentation's likelihood under the
  unigram model is ``Π count(piece) / T^m`` (T = Σ counts, m = piece
  count). Two candidates compare by exact integer cross-multiplication
  ``a·T^n vs b·T^m`` — no ``log``/float anywhere, so results are
  bit-identical on every platform (the CLAUDE.md ln() portability rule,
  solved by not taking logs at all).
* **Deterministic tie-breaks** (likelihood-equal segmentations): fewer
  pieces first, then the lexicographically smaller piece tuple.
  Seeding/pruning rank by (count DESC, piece ASC).
* **Fixed pipeline** instead of prune-until-converged: seed from all
  substrings (length ≤ ``max_piece_len``) of the histogram words →
  ``em_rounds`` Viterbi-EM rounds over the seed set → one prune to
  ``vocab_size`` (single characters always survive — coverage) → one
  final EM round for the reported counts. No RNG, no loss threshold;
  identical output on any cluster layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _better(
    a: tuple[int, int, tuple[str, ...]],
    b: tuple[int, int, tuple[str, ...]],
    T: int,
) -> bool:
    """Is segmentation a = (prod, m, pieces) strictly better than b
    under the exact rational likelihood prod/T^m? Cross-multiplied
    integer compare; ties → fewer pieces, then lexicographic pieces."""
    lhs, rhs = a[0] * T ** b[1], b[0] * T ** a[1]
    if lhs != rhs:
        return lhs > rhs
    if a[1] != b[1]:
        return a[1] < b[1]
    return a[2] < b[2]


def viterbi_segment(
    word: str,
    counts: dict[str, int],
    T: int,
    max_piece_len: int = 8,
) -> tuple[str, ...] | None:
    """Highest-likelihood segmentation of ``word`` into vocabulary
    pieces (None if some character is out of vocabulary). Exact DP —
    dp[i] carries (Π counts, m, pieces) for the best split of
    word[:i]."""
    n = len(word)
    dp: list[tuple[int, int, tuple[str, ...]] | None] = [None] * (n + 1)
    dp[0] = (1, 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            prev = dp[j]
            if prev is None:
                continue
            c = counts.get(word[j:i])
            if c is None or c <= 0:
                continue
            cand = (prev[0] * c, prev[1] + 1, prev[2] + (word[j:i],))
            if best is None or _better(cand, best, T):
                best = cand
        dp[i] = best
    return dp[n][2] if dp[n] is not None else None


def unigram_from_histogram(
    hist: list[tuple[str, int]],
    vocab_size: int = 512,
    seed_size: int = 2048,
    max_piece_len: int = 8,
    em_rounds: int = 2,
) -> list[tuple[str, int]]:
    """Train the unigram vocabulary from a (word, count) histogram —
    the corpus-size-independent trainer (see module docstring for the
    pinned pipeline). Returns [(piece, count)] ordered by
    (count DESC, piece ASC); counts are the final Viterbi-EM expected
    counts (exact integers)."""
    chars = {ch for w, _ in hist for ch in w}

    # --- seed: every substring of every histogram word, weighted by
    # word count × occurrences; capped to the top seed_size ----------
    seed: dict[str, int] = {}
    for w, c in hist:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(L, i + max_piece_len) + 1):
                p = w[i:j]
                seed[p] = seed.get(p, 0) + c
    kept = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    counts = dict(kept)
    for ch in chars:  # coverage floor: single chars always segmentable
        counts.setdefault(ch, seed.get(ch, 1))

    def em_round(cur: dict[str, int]) -> dict[str, int]:
        T = sum(cur.values())
        new: dict[str, int] = {}
        for w, c in hist:
            seg = viterbi_segment(w, cur, T, max_piece_len)
            if seg is None:  # unreachable given the char floor
                seg = tuple(w)
            for p in seg:
                new[p] = new.get(p, 0) + c
        for ch in chars:  # keep dead chars alive at count 1
            new.setdefault(ch, 1)
        return new

    for _ in range(em_rounds):
        counts = em_round(counts)

    # --- prune to vocab_size (single chars always survive) ----------
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    room = max(0, vocab_size - len(singles))
    counts = dict(multi[:room]) | singles

    # --- final EM round over the pruned vocabulary -------------------
    counts = em_round(counts)
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


def unigram_token_counts(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 8,
) -> DataFrame:
    """Per-document Viterbi piece count under the learned vocabulary.
    One mapInPandas pass; each batch segments every DISTINCT word once
    and reuses the count (the same cache shape as
    ``bpe.bpe_token_counts``). Out-of-vocabulary characters fall back
    to one piece per character (the coverage floor makes this
    unreachable for corpus-trained vocabularies, but the encoder must
    not crash on unseen text)."""
    import re

    import pandas as pd

    counts = dict(vocab)
    T = sum(counts.values())
    schema = f"{id_col} long, n_pieces long, n_words long"
    # the SAME ASCII whitespace class as functions.text.words (parity
    # with the histogram and the SQL word-count twin)
    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def _encode(batches):
        for pdf in batches:
            cache: dict[str, int] = {}
            out_ids, out_np, out_w = [], [], []
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
                        seg = viterbi_segment(w, counts, T, max_piece_len)
                        n = len(seg) if seg is not None else len(w)
                        cache[w] = n
                    total += n
                out_ids.append(vid)
                out_np.append(total)
                out_w.append(len(ws))
            yield pd.DataFrame(
                {id_col: out_ids, "n_pieces": out_np, "n_words": out_w}
            )

    return df.select(id_col, text_col).mapInPandas(_encode, schema=schema)
