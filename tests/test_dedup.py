"""Ground-truth tests for the dedup ladder (exact / Jaccard / MinHash-LSH /
SimHash / winnowing) on synthetic corpora with planted near-duplicates."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators import dedup as D
from tests.conftest import SF_SMOKE

VOCAB = [
    "spark", "query", "join", "filter", "scan", "merge", "sort", "hash",
    "table", "row", "column", "batch", "stream", "window", "group", "agg",
]


def _doc(rng: random.Random, n: int = 40) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _mutate(rng: random.Random, text: str, n_edits: int) -> str:
    words = text.split()
    for _ in range(n_edits):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus(spark):
    """60 random docs + 10 planted near-dup pairs (2-edit mutations) +
    3 exact dups."""
    rng = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, _doc(rng)))
    for j in range(10):  # ids 100+2j (original), 101+2j (near-dup)
        base = _doc(rng)
        rows.append((100 + 2 * j, base))
        rows.append((101 + 2 * j, _mutate(rng, base, 2)))
    rows.append((200, rows[0][1]))  # exact dup of doc 0
    rows.append((201, rows[1][1]))
    rows.append((202, rows[1][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, corpus):
    groups = D.exact_dedup_groups(corpus).collect()
    dup_groups = [g for g in groups if g["n_copies"] > 1]
    assert {(g["keeper_id"], g["n_copies"]) for g in dup_groups} == {(0, 2), (1, 3)}
    kept = {g["keeper_id"] for g in groups}
    assert len(kept) == corpus.count() - 3
    assert kept & {200, 201, 202} == set()


def test_minhash_recall_vs_exact_jaccard(spark, corpus):
    """Every exact-Jaccard pair ≥ 0.7 must be found by MinHash-LSH
    (64 hashes / 16 bands ⇒ ~99.9% collision prob at j=0.7), and the
    reported jaccard values must be the exact ones (verification step)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.7).collect()
    }
    assert len(exact) >= 5, "fixture should plant high-sim pairs"

    found = {
        (r["id_a"], r["id_b"]): r["jaccard_micro"]
        for r in D.minhash_near_dups_portable(corpus, threshold_micro=700_000).collect()
    }
    missing = set(exact) - set(found)
    assert not missing, f"LSH missed {missing}"
    for pair, j in exact.items():
        # exact verify floored to micro-units, not a 64-hash estimate
        # (1e-6 absorbs the double rounding of an exact multiple)
        assert found[pair] == int(j * 1_000_000 + 1e-6)


def test_minhash_no_false_positives_below_threshold(spark, corpus):
    """Verification step guarantees: nothing below the threshold sneaks in."""
    # threshold must be > 0 (zero-overlap pairs are invisible to the
    # inverted index — and also unfindable by LSH, so 1e-9 loses nothing
    # for this comparison)
    exact_low = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(corpus, threshold=1e-9).filter(
            F.col("jaccard") < 0.5
        ).collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups_portable(corpus, threshold_micro=500_000).collect()
    }
    assert not (found & exact_low)


def test_ngram_jaccard_rejects_nonpositive_threshold(spark, corpus):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        D.ngram_jaccard_pairs(corpus, threshold=0.0)


def test_simhash_identical_and_near(spark, corpus):
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash_portable(corpus).collect()}
    # exact dups → identical fingerprints
    assert fp[0] == fp[200]
    assert fp[1] == fp[201] == fp[202]

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_dups_portable(corpus, max_hamming=10).collect()
    }
    assert pairs[(0, 200)] == 0
    assert pairs[(1, 201)] == 0
    # planted 2-edit mutations of 40-word docs should be hamming-close;
    # at least half of the planted pairs must surface within distance 10
    planted = [(100 + 2 * j, 101 + 2 * j) for j in range(10)]
    assert sum(p in pairs for p in planted) >= 5


def _winnowed(text: str, k: int = 3, window: int = 4) -> set[int]:
    """CPython replay of the winnowing fingerprints: phash60 of each
    k-word shingle, then the minimum of every ``window``-wide frame."""
    w = text.split()
    grams = [" ".join(w[i : i + k]) for i in range(max(len(w) - k + 1, 1))]
    h = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    return {min(h[i : i + window]) for i in range(len(h))}


def test_winnowing_identical_docs_share_all(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in D.winnowing_overlap_pairs_portable(corpus, min_shared=1).collect()
    }
    text = dict(corpus.collect())
    # exact dups → every fingerprint shared
    assert pairs[(0, 200)] == len(_winnowed(text[0]))
    for pair in ((1, 201), (1, 202), (201, 202)):
        assert pairs[pair] == len(_winnowed(text[1]))


def test_winnowing_overlap_pairs_find_planted(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in D.winnowing_overlap_pairs_portable(corpus, min_shared=3).collect()
    }
    assert (0, 200) in pairs and (1, 201) in pairs
    # planted 2-edit mutations share long word runs → fingerprints overlap
    planted = [(100 + 2 * j, 101 + 2 * j) for j in range(10)]
    assert sum(p in pairs for p in planted) >= 8


def test_shingle_df_cap_bounds_candidates(spark):
    """Adversarial stop-shingle corpus: every doc shares one universal
    3-gram ("the terms apply") plus unique content. Uncapped, that one
    shingle alone yields C(N,2) candidate pairs; with the cap the
    candidate count is bounded by the genuinely-similar pairs."""
    from etl_python_sqlite_spark.operators.dedup import (
        _jaccard_candidates,
        exploded_shingles,
        ngram_jaccard_pairs,
    )

    n = 60
    rows = [(i, f"unique{i} alpha{i} beta{i} the terms apply") for i in range(n)]
    # plant one true near-dup pair sharing RARE shingles (ids 1000/1001)
    rows.append((1000, "rare one two three four five six seven"))
    rows.append((1001, "rare one two three four five six eight"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    inv = exploded_shingles(df, k=3).dropDuplicates(["doc_id", "shingle"])

    uncapped = _jaccard_candidates(inv, "doc_id", None).count()
    capped = _jaccard_candidates(inv, "doc_id", 5).count()
    assert uncapped >= n * (n - 1) // 2  # the stop-shingle went quadratic
    # O(N·τ) bound: each surviving shingle (df ≤ 5) contributes ≤ df²/2
    # pairs; here only the planted pair's rare shingles survive
    assert capped == 1

    # end-to-end: the planted pair is still found at its EXACT jaccard,
    # and stop-shingle-only pairs are not emitted
    pairs = ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1000, 1001)]


def test_shingle_df_cap_noop_below_cap(spark, corpus):
    """On the standard test corpus (no shingle near the default cap) the
    capped and cap-free operators return identical pairs."""
    with_cap = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    no_cap = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in D.ngram_jaccard_pairs(
            corpus, threshold=0.3, max_shingle_df=None
        ).collect()
    }
    assert with_cap == no_cap and with_cap


def _brute_setsim(rows, threshold_micro):
    """Driver-side ground truth: word-SET jaccard over all pairs."""
    sets = {
        i: {w for w in t.split() if w}
        for i, t in rows
    }
    out = set()
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            jm = (1_000_000 * inter) // uni
            if jm >= threshold_micro:
                out.add((a, b, jm))
    return out


def test_setsim_prefix_equals_bruteforce(spark, corpus):
    """Prefix filtering is EXACT: output must equal the brute-force
    all-pairs word-set jaccard join (planted near-dups + exact dups)."""
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = _brute_setsim(rows, 500_000)
    got = {
        (r["id_a"], r["id_b"], r["jaccard_micro"])
        for r in D.setsim_join_prefix(corpus, threshold_micro=500_000).collect()
    }
    assert got == expected
    assert len(expected) > 10  # exact dups + 2-edit mutants all qualify


def test_setsim_prefix_excludes_stop_tokens(spark):
    """Adversarial corpus: one token in ALL docs, rest disjoint. The
    universal token must vanish from every prefix (rarest-first ordering
    ranks it last), so the naive index's N² candidate blowup cannot
    happen — and the output is still exactly right (empty: no pair
    reaches 0.5)."""
    n = 50
    rows = [
        (i, "common " + " ".join(f"tok{i}_{j}" for j in range(5)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = D.doc_token_sets(df)
    prefix = D.setsim_prefix_index(toks, 500_000)
    assert prefix.filter(F.col("tok") == "common").count() == 0
    # prefix length for |s|=6, t=0.5: 6 - 3 + 1 = 4 rows per doc
    assert prefix.count() == n * 4
    assert D.setsim_join_prefix(df, threshold_micro=500_000).count() == 0


def test_setsim_prefix_empty_and_identical_docs(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    got = D.setsim_join_prefix(df, threshold_micro=900_000).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard_micro"]) for r in got] == [
        (0, 1, 1_000_000)
    ]


def _shingle_set(t, k=3):
    ws = [w for w in t.split() if w]
    if not ws:
        return set()
    if len(ws) < k:
        return {" ".join(ws)}  # truncated whole-doc shingle
    return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}


def _brute_containment(rows, threshold_micro):
    """Driver-side ground truth: |A∩B| / |A| over all ORDERED pairs of
    distinct 3-word shingle sets (Broder containment)."""
    sets = {i: _shingle_set(t) for i, t in rows}
    out = set()
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            cm = (1_000_000 * len(sa & sb)) // len(sa)
            if cm >= threshold_micro:
                out.add((a, b, cm))
    return out


def test_containment_prefix_equals_bruteforce(spark, corpus):
    """The containment filter stack is EXACT: output must equal the
    brute-force all-ordered-pairs join."""
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = _brute_containment(rows, 600_000)
    got = {
        (r["id_a"], r["id_b"], r["containment_micro"])
        for r in D.containment_join_prefix(
            corpus, threshold_micro=600_000
        ).collect()
    }
    assert got == expected
    assert len(expected) > 10


def test_containment_is_asymmetric(spark):
    """A snippet inside a long page: high containment (A ⊂ B) in one
    direction only, and the pair is invisible to the Jaccard join at the
    same threshold — exactly the case the operator exists for."""
    snippet = "alpha beta gamma delta"
    page = snippet + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [(0, snippet), (1, page)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"], r["containment_micro"])
        for r in D.containment_join_prefix(df, threshold_micro=900_000).collect()
    }
    assert got == {(0, 1, 1_000_000)}  # snippet ⊂ page, never the reverse
    assert (
        D.setsim_join_prefix(df, threshold_micro=900_000).count() == 0
    )  # Jaccard is blind to subsumption


def _brute_spans(texts: dict, L: int) -> list:
    """Pure-Python ground truth for repeated_span_mine."""
    from collections import defaultdict

    occ = defaultdict(list)
    for d, t in texts.items():
        for i in range(1, len(t) - L + 2):
            occ[t[i - 1:i - 1 + L]].append((d, i))
    dup = defaultdict(list)
    for g, os_ in occ.items():
        if len(os_) >= 2:
            for d, i in os_:
                dup[d].append(i)
    out = []
    for d, ps in sorted(dup.items()):
        ps.sort()
        s = e = n = prev = None
        for p in ps:
            if s is None:
                s, e, n = p, p + L, 1
            elif p - prev > L:
                out.append((d, s, e, n))
                s, e, n = p, p + L, 1
            else:
                e, n = p + L, n + 1
            prev = p
        out.append((d, s, e, n))
    return sorted(out)


def test_repeated_span_mine_equals_bruteforce_synthetic(spark):
    """Planted repeats: cross-doc, intra-doc (overlapping self-repeat),
    boundary-touching spans, and a short doc below min_len — the span
    set must equal the pure-Python suffix-scan ground truth exactly."""
    from etl_python_sqlite_spark.operators.dedup import repeated_span_mine

    blk = "the quick brown fox jumps over the lazy dog again and again"
    texts = {
        0: "prefix one " + blk + " suffix alpha",
        1: "other start " + blk + " tail omega",          # cross-doc copy
        2: "zz " + blk[:30] + " unrelated middle words here",
        3: ("abcdefghij" * 8),                             # intra-doc repeat
        4: "short doc",                                    # below min_len
        5: "no repeats here at all, every word is unique today xyzw",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], ["doc_id", "text"]
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in repeated_span_mine(df, min_len=40, anchor_k=16).collect()
    )
    assert got == _brute_spans(texts, 40)


def test_repeated_span_mine_equals_bruteforce_smoke_corpus(spark):
    """Full corpus parity at SF_SMOKE — the anchor sieve misses nothing
    on real (template-heavy) data."""
    from etl_python_sqlite_spark.operators.dedup import repeated_span_mine
    from etl_python_sqlite_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in repeated_span_mine(docs).collect()
    )
    exp = _brute_spans(texts, 40)
    assert got == exp and len(exp) > 0


def test_repeated_span_mine_releases_cache(spark):
    from etl_python_sqlite_spark.operators.dedup import repeated_span_mine
    from etl_python_sqlite_spark.sources.parquet import load_table
    import gc

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    spans = repeated_span_mine(docs)
    assert spans.count() > 0
    del spans
    gc.collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_repeated_span_mine_rejects_bad_anchor(spark):
    from etl_python_sqlite_spark.operators.dedup import repeated_span_mine

    df = spark.createDataFrame([(1, "x" * 50)], ["doc_id", "text"])
    import pytest as _pt

    with _pt.raises(ValueError):
        repeated_span_mine(df, min_len=16, anchor_k=16)


def test_cut_repeated_spans_equals_bruteforce(spark):
    """The cut applies the mined spans exactly: cleaned text equals the
    pure-Python excision for planted repeats, pass-through docs, spans
    at doc start/end, and back-to-back merged spans."""
    from etl_python_sqlite_spark.operators.dedup import (
        cut_repeated_spans,
        repeated_span_mine,
    )

    blk = "the quick brown fox jumps over the lazy dog again and again"
    texts = {
        0: blk + " suffix alpha",                       # span at start
        1: "other start " + blk,                        # span at end
        2: "zz " + blk + " mid " + blk + " yy",         # two spans
        3: ("abcdefghij" * 8),                          # full-doc repeat
        4: "untouched document with unique words only xyzzy",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], ["doc_id", "text"]
    )
    spans = repeated_span_mine(df, min_len=40, anchor_k=16)
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_cuts"], r["cut_chars"])
        for r in cut_repeated_spans(df, spans).collect()
    }
    exp_spans = _brute_spans(texts, 40)
    for d, t in texts.items():
        ss = sorted((s, e) for dd, s, e, _ in exp_spans if dd == d)
        out, pos = [], 1
        for s, e in ss:
            out.append(t[pos - 1:s - 1])
            pos = e
        out.append(t[pos - 1:])
        exp_clean = "".join(out)
        assert got[d][0] == exp_clean, (d, got[d][0], exp_clean)
        assert got[d][1] == len(ss)
        assert got[d][2] == sum(e - s for s, e in ss)
    # nothing cleaned may still contain a duplicated 40-gram pair that
    # was present before (the cut removes ALL mined material)
    assert got[3][0] == ""  # wholly-duplicated doc vanishes


def test_repeated_span_mine_fuzz_small_alphabet(spark):
    """Seeded fuzz at aggressive parameters (L=8, k=3 over a 4-letter
    alphabet): dense self-overlaps, runs of one character, spans
    touching both doc boundaries, heavy hash-group collisions — the
    span set must equal the brute force on every corpus."""
    import random

    from etl_python_sqlite_spark.operators.dedup import repeated_span_mine

    rng = random.Random(42)
    for trial in range(4):
        texts = {}
        for d in range(30):
            n = rng.randrange(0, 60)
            texts[d] = "".join(rng.choice("abcd") for _ in range(n))
        # plant pathological shapes
        texts[100] = "a" * 50                    # unary run
        texts[101] = "a" * 50                    # its twin
        texts[102] = ("abc" * 20)[:50]           # periodic
        texts[103] = texts[0] + texts[1]         # concatenation reuse
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], ["doc_id", "text"]
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
            for r in repeated_span_mine(df, min_len=8, anchor_k=3).collect()
        )
        exp = _brute_spans(texts, 8)
        assert got == exp, f"trial {trial}: {len(got)} vs {len(exp)}"


# ---------------------------------------------------------------------------
# passage-level exact dedup (r11)
# ---------------------------------------------------------------------------

def _brute_passage_dedup(texts: dict, k: int = 20):
    """CPython replay of passage_dedup: first-writer-wins on the
    corpus-minimum (doc_id, pos) per exact passage string."""
    import hashlib

    chunks = []  # (doc, pos, chunk)
    for d in sorted(texts):
        w = texts[d].split()
        if not w:
            continue
        for pos in range((len(w) + k - 1) // k):
            chunks.append((d, pos, " ".join(w[pos * k:(pos + 1) * k])))
    first = {}
    for d, pos, c in chunks:
        enc = d * (1 << 20) + pos
        if c not in first or enc < first[c]:
            first[c] = enc
    out = {}
    for d in sorted(texts):
        mine = [(pos, c) for (dd, pos, c) in chunks if dd == d]
        if not mine:
            continue
        kept = [c for pos, c in mine
                if first[c] == d * (1 << 20) + pos]
        out[d] = (
            len(mine),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_passage_dedup_first_writer_wins(spark):
    from etl_python_sqlite_spark.operators.dedup import passage_dedup

    boiler = " ".join(f"b{i}" for i in range(20))  # one exact passage
    texts = {
        0: boiler + " " + " ".join(f"x{i}" for i in range(25)),
        1: boiler + " tail words here",       # boilerplate repeats -> cut
        2: " ".join(f"y{i}" for i in range(40)),
        3: boiler + " " + boiler,             # intra-doc repeat of a
        # passage doc 0 already owns: both cut
        4: "",                                # empty -> absent from output
        5: "   \t  ",                         # ws-only -> absent
        6: "short",                           # sub-window doc
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_md5"])
        for r in passage_dedup(df, window_words=20).collect()
    }
    exp = _brute_passage_dedup(texts, 20)
    assert got == exp
    # doc 1's boilerplate passage was cut (doc 0 owns it)
    assert got[1][1] == got[1][0] - 1
    # doc 3 lost both copies
    assert got[3] == (2, 0, __import__("hashlib").md5(b"").hexdigest())
    # docs 4/5 (no words) are absent
    assert 4 not in got and 5 not in got
    # doc 6: single short passage, kept whole
    assert got[6] == exp[6] and got[6][1] == 1


def test_passage_dedup_randomized_parity(spark):
    """Fuzz vs the CPython replay on a template-heavy corpus (the shape
    that actually exercises cross-doc passage collisions)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    texts = {}
    for d in range(40):
        n = rng.randrange(0, 90)
        texts[d] = " ".join(rng.choice(vocab) for _ in range(n))
    from etl_python_sqlite_spark.operators.dedup import passage_dedup

    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_md5"])
        for r in passage_dedup(df, window_words=5).collect()
    }
    assert got == _brute_passage_dedup(texts, 5)
