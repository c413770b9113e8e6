"""Portable 60-bit hash (functions/portable.py) and the operators built
on it. The heavy cross-engine verification lives in
tests/test_queries_oracle.py (DuckDB replays every pipeline); these
tests pin the hash definition itself to an independent CPython md5
reference and the operators' basic laws, so an engine-side regression is
caught even without DuckDB present.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.portable import phash60
from etl_python_sqlite_spark.operators import dedup as D

SAMPLES = [
    "",
    "hello world",
    "a b c",
    "tab\tand\nnewline",
    "unicode: héllo wörld ünïcode",  # UTF-8 multibyte
    "0123456789" * 20,
]


def _ref(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_phash60_matches_cpython_md5(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", phash60(F.col("s")).alias("h")).collect()}
    for s in SAMPLES:
        assert got[s] == _ref(s), s
        assert 0 <= got[s] < 2**60


def test_universal_hash_matches_reference(spark):
    from etl_python_sqlite_spark.functions.portable import (
        MINHASH_MOD_P,
        universal_hash,
        universal_salt_constants,
    )

    def py_uh(h: int, a: int, b: int) -> int:
        # bit-exact CPython replay of the long-only Mersenne fold
        t1 = a * (h >> 30)
        t1_rot = ((t1 & (2**31 - 1)) << 30) + (t1 >> 31)
        x = t1_rot + a * (h & (2**30 - 1)) + b
        return (x & MINHASH_MOD_P) + (x >> 61)

    consts = universal_salt_constants(64)
    for s, a, b in consts:
        assert a % 2 == 1 and 0 < a < 2**31  # multiplier width the fold needs
        assert 0 <= b < 2**60
    rows = [(t, a, b) for t in SAMPLES for _, a, b in consts[:3] + consts[-2:]]
    df = spark.createDataFrame(rows, "t string, a long, b long")
    got = df.select(
        "t", "a", "b",
        universal_hash(phash60(F.col("t")), F.col("a"), F.col("b")).alias("v"),
    ).collect()
    for r in got:
        v = r["v"]
        assert v == py_uh(_ref(r["t"]), r["a"], r["b"])
        # congruence law: the fold result equals the textbook mulmod up to
        # the (deliberate) non-canonical representative near p
        assert v % MINHASH_MOD_P == (
            r["a"] * _ref(r["t"]) + r["b"]
        ) % MINHASH_MOD_P
        assert 0 <= v <= MINHASH_MOD_P + 2
        # no signed-64 overflow anywhere in the fold's intermediates
        assert r["a"] * (_ref(r["t"]) >> 30) < 2**61


def test_minhash_portable_no_false_positives_on_disjoint_corpus(spark):
    """Signature-diversity regression gate: a modulus-free affine salt
    family collapses the per-salt argmins (the same shingle wins every
    salt with probability ~1/2), which makes UNRELATED docs collide in
    every band — the failure the 64x scale probe caught as a quadratic
    candidate-join disk spill. On a corpus of pairwise-disjoint docs the
    candidate count must be ~0; under the collapsed family it is
    O(n^2)-ish and this blows past the bound immediately."""
    import random

    rng = random.Random(7)
    docs = [
        (i, " ".join(f"w{i}_{rng.randrange(10**6)}" for _ in range(30)))
        for i in range(120)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = D.minhash_near_dups_portable(df, threshold_micro=0)
    assert pairs.count() <= 3  # disjoint shingle sets: ~zero band collisions


def test_simhash_portable_range_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in D.simhash_portable(docs).collect()}
    assert rows[1] == rows[2]  # identical text → identical fingerprint
    assert rows[1] != rows[3]
    for v in rows.values():
        assert 0 <= v < 2**60


def test_minhash_portable_identical_docs_full_jaccard(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words here entirely now"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_micro"]
        for r in D.minhash_near_dups_portable(docs, threshold_micro=500_000).collect()
    }
    assert pairs == {(1, 2): 1_000_000}  # identical docs, exact J = 1


def test_simhash_near_dups_portable_pigeonhole(spark):
    # identical docs → hamming 0; guaranteed found (distance ≤ 3 tier)
    docs = spark.createDataFrame(
        [(1, "same text body"), (2, "same text body"), (3, "other content")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_dups_portable(docs, max_hamming=3).collect()
    }
    assert got.get((1, 2)) == 0
