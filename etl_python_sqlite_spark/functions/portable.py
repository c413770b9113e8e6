"""Cross-engine deterministic 60-bit hashing (Spark ⇄ DuckDB).

``xxhash64`` is engine-internal: no other SQL engine reproduces it, so
queries built on it can only get the driver's weaker rows-only check.
This module defines a *portable* hash both engines compute bit-for-bit
identically, making the MinHash/SimHash/winnowing pipelines
(``operators/dedup.py``'s ``*_portable`` operators) fully
oracle-checkable:

    P(x) = int(md5(utf8(x)).hexdigest()[:15], 16)     # 60 bits

* Spark:  ``conv(substring(md5(x), 1, 15), 16, 10)`` cast to long —
  all JVM codegen expressions, no UDFs.
* DuckDB: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.

15 hex digits = 60 bits < 2^63, so the BIGINT cast can never overflow
(ANSI mode on the Spark side would otherwise raise). md5 on both engines
hashes the UTF-8 bytes of the string and prints lowercase hex, so the
derived integer is identical by construction. The salt family
(:func:`universal_hash`) re-hashes a base hash in pure BIGINT
arithmetic, far cheaper than re-hashing the original text per salt.

md5 is ~2-4× slower than xxhash64 per call; the dedup operators pay
that margin for cross-engine verifiability and stay pure codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: DuckDB SQL twin of ``phash60`` — format with the column/expression text.
PHASH60_SQL = "CAST('0x' || substr(md5({c}), 1, 15) AS BIGINT)"

#: Mersenne prime 2^61−1 — the modulus of the universal salt family.
MINHASH_MOD_P = (1 << 61) - 1

#: DuckDB twin of ``universal_hash`` — identical pure-BIGINT Mersenne-61
#: arithmetic (see ``universal_hash`` for the algebra and bounds). The
#: single-expression template inlines the ``t1``/``x`` subterms; the
#: minhash oracle pipeline instead names them in CTE columns for
#: readability and single evaluation.
def _uh_sql(h: str, a: str, b: str) -> str:
    t1 = f"({a} * ({h} >> 30))"
    x = (
        f"((({t1} & 2147483647) << 30) + ({t1} >> 31)"
        f" + {a} * ({h} & 1073741823) + {b})"
    )
    return f"(({x} & {MINHASH_MOD_P}) + ({x} >> 61))"


class _UHTemplate:
    """str.format-compatible shim so existing ``UNIVERSAL_HASH_SQL.format(
    h=..., a=..., b=...)`` call sites keep working."""

    def format(self, *, h: str, a: str, b: str) -> str:
        return _uh_sql(h, a, b)


UNIVERSAL_HASH_SQL = _UHTemplate()


def phash60(c: Column) -> Column:
    """Portable 60-bit hash of a string column (see module docstring)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def phash60b(c: Column) -> Column:
    """Second 60-bit hash from the SAME md5 digest (hex chars 16..30) —
    independent of :func:`phash60` bits, zero extra digest cost."""
    return F.conv(F.substring(F.md5(c), 16, 15), 16, 10).cast("long")


def universal_salt_constants(num: int) -> list[tuple[int, int, int]]:
    """(s, a_s, b_s) triples for the 2-universal salt family — fixed,
    RNG-free (derived from md5 of the salt index in CPython at plan-build
    time, then embedded as LITERALS in both the Spark plan and the SQL
    twin, so no cross-engine hash agreement is even needed for them).
    ``a_s`` is forced nonzero and < 2^31 (the multiplier width the
    pure-BIGINT Mersenne reduction in :func:`universal_hash` needs);
    ``b_s`` keeps the full 60 bits."""
    import hashlib

    out = []
    for s in range(num):
        a = (
            int(hashlib.md5(f"minhash-a-{s}".encode()).hexdigest()[:8], 16)
            & 0x7FFFFFFF
        ) | 1
        b = int(hashlib.md5(f"minhash-b-{s}".encode()).hexdigest()[:15], 16)
        out.append((s, a, b))
    return out


def universal_hash(h: Column, a: Column, b: Column) -> Column:
    """``(a·h + b) mod (2^61−1)``-style Carter-Wegman salt family over
    the Mersenne prime, evaluated in PURE 64-bit integer arithmetic —
    no DECIMAL/HUGEINT. Requires ``a < 2^31``, ``h < 2^60``, ``b < 2^60``
    (what :func:`universal_salt_constants` and :func:`phash60` produce).

    Algebra (p = 2^61−1, so 2^61 ≡ 1 mod p):
        a·h       = a·(h div 2^30)·2^30 + a·(h mod 2^30)
        t1 = a·(h div 2^30) < 2^61;  t1·2^30 ≡ (t1 mod 2^31)·2^30
                                              + (t1 div 2^31)   (mod p)
        x  = t1_rot + a·(h mod 2^30) + b < 2^63   (no signed overflow)
        out = (x mod 2^61) + (x div 2^61)          (one fold; ≡ x mod p)
    The result lives in [0, 2^61+2] — congruent mod p but NOT fully
    canonicalized (values p..p+2 keep their representative). That is
    deliberate: the final conditional subtract would cost a CASE per
    (shingle, salt) on both engines, and a hash family only needs a
    deterministic well-scrambled value, which both engines compute
    bit-identically from this exact expression. The ~2^-60 chance of two
    congruent-but-distinct representatives is far below the 60-bit base
    hash's own collision floor.

    Why the mod-p structure at all: a first cut used the affine-in-s
    Kirsch-Mitzenmacher form ``h1 + s·h2`` WITHOUT a modulus — but min
    over affine functions of s is a lower envelope, so whenever two
    shingles' (h1, h2) orderings agree (probability ½) the same shingle
    is the argmin for EVERY salt. Signature diversity collapses, LSH
    band collisions go quadratic, and the 64× scale probe filled the
    disk with a candidate-join spill. The wraparound restores per-salt
    independence; the disjoint-corpus diversity gate in test_dedup pins
    it. A second cut computed the mulmod in DECIMAL(38,0)/HUGEINT —
    exact, but Spark DECIMAL(38) is BigDecimal-backed and the 64
    mulmods per shingle row dominated the signature pass (8.1 s warm at
    sf0.1 vs 3.3 s for the xxhash64 path); this long-only form removes
    the BigDecimal tax from the hot loop."""
    t1 = a * F.shiftright(h, 30)
    t1_rot = F.shiftleft(t1.bitwiseAND(F.lit((1 << 31) - 1)), 30) + F.shiftright(
        t1, 31
    )
    x = t1_rot + a * h.bitwiseAND(F.lit((1 << 30) - 1)) + b
    return x.bitwiseAND(F.lit(MINHASH_MOD_P)) + F.shiftright(x, 61)
