"""Deduplication operators for training-data pipelines (EXT, SURVEY §2.7).

Tiers, cheapest-first — the standard large-corpus dedup ladder:

1. exact content dedup — hash groupBy, one shuffle on the hash;
2. n-gram Jaccard — exact set similarity on word shingles (quadratic;
   use on candidate pairs or bounded samples);
3. MinHash + LSH — near-dup at corpus scale: signatures are one
   narrow pass, banding turns O(n²) similarity into an equi-join on
   (band, bucket), then candidates are verified with exact Jaccard;
4. SimHash — 60-bit fingerprints; near-dups = small Hamming distance,
   found via block equi-joins (any pair within distance d shares at
   least one exact block — pigeonhole);
5. winnowing — windowed-minimum rolling-hash fingerprints, pairs that
   share enough of them.

Scale notes: every step is expressed as DataFrame ops (explode /
groupBy / join) so Spark distributes them; the only shuffles are on
hash/bucket keys which are uniformly distributed by construction (no
skew). Tiers 3-5 key on ``functions.portable.phash60`` (MinHash adds
fixed integer salts) — deterministic across runs and clusters, no RNG
state to ship, and bit-identical in the DuckDB oracle, so the oracle's
value-hash check covers the full near-dup pipeline, not just a row count.

Published basis (public literature): MinHash resemblance — Broder, "On
the resemblance and containment of documents" (SEQUENCES 1997); banding
S-curve — Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets* ch.3;
SimHash — Charikar, "Similarity estimation techniques from rounding
algorithms" (STOC 2002) with the Hamming pigeonhole block scheme of
Manku/Jain/Sarma, "Detecting near-duplicates for web crawling" (WWW
2007); winnowing — Schleimer/Wilkerson/Aiken, "Winnowing: local
algorithms for document fingerprinting" (SIGMOD 2003).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.text import word_shingles
from etl_python_sqlite_spark.operators.cache import tie


def exploded_shingles(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_arr: DataFrame | None = None,
) -> DataFrame:
    """(id, shingle) rows — distinct k-word shingles per document.

    posexplode + window ``lead`` instead of the array-building
    ``word_shingles`` expression: higher-order array functions are
    interpreted per element (measured ~16µs/shingle), while
    posexplode/lead/concat_ws stay in whole-stage codegen. One shuffle on
    the (uniform) id for the window, then distinct folds into downstream
    aggregation.

    ``words_arr``: an already-tokenized (id_col, ws) RAW word-array
    frame (the ``simhash_portable`` contract): posexplode it instead of
    re-running ``words(text)`` — identical (pos, token) rows by
    construction since ``ws`` is the same expression. The operator
    neither persists nor releases it (a session memo owns it).
    """
    from etl_python_sqlite_spark.functions.text import words

    w = Window.partitionBy(id_col).orderBy("pos")
    if words_arr is not None:
        toks = words_arr.select(
            F.col(id_col), F.posexplode("ws").alias("pos", "w0")
        )
    else:
        toks = df.select(
            F.col(id_col),
            F.posexplode(words(F.col(text_col))).alias("pos", "w0"),
        )
    cols = [F.col("w0")] + [
        F.lead("w0", i).over(w).alias(f"w{i}") for i in range(1, k)
    ]
    shingled = toks.select(F.col(id_col), F.col("pos"), *cols).select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", *[f"w{i}" for i in range(k)]).alias("shingle"),
        F.col(f"w{k-1}").isNotNull().alias("_full"),
    )
    # docs shorter than k words keep their single truncated whole-doc
    # shingle (parity with word_shingles); full-length docs keep only
    # complete windows. NOT deduped: min() is insensitive to duplicates,
    # so minhash needs no distinct (callers needing sets dedupe themselves)
    return shingled.filter(F.col("_full") | (F.col("pos") == 0)).select(
        id_col, "shingle"
    )


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content: keeper id (min), copy count, content
    hash. First-writer-wins like the reference's INSERT OR IGNORE."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# 2. exact n-gram Jaccard similarity
# ---------------------------------------------------------------------------

def _jaccard_candidates(
    inv: DataFrame,
    id_col: str,
    max_shingle_df: int | None,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from an inverted index of per-doc
    DISTINCT (id, shingle) rows.

    A shingle appearing in f documents contributes f·(f-1)/2 candidate
    rows to the self-join — one stop-shingle shared by the whole corpus
    makes the join quadratic in corpus size. ``max_shingle_df`` drops
    shingles with document frequency above the cap BEFORE the join
    (standard stop-shingle pruning, cf. the suffix-filtering literature
    the module docstring cites), bounding candidate work at
    O(n_shingles · max_shingle_df). Verification downstream still scores
    FULL shingle sets, so a surviving pair's jaccard is exact; the only
    recall loss is a pair whose EVERY shared shingle exceeds the cap —
    at any sane cap such docs share only boilerplate, not content.
    """
    if max_shingle_df is not None:
        stop = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        # the stop set is tiny by construction (≤ total_rows / cap) —
        # broadcast the anti-join so the inverted index never reshuffles
        inv = inv.join(F.broadcast(stop), "shingle", "left_anti")
    return (
        inv.alias("a")
        .join(
            inv.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """All pairs (a<b) with Jaccard(shingles_a, shingles_b) ≥ threshold
    (``threshold`` must be > 0). Returns (id_a, id_b, jaccard).

    EXACT on every emitted pair — but not quadratic: a pair with
    jaccard > 0 shares at least one shingle, so candidates come from an
    inverted-index equi-join on (distinct) exploded shingles, and the
    exact jaccard is evaluated on candidates only. The previous
    all-pairs formulation compiled to a BroadcastNestedLoopJoin on the
    range condition — 125k jaccard evaluations for 500 docs (11 s at
    sf0.1) where this plan does ~10² (1.5 s), and the equi-join keeps
    working at corpus scale while any O(n²) plan cannot.

    ``max_shingle_df`` guards the inverted index against stop-shingles
    (see ``_jaccard_candidates``): a shingle in f docs costs f²/2 join
    rows, so one corpus-wide boilerplate phrase would otherwise re-create
    the quadratic blowup this plan exists to avoid. Pass ``None`` for the
    fully exact (cap-free) variant on bounded samples.
    """
    if threshold <= 0:
        # the inverted-index candidate pass only sees pairs sharing ≥1
        # shingle; zero-overlap pairs (jaccard = 0) are structurally
        # invisible to it, so threshold ≤ 0 would silently under-return
        raise ValueError("ngram_jaccard_pairs requires threshold > 0")
    # persist both derived frames: each feeds both sides of a self-join,
    # and without it Catalyst re-inlines the shingle construction per
    # PAIR row instead of per doc (caches are scoped to the returned
    # frame via tie())
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("shingles")
    ).persist()
    inv = sh.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    ).persist()
    cands = _jaccard_candidates(inv, id_col, max_shingle_df)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", (inter.cast("double") / union).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return tie(out, sh, inv)


def cap_fingerprint_df(
    fp: DataFrame, max_df: int | None, key_col: str = "fingerprint"
) -> DataFrame:
    """Stop-fingerprint pruning for fingerprint-identity pair joins:
    drop fingerprints whose document frequency exceeds ``max_df``
    BEFORE the self-join (the stop-shingle pattern of
    :func:`setsim_join_prefix`, used by the video frame matchers in
    ``operators/videohash.py``). On a real corpus a ubiquitous
    fingerprint — black frames, intro cards, boilerplate text windows — has a posting list
    of millions and an uncapped identity join emits its SQUARE; set
    semantics tolerate dropping it (a pair whose every shared
    fingerprint is boilerplate is not a content duplicate). ``fp`` must
    already be distinct on (id, fingerprint), so the plain count IS the
    document frequency; the stop set is tiny by construction
    (≤ n_rows / max_df) — broadcast the anti-join so the fingerprint
    frame never reshuffles. Candidate work is bounded at
    O(n_fingerprints · max_df); the only recall loss is a pair whose
    EVERY shared fingerprint exceeds the cap."""
    if max_df is None:
        return fp
    stop = (
        fp.groupBy(key_col)
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(key_col)
    )
    return fp.join(F.broadcast(stop), key_col, "left_anti")


# ---------------------------------------------------------------------------
# 3-5. MinHash + LSH, SimHash, winnowing (portable 60-bit hash)
# ---------------------------------------------------------------------------
# Keyed on functions.portable.phash60, so a DuckDB twin reproduces every
# hash bit-for-bit (explode → groupBy → band / block / window-min
# equi-joins).

def portable_band_keys(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_key) — the portable MinHash LSH banding of every
    document: per-shingle 60-bit md5 hash → Carter-Wegman salted minima
    (WIDE aggregation, see the pipeline docstring below) → per-band
    comma-joined decimal key. Exactly the band index
    :func:`minhash_near_dups_portable` self-joins."""
    from etl_python_sqlite_spark.functions.portable import (
        phash60,
        universal_hash,
        universal_salt_constants,
    )

    r = num_hashes // bands
    consts = universal_salt_constants(num_hashes)
    sh = exploded_shingles(df, k, text_col, id_col)
    base = sh.select(id_col, phash60(F.col("shingle")).alias("h"))
    # WIDE aggregation: one row per shingle, num_hashes min-aggregate
    # columns — no ×num_hashes row explode. The narrow salted-row plan
    # (r2's choice, driven by codegen COMPILE cost)
    # loses at scale: the 64× probe measured the 6G-row explode+hash-agg
    # machinery — not hashing — as the dominant term (394 s narrow; the
    # md5→3-int-op family swap moved nothing), and bench's warm-up pass
    # now amortizes the wide plan's one-time compile anyway.
    mins_wide = base.groupBy(id_col).agg(
        *[
            F.min(universal_hash(F.col("h"), F.lit(a), F.lit(b))).alias(
                f"mh{s}"
            )
            for s, a, b in consts
        ]
    )
    return mins_wide.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            ",",
                            *[f"mh{band * r + j}" for j in range(r)],
                        ).alias("band_key"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_key")


def minhash_near_dups_portable(
    df: DataFrame,
    threshold_micro: int = 300_000,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-dups on the portable 60-bit hash. Returns
    (id_a, id_b, jaccard_micro) — exact Jaccard of the verified candidate
    pair, floor-quantized to micro-units as a BIGINT (``(10^6·|∩|) div
    |∪|``), so the value is integer-exact on both engines (the repo's
    ROUND(double) portability invariant).

    The band key is the comma-joined decimal rendering of the band's
    ``r`` min-hashes in salt order — a plain string equi-join key that
    DuckDB rebuilds with ``string_agg(... ORDER BY s)``. Uniform key,
    same candidate set as hashing the tuple.

    The salt family is the Carter-Wegman 2-universal ``(a_s·h + b_s)
    mod 2^61−1`` over ONE md5-derived base hash per shingle
    (functions/portable.py::universal_hash — see its docstring for why
    the cheaper modulus-free variant is a signature-collapse trap the
    64× scale probe caught). The (s, a_s, b_s) constants ride through
    the salt explode as literal structs — no per-row lookup.
    """
    from etl_python_sqlite_spark.functions.text import word_shingles

    banded = portable_band_keys(
        df, num_hashes, bands, k, text_col, id_col
    ).persist()  # stop Catalyst re-inlining the agg into both join sides
    # eager: the self-join's two sides otherwise race to compute the
    # signature pass concurrently within one job (observed: both
    # exchange stages running at once, double compute + cache thrash)
    banded.count()
    a = banded.alias("a")
    b = banded.alias("b")
    # eager LINEAGE CUT at the narrowest point (the candidate set):
    # downstream has MULTIPLE independent actions — the candidate-id
    # broadcast build runs as its own job before the verify job — and a
    # lazy cands would let each of them race to recompute the whole
    # signature pass (measured: run-to-run walls degrading 16→53→60 s
    # lazy vs stable eager at sf0.1). localCheckpoint beats persist+count
    # by a further ~1.7 s in an interleaved same-session A/B (downstream
    # plans become scans of the materialized RDD instead of re-analyzed
    # full-lineage trees); tie() releases the checkpoint blocks
    # deterministically on drop (operators/cache._release_frame), so the
    # lifecycle gate holds. The banded cache is released the moment
    # candidates land instead of riding the result lifetime.
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    banded.unpersist()
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    shards = (
        df.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        .select(F.col(id_col), word_shingles(F.col(text_col), k).alias("sh"))
        .persist()
    )
    shards.count()  # eager — both sides of the verify join
    sa = shards.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shards.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("inter"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("uni"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * inter) div uni").alias("jaccard_micro"),
        )
        .filter(F.col("jaccard_micro") >= threshold_micro)
    )
    # banded already released eagerly above
    return tie(verified, cands, shards)


def simhash_portable(
    df: DataFrame,
    bits: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_arr: DataFrame | None = None,
) -> DataFrame:
    """SimHash fingerprints on the portable 60-bit hash: (id, simhash)
    with ``simhash`` a non-negative BIGINT of ``bits`` bits. Narrow
    shape: explode tokens → one hashed long per row → explode over the
    bit positions → one conditional-sum aggregate keyed on (id, bit) →
    bit_or of per-bit masks. A ``bits``-wide conditional-sum plan
    computes the same thing but generates ~``bits``× the Java code, and
    whole-stage-codegen compile dominated its cold cost (2.2 s cold /
    0.8 s warm for the narrow plan vs the wide plan's 1.7 s *warm* at
    sf0.1, identical fingerprints).

    ``words_arr``: an already-tokenized (id, ws) RAW word-array frame
    (the plans-layer shared stage) — exploded instead of re-running the
    tokenize pass; identical tokens by construction."""
    from etl_python_sqlite_spark.functions.portable import phash60
    from etl_python_sqlite_spark.functions.text import words

    toks = (
        words_arr.select(F.col(id_col), F.explode("ws").alias("tok"))
        if words_arr is not None
        else df.select(
            F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
        )
    ).select(id_col, phash60(F.col("tok")).alias("h"))
    bit_rows = toks.select(
        id_col, "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("s")
    )
    bit_sums = bit_rows.groupBy(id_col, "s").agg(
        F.sum(F.when(F.expr("getbit(h, s)") == 1, 1).otherwise(-1)).alias("bsum")
    )
    # sum of disjoint powers of two (not bit_or) — DuckDB mirrors it with
    # SUM(CASE ... 1::BIGINT << s ...); h is 60-bit so no sign bit in play
    return bit_sums.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("bsum") > 0, F.expr("shiftleft(1L, s)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def simhash_near_dups_portable(
    df: DataFrame,
    max_hamming: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    sh: DataFrame | None = None,
) -> DataFrame:
    """Hamming-distance pairs over the portable 60-bit SimHash via 4
    pigeonhole blocks of 15 bits. Recall is guaranteed for distance ≤ 3
    (4 blocks, pigeonhole) and best-effort for 4..max_hamming — but the
    blocking is DETERMINISTIC, so Spark and the DuckDB twin produce the
    identical pair set and the driver's value-hash check applies.

    ``sh``: an ALREADY-MATERIALIZED (id, simhash) fingerprint frame
    (the plans-layer shared stage, ``grams=`` contract) — this operator
    then neither builds, persists nor releases it (r12-opt, guide
    §2.4: the fingerprint pass is the query's whole per-doc cost and
    the fingerprints query computes the identical frame)."""
    if sh is not None:
        own_sh = False
    else:
        sh = simhash_portable(df, 60, text_col, id_col).persist()
        own_sh = True
    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("block"),
                        F.shiftright(F.col("simhash"), blk * 15)
                        .bitwiseAND(0x7FFF)
                        .alias("key"),
                    )
                    for blk in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.block", "bk.key")

    a = blocks.alias("a")
    b = blocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    out = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return tie(out, sh) if own_sh else out


def winnowing_overlap_pairs_portable(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_arr: DataFrame | None = None,
) -> DataFrame:
    """Winnowing overlap pairs on the portable hash: (id_a, id_b,
    n_shared). Hash the k-word shingle at every position with
    ``phash60``, slide a ``window``-wide frame, keep each frame's minimum
    (any shared run of ≥ k+window-1 words yields a shared fingerprint —
    the winnowing coverage property); DuckDB rebuilds the identical
    fingerprint set with a ROWS BETWEEN CURRENT ROW AND window-1
    FOLLOWING frame.

    ``words_arr``: an already-tokenized (id, ws) RAW word-array frame
    (the plans-layer shared stage) — posexploded instead of re-running
    the tokenize pass; identical (pos, token) rows by construction."""
    from etl_python_sqlite_spark.functions.portable import phash60
    from etl_python_sqlite_spark.functions.text import words

    wtok = Window.partitionBy(id_col).orderBy("pos")
    toks = (
        words_arr.select(
            F.col(id_col), F.posexplode("ws").alias("pos", "w0")
        )
        if words_arr is not None
        else df.select(
            F.col(id_col),
            F.posexplode(words(F.col(text_col))).alias("pos", "w0"),
        )
    )
    cols = [F.col("w0")] + [
        F.lead("w0", i).over(wtok).alias(f"w{i}") for i in range(1, k)
    ]
    grams = (
        toks.select(F.col(id_col), F.col("pos"), *cols)
        .filter(F.col(f"w{k-1}").isNotNull() | (F.col("pos") == 0))
        .select(
            F.col(id_col),
            F.col("pos"),
            phash60(F.concat_ws(" ", *[f"w{i}" for i in range(k)])).alias("h"),
        )
    )
    frame = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    # Lazy persist ON PURPOSE — do not "fix" this to an eager
    # checkpoint or feed the upstream from a cached stage (r12 negative
    # result, 10× probe): on a template corpus one fingerprint is
    # shared by thousands of docs, so the self-join generates Σf²
    # candidate rows (949M at 10×). The under-estimated lazy stats keep
    # the join a BroadcastHashJoin, which STREAMS those rows straight
    # into the map-side-combined groupBy (19 s at 10×); accurate stats
    # (cached upstream or checkpointed fp) flip it to a sort-merge join
    # that must SORT the exploded rows — 124-180 s, GC-locker 1 GB
    # allocation stalls. The at-scale upgrade path is a
    # fingerprint-grouped pair generation, not a join-strategy change.
    fp = (
        grams.select(F.col(id_col), F.min("h").over(frame).alias("fingerprint"))
        .distinct()
        .persist()
    )
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    out = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return tie(out, fp)


def doc_token_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct non-empty word tokens per doc, one (id, tok) row each."""
    from etl_python_sqlite_spark.functions.text import words

    return (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("tok"))
        .filter(F.length("tok") > 0)
        .distinct()
    )


def setsim_prefix_index(
    toks: DataFrame, threshold_micro: int, id_col: str = "doc_id"
) -> DataFrame:
    """Prefix index over (id, tok) rows: order each doc's tokens by
    ascending GLOBAL document frequency (token string as tie-break) and
    keep only the first ``|s| − ⌈t·|s|⌉ + 1`` — the exact prefix-filter
    index of Chaudhuri et al. (ICDE 2006). A token that appears in many
    docs ranks last everywhere, so it is indexed only by docs whose set
    is almost all stop-tokens — the f² candidate blowup of a naive
    inverted index is structurally impossible. ⌈t·|s|⌉ is computed in
    integer micro-units. Returns (id, tok, sz)."""
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("dfreq"))
    wdoc = Window.partitionBy(id_col)
    ranked = toks.join(dfreq, "tok").select(
        F.col(id_col),
        F.col("tok"),
        F.row_number().over(wdoc.orderBy("dfreq", "tok")).alias("rnk"),
        F.count("*").over(wdoc).alias("sz"),
    )
    ceil_t_sz = F.expr(f"({threshold_micro} * sz + 999999) div 1000000")
    return ranked.filter(
        F.col("rnk") <= F.col("sz") - ceil_t_sz + F.lit(1)
    ).select(id_col, "tok", "sz")


def setsim_join_prefix(
    df: DataFrame,
    threshold_micro: int = 500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact set-similarity self-join with PREFIX FILTERING (the
    AllPairs/PPJoin family: Bayardo/Ma/Srikant, "Scaling up all pairs
    similarity search", WWW 2007; Chaudhuri/Ganti/Kaushik, ICDE 2006).
    Returns every pair of docs whose word-SET Jaccard ≥ threshold, as
    (id_a, id_b, jaccard_micro) with the exact Jaccard floor-quantized
    to micro-units (integer-portable across engines).

    Why not the plain inverted-index join (``ngram_jaccard_pairs``): a
    token shared by f docs contributes f² candidate rows there, capped
    only by the stop-shingle τ. Prefix filtering is the published exact
    fix — order each doc's tokens by ascending global document
    frequency (rarest first, token string as tie-break) and index ONLY
    the first ``|s| − ⌈t·|s|⌉ + 1`` tokens. Any pair with
    J(A,B) ≥ t must share a prefix token: if all common tokens sat in
    both suffixes, then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ t·|∪|, a
    contradiction — so there are NO false negatives and the output is
    bit-identical to the brute-force join (the oracle twin exploits
    exactly this). Rare-first ordering makes surviving index entries
    low-frequency by construction: candidate volume collapses from
    Σf² over all tokens to Σf² over prefix tokens, the standard
    orders-of-magnitude reduction at corpus scale.

    Pruning stack, each exact (no recall loss):
    * prefix filter — equi-join only on prefix tokens;
    * length filter — J(A,B) ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|),
      checked in integer micro-units inside the join condition;
    * verify — exact |∩|/|∪| on the full token sets of candidate pairs
      only.

    All threshold math is integer (⌈t·|s|⌉ = (t_micro·|s| + 999999)
    div 10^6), so the plan is deterministic on every engine/platform.
    Shuffles: tokens (df count + sets), prefix-token equi-join, pair
    distinct — all on uniform hash/token keys; the rare-first prefix
    keeps the join's per-key fan-out bounded, which is what makes this
    the 100 TB-safe shape.
    """
    # toks is consumed by the prefix-index subtree (the cands action)
    # AND the sets_ verify build (a later eager action) — unpersisted,
    # the tokenize+distinct pass re-ran once per consumer (r12-opt §2.4
    # within-query sharing; no eager count — the prefix count below is
    # the warming action, the sets_ action then reads the cache)
    toks = doc_token_sets(df, text_col, id_col).persist()
    prefix = setsim_prefix_index(toks, threshold_micro, id_col).persist()
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: t·max ≤ 10^6·min
            & (
                F.lit(threshold_micro) * F.greatest("a.sz", "b.sz")
                <= F.lit(1_000_000) * F.least("a.sz", "b.sz")
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        # eager lineage cut at the narrowest point: the broadcast
        # cand-id job and the verify job are separate actions that would
        # otherwise race to recompute the prefix pass (the minhash
        # pipeline's measured hazard + same-session A/B favoring the
        # checkpoint); tie() releases the blocks on drop, and the prefix
        # cache is freed the moment candidates land
        .localCheckpoint(eager=True)
    )
    prefix.unpersist()
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_ = (
        toks.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("tok").alias("tokset"))
        .persist()  # reused by both sides of the verify join
    )
    sa = sets_.select(F.col(id_col).alias("id_a"), F.col("tokset").alias("ts_a"))
    sb = sets_.select(F.col(id_col).alias("id_b"), F.col("tokset").alias("ts_b"))
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ts_a", "ts_b")).cast("long").alias("inter"),
            F.size(F.array_union("ts_a", "ts_b")).cast("long").alias("uni"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * inter) div uni").alias("jaccard_micro"),
        )
        .filter(F.col("jaccard_micro") >= threshold_micro)
    )
    return tie(verified, cands, sets_, toks)


def containment_join_prefix(
    df: DataFrame,
    threshold_micro: int = 600_000,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ASYMMETRIC containment self-join: every ORDERED pair (A, B),
    A ≠ B, with C(A,B) = |S_A ∩ S_B| / |S_A| ≥ t over the documents'
    distinct k-word SHINGLE sets — "A's content is mostly inside B",
    the subsumption relation Jaccard resemblance can't see (a paragraph
    quoted whole inside a long page has high containment and negligible
    Jaccard). This is the dedup rule pipelines apply to drop
    snippet/excerpt documents whose text lives inside a larger retained
    page; the Jaccard twin is ``setsim_join_prefix``.

    Shingles, not word tokens, deliberately (Broder's original
    containment is defined on shingle sets): single-word sets are far
    too coarse for subsumption — on a template-heavy corpus most docs
    share most WORDS, so token-level containment at any threshold has
    near-quadratic true output (measured: the 16× salt-sharded probe
    ran 95× slower on tokens purely because the true result was ~256×
    larger — word order never distinguished the templates). k-word
    shingles encode order and locality, so containment means "A's
    actual passages appear in B".

    Exactness argument (no false negatives): the PROBE side (A) keeps
    only its rare-first prefix of ``|A| − ⌈t·|A|⌉ + 1`` tokens — if no
    prefix token of A lands in B, the intersection fits inside A's
    suffix of ⌈t·|A|⌉ − 1 tokens, contradicting |A∩B| ≥ ⌈t·|A|⌉. The
    INDEX side (B) must carry ALL its tokens (containment is one-sided:
    A's rare prefix token can sit anywhere in B), so the index is the
    corpus token list itself — linear, and the candidate fan-out is
    Σ df(tok) over PREFIX tokens only, the same rare-first collapse as
    the Jaccard join. Length filter inside the join: |A∩B| ≤ |B| forces
    t·|A| ≤ 10⁶·|B| in integer micro-units (no upper bound on |B| —
    asymmetry again). Verify = exact |∩| on candidate pairs' full
    token sets. All threshold math integer → engine-portable.

    Returns (id_a, id_b, containment_micro): id_a the CONTAINED doc,
    ``containment_micro = (10⁶·|∩|) div |S_A|``.
    """
    # toks feeds THREE subtrees inside the cands action (prefix, sizes,
    # index) plus the later sets_ build — unpersisted, the
    # tokenize+shingle+distinct pass re-ran once per subtree
    # (r12-opt §2.4 within-query sharing; no eager count — the eager
    # checkpoint below is the warming action)
    toks = (
        exploded_shingles(df, k, text_col, id_col)
        .withColumnRenamed("shingle", "tok")
        .distinct()  # SET semantics (exploded_shingles keeps duplicates)
        .persist()
    )
    # prefix has exactly ONE consumer (the cands join inside the single
    # eager-localCheckpoint action below) — no persist/eager-count (the
    # r8 invariant: only CONCURRENT actions need the cache; a spare
    # count() is one whole driver job of pure overhead, ADVICE r8)
    prefix = setsim_prefix_index(toks, threshold_micro, id_col)
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("sz"))
    index = toks.join(sizes, id_col).select(
        F.col(id_col).alias("id_b"),
        F.col("tok"),
        F.col("sz").alias("sz_b"),
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "tok", F.col("sz").alias("sz_a")
    )
    cands = (
        a.join(
            index,
            (a["tok"] == index["tok"])
            & (F.col("id_a") != F.col("id_b"))
            # |A∩B| ≤ |B| and ≥ ⌈t|A|⌉ ⇒ t·|A| ≤ 10⁶·|B|
            & (
                F.lit(threshold_micro) * F.col("sz_a")
                <= F.lit(1_000_000) * F.col("sz_b")
            ),
        )
        .select("id_a", "id_b")
        .distinct()
        # eager lineage cut at the narrowest point (the candidate set) —
        # the broadcast cand-id job and the verify job are separate
        # actions (see setsim_join_prefix for the measured hazard)
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_ = (
        toks.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("tok").alias("tokset"))
        .persist()  # both sides of the verify join
    )
    sa = sets_.select(
        F.col(id_col).alias("id_a"), F.col("tokset").alias("ts_a")
    )
    sb = sets_.select(
        F.col(id_col).alias("id_b"), F.col("tokset").alias("ts_b")
    )
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ts_a", "ts_b"))
            .cast("long")
            .alias("inter"),
            F.size("ts_a").cast("long").alias("sz_a"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * inter) div sz_a").alias("containment_micro"),
        )
        .filter(F.col("containment_micro") >= threshold_micro)
    )
    return tie(verified, cands, sets_, toks)


def repeated_span_mine(
    df: DataFrame,
    min_len: int = 40,
    anchor_k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
    broadcast_texts: bool = False,
) -> DataFrame:
    """ExactSubstr-style intra-corpus repeated-substring mining: every
    MAXIMAL region of every document covered by duplicated ``min_len``-
    char grams, as ``(id, span_start, span_end, n_positions)`` with
    1-based ``span_start`` and exclusive ``span_end``.

    A position ``p`` is *duplicated* iff the ``min_len``-gram starting
    at ``p`` occurs (character-exactly) at some OTHER position of the
    corpus — the published suffix-array dedup criterion ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2021),
    restated so it needs no suffix array. Overlapping-or-touching
    duplicated grams merge into one span (interval union), so dropping
    ``text[span_start-1 : span_end-1]`` per span removes exactly the
    ≥min_len repeated material.

    Distributed shape — never a monolithic suffix array, never an
    occurrence² pair extension (a template-heavy corpus makes hot
    anchors quadratic; the r3 regeneration measured 73% near-dup pairs):

    1. **Anchor hashing**: every ``anchor_k``-gram position hashed
       JVM-side (``Generate`` + project, text never shuffled); 8-byte
       (id, pos, hash) rows — the honest linear cost, same order as the
       suffix-array construction it replaces.
    2. **Hot anchors**: ``groupBy(hash).count() ≥ 2`` (map-side partial
       combine), semi-joined back. A groupBy+join instead of a
       ``count over (partition by hash)`` window on purpose: one
       pathological k-gram (16 spaces × 10^8 copies) would put its
       whole group into a single window task — the join's probe-side
       skew is AQE-splittable, an in-task window sort is not. The gram
       stream is recomputed for the probe branch rather than persisted:
       at 100 TB a cached gram set cannot be pinned, and the rescan is
       one Generate over the parquet scan.
    3. **Candidate filter (complete by construction)**: if the L-gram
       at ``p`` is duplicated, EVERY k-gram inside it is duplicated,
       hence hot — so ``p`` is a candidate iff all ``w = L−k+1`` anchor
       positions in ``[p, p+w)`` are hot (a count-over-range window per
       doc, group size bounded by DOC LENGTH, not corpus size). This is
       a strictly tighter sieve than sampled minimizer anchors and
       misses nothing.
    4. **Exact verification**: candidates re-extract their full L-gram,
       keyed by a 128-bit content hash pair (two chained xxhash64
       seeds); groups with ≥2 occurrences are duplicated. 16 bytes/row
       instead of L chars; a false merge needs a 2^-128 collision —
       below any corpus horizon (10^14 grams → ~10^-11 expected
       collisions). The (id, i, h1, h2) frame is the narrowest stage
       and feeds two consumers (the count and the probe), so it takes
       the pipeline's ONE eager localCheckpoint (CLAUDE.md invariant).
    5. **Span merge**: per-doc gaps-and-islands (lag + running sum);
       start gaps > min_len break, else intervals union.

    Every stage is linear in corpus positions; candidate volume tracks
    true repetition (the all-hot-window sieve only passes regions whose
    every k-gram recurs). Returns the span frame tie()'d to the
    checkpoint blocks.

    A same-session A/B at sf0.1 (1.4M positions, best-of-3 warm)
    adjudicated three design forks, all kept as comments in place:
    direct L-gram hashing without the sieve was 8.1 s vs the sieve's
    2.6 s (two 40-char hashes × two uncached passes outweigh the extra
    sieve stages even on a dense corpus); persisting the gram stream
    lost to recomputing it (3.4 vs 2.8 s — the materialization job
    costs more than the second Generate pass, and a pinned corpus-sized
    cache is a non-starter at 100 TB anyway); document-frame skew is
    the explode's poison (a single-file parquet scan ran the whole
    gram stage on ONE core: 6.0 → 2.8 s after spreading).

    ``parallelism``: explode input is repartitioned to this many tasks
    (defaults to ``spark.sql.shuffle.partitions``); the doc frame is
    tiny relative to its exploded output, so the pre-spread is a
    near-free shuffle that keeps the gram stages wide.
    ``broadcast_texts``: hint the candidate→text re-extraction join to
    broadcast the document frame (measured −0.3 s at sf0.1). Off by
    default — at data scale the corpus is never broadcastable; the
    query layer turns it on from file-size metadata.
    """
    if anchor_k >= min_len:
        raise ValueError("anchor_k must be < min_len")
    w = min_len - anchor_k + 1
    d0 = df.select(
        F.col(id_col), F.col(text_col), F.length(text_col).alias("len")
    ).filter(F.col("len") >= min_len)
    spark = df.sparkSession
    nparts = parallelism or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    d = d0.repartition(nparts)

    def grams() -> DataFrame:
        # rebuilt per consumer (see step 2 note) — a plain plan fragment
        return d.select(
            F.col(id_col),
            F.col("len"),
            F.explode(F.sequence(F.lit(1), F.col("len") - anchor_k + 1)).alias(
                "i"
            ),
            F.col(text_col),
        ).select(
            id_col,
            "len",
            "i",
            F.xxhash64(
                F.col(text_col).substr(F.col("i"), F.lit(anchor_k))
            ).alias("h"),
        )

    hot = (
        grams()
        .groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("h")
    )
    hot_pos = grams().join(hot, "h", "left_semi")

    # all-w-hot window per doc: count of hot anchor rows in [i, i+w-1]
    rw = Window.partitionBy(id_col).orderBy("i").rangeBetween(0, w - 1)
    cand = (
        hot_pos.withColumn("nw", F.count("*").over(rw))
        .filter(
            (F.col("nw") == w) & (F.col("i") <= F.col("len") - min_len + 1)
        )
        .select(id_col, "i")
    )

    texts = d0.select(id_col, text_col)
    if broadcast_texts:
        texts = F.broadcast(texts)
    lgrams = (
        cand.join(texts, id_col)
        .select(
            id_col,
            "i",
            F.col(text_col).substr(F.col("i"), F.lit(min_len)).alias("g"),
        )
        .select(
            id_col,
            "i",
            F.xxhash64("g").alias("h1"),
            F.xxhash64(F.lit(0x5F3C), "g").alias("h2"),
        )
        .localCheckpoint(eager=True)
    )
    dup_keys = (
        lgrams.groupBy("h1", "h2")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("h1", "h2")
    )
    dup_pos = lgrams.join(dup_keys, ["h1", "h2"], "left_semi").select(
        id_col, "i"
    )

    ow = Window.partitionBy(id_col).orderBy("i")
    spans = (
        dup_pos.withColumn("prev", F.lag("i").over(ow))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("i") - F.col("prev") > min_len),
                1,
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("brk").over(ow))
        .groupBy(id_col, "grp")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + min_len).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_positions"),
        )
        .drop("grp")
    )
    return tie(spans, lgrams)


def cut_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply :func:`repeated_span_mine`'s output as a corpus CUT — the
    second half of the published ExactSubstr dedup (mine, then excise):
    every maximal duplicated span is removed from its document and the
    remaining segments concatenate in order. Documents with no spans
    pass through verbatim.

    Deterministic, order-free semantics (cut ALL duplicated material):
    the conservative variant of Lee et al. 2021 — keeping one canonical
    copy would make the result depend on a doc ordering; cutting every
    copy is reproducible under any partitioning and is what the
    span-mining contract defines.

    Shape: spans get their per-doc predecessor end via one lag window
    (group size = spans per doc, tiny), join their document's text once,
    extract the BETWEEN-span segments JVM-side (substring — no UDF),
    and reassemble with sort_array+array_join (collect_list is not
    order-stable). One join + two per-doc-keyed shuffles, all linear.

    Returns (id, cleaned_text, n_cuts, cut_chars).
    """
    w = Window.partitionBy(id_col).orderBy("span_start")
    marks = spans.select(
        id_col,
        "span_start",
        "span_end",
        F.lag("span_end", 1, 1).over(w).alias("prev_end"),
    )
    texts = df.select(id_col, text_col, F.length(text_col).alias("_len"))
    segs = marks.join(texts, id_col).select(
        id_col,
        "span_start",
        "span_end",
        F.expr(
            f"substring({text_col}, prev_end,"
            f" span_start - prev_end)"
        ).alias("seg"),
    )
    per_doc = segs.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_start", "seg"))),
                lambda x: x["seg"],
            ),
            "",
        ).alias("head"),
        F.max("span_end").alias("last_end"),
        F.count("*").cast("long").alias("n_cuts"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("long")
        .alias("cut_chars"),
    )
    return texts.join(per_doc, id_col, "left").select(
        id_col,
        F.when(F.col("n_cuts").isNull(), F.col(text_col))
        .otherwise(
            F.concat(
                F.col("head"), F.expr(f"substring({text_col}, last_end)")
            )
        )
        .alias("cleaned_text"),
        F.coalesce(F.col("n_cuts"), F.lit(0).cast("long")).alias("n_cuts"),
        F.coalesce(F.col("cut_chars"), F.lit(0).cast("long")).alias(
            "cut_chars"
        ),
    )


# ---------------------------------------------------------------------------
# passage-level exact dedup (r11 — the RefinedWeb/C4 line-dedup analogue)
# ---------------------------------------------------------------------------

#: pos-in-doc order-embedding base for the first-writer-wins key:
#: doc_id·2^20 + pos stays exact for corpora up to ~2^43 documents of
#: <2^20 passages each (a single BIGINT min beats a struct min, which
#: would plan a SortAggregate — the clustering._assign argmin rule)
_PASSAGE_POS_BITS = 20


def passage_instances(
    df: DataFrame,
    window_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, chunk) — every consecutive ``window_words``-word
    passage of every document (wordless documents contribute no rows).
    The passage array is built with slice/array_join HOFs — interpreted,
    but per PASSAGE (1/window_words of the per-word rate that made
    exploded_shingles restructure). Measured (r11 interleaved A/B at
    16×/80k docs, 3 reps warm): this shape 1.30-1.78 s vs the
    exploded_shingles-style per-word posexplode → groupBy(doc, pos div
    k) rewrite at 1.83-2.34 s — the rewrite's extra word-level shuffle
    costs more than the interpreted per-passage HOFs, the same
    extra-stage economics as the trigram multiplicity A/B. Keep the
    HOF form."""
    from etl_python_sqlite_spark.functions.text import _ws_strip, words

    k = int(window_words)
    base = df.filter(F.length(_ws_strip(F.col(text_col))) > 0).select(
        F.col(id_col), words(F.col(text_col)).alias("w")
    )
    n_chunks = F.ceil(F.size("w") / F.lit(float(k))).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("w"), i * k + 1, k), " "),
    )
    return base.select(
        F.col(id_col), F.posexplode(chunk_arr).alias("pos", "chunk")
    )


def passage_dedup(
    df: DataFrame,
    window_words: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_chunks, n_kept, kept_md5) — PASSAGE-level exact dedup
    with document reassembly: the corpus-global "line dedup" step of
    RefinedWeb/C4-style pipelines (Penedo et al., *The RefinedWeb
    Dataset*, 2023 §4; Raffel et al., C4, JMLR 2020), re-expressed over
    fixed ``window_words``-word passages because this corpus carries no
    newline structure. Reference scope: the reference engine dedups
    whole rows only (etl_relational.py's INSERT OR IGNORE); sub-document
    dedup is EXT surface.

    Semantics (first-writer-wins, globally): every document is cut into
    consecutive ``window_words``-word passages; a passage string kept
    iff this (doc, pos) is the corpus-minimum ``doc_id·2^20 + pos`` for
    that exact string — intra-document repeats dedup too. Surviving
    passages are reassembled in position order and fingerprinted
    (md5), so the output certifies the reassembled text, not just
    counts.

    Scale shape: ONE explode (posexplode over the passage array), one
    groupBy on the passage string (map-side combine absorbs hot
    boilerplate passages — no skewed window sort), one 1:1 join back on
    the passage (AQE skew-split handles hot probe keys; fan-out is
    exactly 1 per instance, never quadratic), one groupBy(doc) for
    reassembly. The passage array is built with slice/array_join HOFs —
    interpreted, but per PASSAGE (1/window_words of the per-word rate
    that made exploded_shingles restructure); the explode→flat-columns
    rewrite documented in ``passage_instances`` is the upgrade path if
    a profile ever shows it."""
    inst = passage_instances(df, window_words, text_col, id_col).persist()
    enc = F.col(id_col) * F.lit(1 << _PASSAGE_POS_BITS) + F.col("pos")
    own = inst.groupBy("chunk").agg(F.min(enc).alias("first_enc"))
    tagged = inst.join(own, "chunk").select(
        F.col(id_col),
        "pos",
        "chunk",
        (enc == F.col("first_enc")).alias("is_first"),
    )
    out = tagged.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct("pos", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )
    return tie(out, inst)
