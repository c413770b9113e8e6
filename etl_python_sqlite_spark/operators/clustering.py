"""Distributed k-means (Lloyd's algorithm) over an embedding column —
integer-exact, iteration-unrolled, single-action dataflow.

The reference engine has no vector operators at all (SURVEY §2.5 —
``scr/etl_basic.py:20-22`` is its entire scalar surface), so this is EXT
surface: the clustering primitive the repo's ANN family samples its way
around (IVF picks centroids by deterministic sampling,
``similarity.ivf_topk``; SemDeDup assigns to sampled centroids once).
Lloyd refinement is the standard way those centroids get GOOD: assign →
re-estimate → repeat, each round one distributed pass.

Scale design (the 100 TB shape, not a driver loop over rows):

* The corpus never leaves the cluster, and NOTHING is collected: the
  whole unrolled iteration chain — seeding, per-iteration assignment,
  centroid update, final summary — is ONE lazy plan executed by ONE
  action (an earlier literal-re-entry variant collected k·dim centroids
  per round; 4 sequential driver jobs of pure fixed overhead, measured
  3.7-4.5 s at sf0.1 vs ~1.5 s single-action for identical results).
* The flat (vec_id, dim, q) frame is hash-partitioned by vec_id ONCE
  and persisted; every structure that must be co-located by vec_id (the
  per-vector argmin, the update join) reuses that distribution. The
  corpus is never re-shuffled: centroid frames are k·dim rows and ride
  BROADCAST joins on the dim index; only vector-count-sized aggregates
  (n·k assignment rows) and k·dim-sized updates cross the wire, both
  map-side combined.
* Seeding, two modes (``seeding=`` on both public entry points):
  ``"phash"`` (default) — the k vectors with the smallest portable
  60-bit hash of their id (``phash60``, ties by id), a distributed
  TakeOrderedAndProject top-k, never a global sort; cluster ids are the
  seed ranks (0..k−1), assigned by a row_number window over k rows.
  ``"parallel"`` (r9) — deterministic k-means‖
  (:func:`kmeans_parallel_seeds`): oversampled candidates, one
  corpus-wide weight pass, driver-side weighted farthest-point; ONE
  bounded extra driver action, well-spread seeds on skewed corpora.
* Integer-exact cross-engine parity: elements are floor-quantized to
  NON-NEGATIVE micro-units ``q = floor((x + 1) · 10⁶)`` (|x| < 1 for
  the embeddings contract), distances are Σ(q−c)² in BIGINT (≤ 64 ·
  (2·10⁶)² ≈ 2.6·10¹⁴ — dim-bounded, no overflow at any corpus size),
  and the centroid mean is the FLOOR integer division ``Σq div n``
  with a DECIMAL(38,0) sum accumulator (corpus-sized, so the long-sum
  overflow ceiling is cleared; the CLAUDE.md rule — exact decimal for
  AGGREGATE accumulators, longs for per-row math), identical to DuckDB
  ``//`` *because* the shift keeps every operand non-negative (the two
  engines disagree on negative integer division: truncation vs floor).
  Argmin ties break to the lowest cluster id (row_number over
  (dist, cid)). Every step is deterministic, so the DuckDB twin replays
  the whole algorithm bit-exactly from the parquet — no fixture, no
  tolerance.
* Empty clusters drop out (receive no update row) on both engines —
  the standard "dead centroid" rule, stated rather than patched.
* Inertia aggregates through DECIMAL(38,0) and casts back to BIGINT
  for the contract schema.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.portable import phash60
from etl_python_sqlite_spark.operators.cache import tie

#: Micro-unit shift — embeddings are unit-normalized-ish floats in
#: (−1, 1); +1 keeps every quantized value strictly positive so integer
#: division is engine-portable (see module docstring).
_SHIFT = 1.0
_SCALE = 1_000_000


def _quantize_py(x: float) -> int:
    """CPython replay of the Spark quantizer — same IEEE double ops in
    the same order: widen, add 1.0, scale, floor."""
    return math.floor((float(x) + _SHIFT) * _SCALE)


def flatten_quantized(
    embs: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(vid, d, q) rows — the quantized flat form every k-means path
    computes distances on."""
    return embs.select(
        F.col(id_col).cast("long").alias("vid"),
        F.posexplode(F.expr(f"CAST({vec_col} AS ARRAY<DOUBLE>)")).alias(
            "d", "x"
        ),
    ).select(
        "vid",
        "d",
        F.floor((F.col("x") + F.lit(_SHIFT)) * F.lit(float(_SCALE)))
        .cast("long")
        .alias("q"),
    )


def seed_rank_frame(
    embs: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """(vid, cid) for the k seed vectors — smallest phash60(id), ties by
    id; cid = seed rank 0..k−1. Distributed top-k (TakeOrdered), then a
    row_number window over the k-row result only."""
    seed_ids = (
        embs.select(
            F.col(id_col).cast("long").alias("vid"),
            phash60(F.col(id_col).cast("string")).alias("ph"),
        )
        .orderBy("ph", "vid")
        .limit(k)
    )
    return seed_ids.select(
        "vid",
        (F.row_number().over(Window.orderBy("ph", "vid")) - 1)
        .cast("long")
        .alias("cid"),
    )


def _assign(flat: DataFrame, cents: DataFrame, k: int = 64) -> DataFrame:
    """One Lloyd assignment: per vector, the (cid, dist) of the nearest
    centroid. The k·dim centroid frame broadcasts onto the dim index —
    the corpus side never exchanges; the (vid, cid) distance aggregate
    is map-side combined (all dims of a vid are co-located), and the
    argmin is FUSED into a second aggregation on the same hash(vid)
    distribution: ``min(dist·ENC + cid)`` over an ORDER-EMBEDDING
    encoding — ENC = next power of two ≥ k, so the integer minimum is
    (lowest dist, ties to lowest cid), the exact (dist, cid) order the
    DuckDB twin's row_number replays. A struct-min would carry the same
    semantics but plans as SortAggregate (struct buffers aren't
    hash-aggregable); the BIGINT encoding keeps BOTH aggregations in
    HashAggregate with zero exchanges and zero sorts — hash(vid)
    satisfies both groupings (r8 VERDICT item 3; the r8 shape paid an
    n·k-row re-exchange plus a per-vid sort for the row_number window).

    Encoding headroom: dist ≤ dim·(2·10⁶)² and every operand is
    non-negative, so dist·ENC + cid < 2⁶³ whenever dim·ENC ≤ 2.3·10⁶
    (dim 64 / k ≤ 4096 → ENC 4096: 1.1·10¹⁸, 8× clear). ANSI mode is
    on session-wide, so a violation errors loudly instead of silently
    wrapping. ``k`` is the caller's static cluster count (an upper
    bound is fine — NEVER derived from ``cents`` here, which would be
    a driver action re-executing the whole upstream chain)."""
    enc = 1 << max(1, k - 1).bit_length()
    diff = F.col("q") - F.col("c")
    return (
        flat.join(F.broadcast(cents), "d")
        .groupBy("vid", "cid")
        .agg(F.sum(diff * diff).alias("dist"))
        .groupBy("vid")
        .agg(
            F.min(F.col("dist") * F.lit(enc) + F.col("cid")).alias("e")
        )
        .select(
            "vid",
            F.expr(f"e % {enc}").alias("cid"),
            F.expr(f"e div {enc}").alias("dist"),
        )
    )


def kmeans_parallel_seeds(
    embs: DataFrame,
    k: int,
    oversample: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    _flat: DataFrame | None = None,
) -> list[tuple[int, int, list[int]]]:
    """Deterministic k-means‖ seeding (Bahmani et al., VLDB 2012, made
    RNG-free): OVERSAMPLE ℓ = oversample·k candidates in one
    distributed top-k (smallest phash60(id) — uniform over the corpus,
    no random state to ship), WEIGHT each candidate by the number of
    corpus vectors it is nearest to (one distributed assignment pass —
    the paper's re-clustering weights), then RE-CLUSTER the tiny
    weighted candidate set driver-side with greedy weighted
    farthest-point (pick argmax w · min-dist²-to-chosen; the
    deterministic stand-in for the paper's weighted k-means++ draw —
    same machinery as ``similarity.farthest_point_seeds``, in this
    module's integer micro-unit discipline instead of float cosine).

    Exact pinned rules (the CPython/DuckDB replays depend on them):
    candidate cids are ranks 0..ℓ−1 in (phash60, vid) order; weights
    come from :func:`_assign` (ties to the lowest cid); the first pick
    is the heaviest candidate (ties to the lowest vid); every later
    pick maximizes ``w · min_{s∈chosen} Σ_d (q_d − s_d)²`` with ties to
    the lowest vid (w and dist² are exact ints — in SQL replays the
    product needs a 128-bit cast). Seed cluster ids are PICK ORDER
    0..k−1. Candidates with weight 0 or distance 0 score 0 and are
    picked last — duplicate seeds then die by the dead-centroid rule,
    stated rather than patched, same as the Lloyd chain.

    Cost: TWO bounded driver actions before the single-action Lloyd
    chain, each running its corpus pass exactly once — the ℓ-row
    candidate checkpoint (one top-ℓ scan; the cut matters because the
    candidate frame feeds two subtrees of the next plan, which would
    otherwise each re-inline the scan) and one ℓ-row collect carrying
    candidates, quantized vectors AND weights together (the corpus-wide
    assignment pass). O(k·dim) bytes collected, corpus-independent.
    Returns ``[(cid, vid, qvec)]``.
    """
    ell = max(k, oversample * k)
    cand = (
        embs.select(
            F.col(id_col).cast("long").alias("vid"),
            phash60(F.col(id_col).cast("string")).alias("ph"),
            F.expr(
                f"transform(CAST({vec_col} AS ARRAY<DOUBLE>),"
                f" x -> CAST(floor((x + {_SHIFT}D) * {_SCALE}.0D)"
                " AS BIGINT))"
            ).alias("qv"),
        )
        .orderBy("ph", "vid")
        .limit(ell)
        .select(
            "vid",
            "qv",
            (F.row_number().over(Window.orderBy("ph", "vid")) - 1)
            .cast("long")
            .alias("cid"),
        )
        # cand feeds TWO subtrees of the collect plan (the weight
        # pass's centroid frame and the final rows join) — without a
        # cut each re-inlines the full corpus top-ℓ scan (code-review
        # r9). ℓ rows: the checkpoint job is one cheap scan; blocks are
        # freed deterministically below.
        .localCheckpoint(eager=True)
    )
    cand_flat = cand.select(
        "cid", F.posexplode("qv").alias("d", "c")
    )
    # _flat: the caller's already-persisted flat frame, so this action
    # WARMS the cache the Lloyd chain then reuses (one corpus pass,
    # not two)
    flat = (
        _flat
        if _flat is not None
        else flatten_quantized(embs, vec_col, id_col)
    )
    w = (
        _assign(flat, cand_flat, ell)
        .groupBy("cid")
        .agg(F.count("*").alias("w"))
    )
    rows = (
        cand.join(w, "cid", "left")
        .select("cid", "vid", "qv", F.coalesce("w", F.lit(0)).alias("w"))
        .collect()
    )
    # free the ℓ-row checkpoint blocks deterministically (never leave a
    # bare localCheckpoint to the async ContextCleaner — CLAUDE.md)
    from etl_python_sqlite_spark.operators.cache import release, tie

    release(tie(cand, cand))
    if len(rows) < k:
        # PRECONDITION (raise, don't degrade): the SQL/CPython replays
        # unroll exactly k greedy picks — a corpus with fewer than k
        # vectors would make them select from empty sets and silently
        # diverge from a min(k, n)-seed Spark run (ADVICE r9). Real
        # callers clustering < k points don't need k-means at all.
        raise ValueError(
            f"kmeans_parallel_seeds: corpus has only {len(rows)} "
            f"vectors but k={k}; the seeding (and its exact replays) "
            "require at least k vectors"
        )
    by_cid = sorted(rows, key=lambda r: int(r["cid"]))
    cands = [(int(r["vid"]), [int(q) for q in r["qv"]]) for r in by_cid]
    weights = [int(r["w"]) for r in by_cid]
    return _greedy_weighted_fp(cands, weights, k)


def _greedy_weighted_fp(
    cands: list[tuple[int, list[int]]], w: list[int], k: int
) -> list[tuple[int, int, list[int]]]:
    """Driver-side weighted farthest-point over ≤ ℓ candidates — pure
    CPython integer arithmetic (arbitrary precision, so w·dist² never
    overflows here; replays must widen)."""
    n = len(cands)
    first = max(range(n), key=lambda i: (w[i], -cands[i][0]))
    chosen = [first]
    # min dist² to the chosen set, per candidate
    mind = [_sqdist(cands[i][1], cands[first][1]) for i in range(n)]
    while len(chosen) < min(k, n):
        nxt = max(
            (i for i in range(n) if i not in chosen),
            key=lambda i: (w[i] * mind[i], -cands[i][0]),
        )
        chosen.append(nxt)
        for i in range(n):
            d2 = _sqdist(cands[i][1], cands[nxt][1])
            if d2 < mind[i]:
                mind[i] = d2
    return [
        (rank, cands[j][0], list(cands[j][1]))
        for rank, j in enumerate(chosen)
    ]


def _sqdist(a: list[int], b: list[int]) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _lloyd_chain(
    embs: DataFrame,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
    n_partitions: int | None,
    seeding: str = "phash",
    seeds: list | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared chain builder: returns ``(flat, cents, final)`` — the
    persisted flat frame, the persisted FINAL centroid frame, and the
    final per-vector assignment (vid, cid, dist). Callers wrap their
    result with ``tie(result, flat, cents)``."""
    flat = flatten_quantized(embs, vec_col, id_col)
    # hash-partition by vec_id ONCE; the assignment windows and update
    # joins reuse the distribution. No eager count: every consumer runs
    # inside the ONE final action (broadcast sub-jobs execute
    # sequentially within it), so there is no concurrent-recompute race
    # for the cache to guard against.
    flat = (
        flat.repartition(n_partitions, "vid")
        if n_partitions
        else flat.repartition("vid")
    ).persist()

    if seeding == "parallel":
        # --- k-means‖: bounded collects up front, then literal k·dim
        # seed centroids ride the same broadcast path; callers may hand
        # in memoized seeds (a deterministic pure function of the
        # table) and skip both collects ------------------------------
        if seeds is None:
            seeds = kmeans_parallel_seeds(
                embs, k, vec_col=vec_col, id_col=id_col, _flat=flat
            )
        cents = embs.sparkSession.createDataFrame(
            [
                (cid, d, q)
                for cid, _, qv in seeds
                for d, q in enumerate(qv)
            ],
            "cid long, d int, c long",
        )
    else:
        # --- seeding: k smallest phash60(id), ranked in-plan ---------
        sr = seed_rank_frame(embs, k, id_col)
        cents = flat.join(F.broadcast(sr), "vid").select(
            "cid", "d", F.col("q").alias("c")
        )

    for _ in range(iters):
        a_t = _assign(flat, cents, k)
        cents = (
            flat.join(a_t.select("vid", "cid"), "vid")  # both hash(vid)
            .groupBy("cid", "d")
            .agg(
                F.expr(
                    "CAST(sum(CAST(q AS DECIMAL(38,0))) div count(*)"
                    " AS BIGINT)"
                ).alias("c")
            )
        )
        # empty clusters simply produce no (cid, d) rows — dropped here,
        # identically on both engines

    # the FINAL centroid frame has two consumers in the one result plan
    # (the assignment broadcast and the l1 checksum aggregate) with
    # different exchange types — without a persist each would re-execute
    # the entire iteration chain. k·dim rows; the broadcast sub-job
    # populates the cache, the l1 scan reads it (persist works across
    # sub-jobs within one action; consumers are sequential, no race).
    cents = cents.persist()
    final = _assign(flat, cents, k)
    return flat, cents, final


def kmeans_lloyd(
    embs: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_partitions: int | None = None,
    seeding: str = "phash",
    seeds: list | None = None,
) -> DataFrame:
    """Run ``iters`` Lloyd updates and return the final per-cluster
    summary:

    ``(cluster, n_vecs, inertia, centroid_l1)`` — cluster = seed rank,
    inertia = Σ min-distance (micro-unit², BIGINT via a decimal
    accumulator), centroid_l1 = Σ_d of the final centroid (an exact
    integer checksum of the centroid the cluster converged to).

    ``seeding``: ``"phash"`` (k smallest phash60 ids — effectively
    uniform-random, zero extra jobs) or ``"parallel"`` (deterministic
    k-means‖, :func:`kmeans_parallel_seeds` — two bounded extra driver
    jobs; well-spread seeds that avoid the collapsed-seed/dead-cluster
    failure mode on skewed corpora). ``seeds``: precomputed
    :func:`kmeans_parallel_seeds` output — seeding is a deterministic
    pure function of the table, so callers may memoize it per
    session+fingerprint and skip the two collects (r11-opt).
    """
    flat, cents, final = _lloyd_chain(
        embs, k, iters, vec_col, id_col, n_partitions, seeding, seeds
    )
    l1 = cents.groupBy("cid").agg(
        F.sum("c").cast("long").alias("centroid_l1")
    )
    result = (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("dist").cast("decimal(38,0)"))
            .cast("long")
            .alias("inertia"),
        )
        .join(l1, "cid")
        .select(
            F.col("cid").alias("cluster"), "n_vecs", "inertia", "centroid_l1"
        )
        .orderBy("cluster")
    )
    return tie(result, flat, cents)
