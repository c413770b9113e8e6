"""Similarity search over embedding columns (EXT, SURVEY §2.7 E3).

Embeddings are ``array<float>`` columns. All math runs as JVM array
expressions (``zip_with`` + ``aggregate``) in double precision with
strict left-to-right summation — deterministic and replayable by the
DuckDB oracle (same sequential fold order).

Scale design:

* brute-force top-k: one narrow pass computing the score + one top-k.
  For a single query vector the global top-k uses a tree-reduce style
  ``orderBy().limit(k)`` which Spark executes as per-partition top-k +
  driver merge (TakeOrderedAndProject) — no full sort, no shuffle of the
  corpus.
* ANN via sign-LSH: 16 deterministic hyperplanes (integer-hash-derived
  pseudo-random components) → 16-bit bucket; queries probe their bucket
  (and optionally neighboring buckets by Hamming distance). The bucket
  assignment is one narrow pass and the per-bucket search touches
  ~corpus/2^16 of the data; bucket ids are uniform (no skew).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — strict left-to-right double fold (portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k for one query vector.

    Output: (id, cos_sim rounded to 6) ordered by (rounded sim desc, id) —
    rounding before ranking makes the ordering stable across engines
    whose last-ulp doubles could otherwise disagree at rank boundaries.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = _as_double_array(vec_col)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(emb, q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# sign-LSH ANN
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: components from a
    fixed integer hash (no RNG state; same on every executor/run)."""
    # splitmix64-ish integer scramble, mapped to [-1, 1)
    comps = []
    for j in range(dim):
        z = (plane * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        comps.append((z / 2**63) - 1.0)
    return comps


def _hyperplane_matrix(dim: int, planes: int):
    """dim × planes hyperplane matrix (numpy) for the vectorized path."""
    return np.array([_hyperplane(dim, i + 1) for i in range(planes)]).T


def lsh_bucket_vectorized(vec_col: str, dim: int, planes: int = 8):
    """Arrow-batched sign-LSH bucket assignment: one numpy matmul per
    batch instead of ``planes`` interpreted fold expressions per row —
    measured ~3× faster end-to-end with identical buckets."""
    from pyspark.sql.functions import pandas_udf

    H = _hyperplane_matrix(dim, planes)
    weights = 1 << np.arange(planes)

    @pandas_udf("long")
    def _bucket(s: pd.Series) -> pd.Series:
        M = np.vstack(s.to_numpy())
        bits = (M @ H) >= 0
        return pd.Series((bits * weights).sum(axis=1).astype("int64"))

    return _bucket(_as_double_array(vec_col))


def lsh_probe_buckets_vectorized(
    vec_col: str, dim: int, planes: int, n_probes: int
):
    """Query-directed multiprobe bucket list per vector (Lv et al.,
    "Multi-Probe LSH", VLDB 2007, applied to sign-LSH): returns an
    ``array<long>`` whose first element is the HOME bucket and whose
    remaining ``n_probes`` elements are the buckets reached by flipping
    the sign bits with the SMALLEST projection margins — the planes the
    vector sits closest to, i.e. exactly the ones a true near neighbor
    is most likely to disagree on. Blind Hamming-1 probing (the r5–r6
    shape) spends probes on high-margin planes that almost never
    separate neighbors; margin-ordered subset probing keeps recall flat
    as ``adaptive_planes`` grows with the corpus (measured in
    BASELINE.md r7: blind probes decayed 54% → 18% recall from 2 k →
    32 k vectors at equal probe count; margin-directed holds ≥ 60%).

    Probe order: all subsets of the ``m`` lowest-margin planes (pool
    sized to the probe budget: ``m = min(planes, max(5,
    bit_length(n_probes)))``), ranked by the sum of squared margins of
    the flipped set (the query-directed score), truncated to
    ``n_probes``. One numpy pass per Arrow batch — (batch × 2^m) score
    matrix, no Python loop over rows.

    r7 measurements (rotated-replication probe, 100-query 3-NN recall):
    32 k vectors / 8 planes — 16 probes 0.30, 24 → 0.42, 32 → 0.52,
    48 → 0.58, 64 → 0.67, 96 → 0.78; 2 k vectors / 4 planes — 8 probes
    0.77; 500 vectors (gate scale) 1.00. The planes² default lands
    0.67 at the largest measured scale — 2.0× the ⅓ audit floor.
    """
    from pyspark.sql.functions import pandas_udf

    H = _hyperplane_matrix(dim, planes)
    weights = 1 << np.arange(planes)
    m = min(planes, max(5, int(n_probes).bit_length()))
    # subset masks over the m margin-sorted slots, excluding the empty
    # set (that's home); shape (2^m - 1, m)
    subs = np.array(
        [[(s >> j) & 1 for j in range(m)] for s in range(1, 1 << m)],
        dtype=np.int64,
    )
    take = min(n_probes, len(subs))

    @pandas_udf("array<long>")
    def _probes(s: pd.Series) -> pd.Series:
        M = np.vstack(s.to_numpy())
        proj = M @ H
        bits = proj >= 0
        home = (bits * weights).sum(axis=1).astype("int64")
        order = np.argsort(np.abs(proj), axis=1)[:, :m]  # smallest margins
        mg2 = np.take_along_axis(np.abs(proj), order, axis=1) ** 2
        scores = mg2 @ subs.T  # (batch, 2^m-1) flipped-margin energy
        bitvals = weights[order]  # (batch, m) per-row plane bit values
        masks = bitvals @ subs.T  # (batch, 2^m-1) XOR masks
        pick = np.argsort(scores, axis=1, kind="stable")[:, :take]
        flips = np.take_along_axis(masks, pick, axis=1)
        out = np.concatenate([home[:, None], home[:, None] ^ flips], axis=1)
        return pd.Series(list(out))

    return _probes(_as_double_array(vec_col))


def _probe_buckets_of(
    vec: list[float], dim: int, planes: int, n_probes: int
) -> list[int]:
    """Driver-side margin-directed probe list for ONE query vector —
    the same query-directed subset order as
    :func:`lsh_probe_buckets_vectorized` (home first, then flips of the
    lowest-|projection| plane subsets ranked by flipped-margin energy),
    so a single-query probe never disagrees with the join's."""
    H = _hyperplane_matrix(dim, planes)
    proj = np.asarray(vec, dtype=float) @ H
    bits = proj >= 0
    home = int((bits * (1 << np.arange(planes))).sum())
    m = min(planes, max(5, int(n_probes).bit_length()))
    subs = np.array(
        [[(s >> j) & 1 for j in range(m)] for s in range(1, 1 << m)],
        dtype=np.int64,
    )
    order = np.argsort(np.abs(proj))[:m]
    mg2 = np.abs(proj)[order] ** 2
    scores = subs @ mg2
    masks = subs @ (1 << order.astype(np.int64))
    pick = np.argsort(scores, kind="stable")[: min(n_probes, len(subs))]
    return [home] + [int(home ^ masks[i]) for i in pick]


def ann_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dim: int | None = None,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probes: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's home bucket
    plus its ``n_probes`` (default ``planes`` — cost parity with the
    old blind Hamming-1 ring, strictly better bucket choice) margin-
    directed probe buckets, then exact cosine on that candidate slice
    (r7: the same Multi-Probe-LSH upgrade as the kNN join).

    At 100 TB the bucket column is precomputed/persisted and the probe is
    a partition-pruned scan; here it's computed inline (vectorized UDF).
    """
    dim = dim or len(query_vec)
    bucketed = df.select(
        F.col(id_col),
        _as_double_array(vec_col).alias("v"),
        lsh_bucket_vectorized(vec_col, dim, planes).alias("bucket"),
    )

    probe = _probe_buckets_of(
        query_vec, dim, planes, n_probes if n_probes is not None else planes
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), F.round(cosine(F.col("v"), q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def lsh_buckets_multitable(vec_col: str, dim: int, planes: int, n_tables: int):
    """Arrow-batched bucket assignment for ``n_tables`` independent sign-LSH
    tables in ONE numpy matmul per batch (dim × tables·planes hyperplane
    matrix). Table 0 uses the same hyperplanes as the single-table
    :func:`lsh_bucket_vectorized`, so legacy buckets are its prefix."""
    from pyspark.sql.functions import pandas_udf

    H = np.hstack(
        [
            np.array(
                [_hyperplane(dim, t * planes + i + 1) for i in range(planes)]
            ).T
            for t in range(n_tables)
        ]
    )
    weights = 1 << np.arange(planes)

    @pandas_udf("array<long>")
    def _buckets(s: pd.Series) -> pd.Series:
        M = np.vstack(s.to_numpy())
        bits = (M @ H) >= 0
        per_table = bits.reshape(len(M), n_tables, planes)
        vals = (per_table * weights).sum(axis=2).astype("int64")
        return pd.Series(list(vals))

    return _buckets(_as_double_array(vec_col))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    planes: int | None = None,
    n_tables: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_bucket_rows: int = 128,
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors: multi-table sign-LSH candidate generation +
    exact cosine verification, all pair work vectorized per bucket.

    Recall SLO (analytic, tested by ``test_embedding_near_dup_recall``):
    a pair at cosine θ collides in one table with probability
    p(θ)^planes where p(θ) = 1 − arccos(θ)/π; with L independent tables
    the candidate recall is 1 − (1 − p^planes)^L. At θ = 0.9 this gives
    0.95 for (planes=6, L=6) and 0.99 for the adaptive sf0.1 setting
    (planes=4, L=6). The r1 single-table planes=6 ran at ~0.39 — the
    multi-table union is what makes the operator SLO-grade.

    Scale design: expected bucket occupancy is held ~constant by
    :func:`adaptive_planes`, so per-table pair work is O(n·occupancy),
    ×L tables. Within-bucket scoring is a numpy matmul inside one
    ``applyInPandas`` per (table, bucket) group — candidate pairs never
    materialize as shuffled rows; only verified pairs (cos ≥ threshold)
    leave the group. Cross-table duplicates are removed by a final
    ``distinct()`` on the (id_a, id_b, cos_sim) rows, which is exact
    because every table computes bit-identical rounded doubles.
    """
    if n_rows is None or dim is None:
        # callers reading a plain parquet table pass n_rows/dim from
        # footer metadata instead of this distributed probe (r12-opt)
        stats = df.select(
            F.count(F.lit(1)).alias("n"),
            F.first(F.size(F.col(vec_col))).alias("dim"),
        ).first()
        n_rows, dim = int(stats["n"]), stats["dim"]
    if n_rows == 0 or not dim:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cos_sim double")
    if planes is None:
        planes = adaptive_planes(n_rows, target_bucket_rows)

    bucketed = df.select(
        F.col(id_col).cast("long").alias("vid"),
        _as_double_array(vec_col).alias("v"),
        lsh_buckets_multitable(vec_col, dim, planes, n_tables).alias("buckets"),
    )
    rep = bucketed.select(
        "vid", "v", F.posexplode("buckets").alias("t", "bucket")
    )

    thr = float(threshold)

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf["vid"].to_numpy()
        V = np.vstack(pdf["v"].to_numpy())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        sims = np.round(Vn @ Vn.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= thr
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, jb), np.maximum(ia, jb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims[iu[keep], ju[keep]]})

    # dedup cross-table repeats on the PAIR KEY only, taking max(cos_sim):
    # the same pair scored in two buckets goes through two differently-
    # shaped BLAS matmuls, whose last-ulp results are NOT guaranteed
    # bit-identical — a .distinct() over (id_a, id_b, cos_sim) could then
    # emit the pair twice with two 6dp values (review finding)
    return (
        rep.groupBy("t", "bucket")
        .applyInPandas(_bucket_pairs, schema="id_a long, id_b long, cos_sim double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def cosine_pairs_sample_scored(
    df: DataFrame,
    max_id: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ALL pairwise rounded cosines on a bounded id-range sample —
    (id_a, id_b, cos_sim), id_a < id_b, no threshold. Callers that
    need several thresholds over the same sample filter THIS frame
    instead of paying one fold scan per threshold (r11-opt: the
    SemDeDup audits ran three such scans per query). The pair-stream
    side is repartitioned to the executor cores: the nested-loop join's
    parallelism is the stream side's partition count, and a ≤200-row
    sample otherwise computes every fold in one task (the
    hard-negative-mining lesson)."""
    sub = df.filter(F.col(id_col) < max_id)
    a = sub.select(
        F.col(id_col).alias("id_a"), _as_double_array(vec_col).alias("va")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    b = sub.select(F.col(id_col).alias("id_b"), _as_double_array(vec_col).alias("vb"))
    return a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
    )


def cosine_pairs_sample(
    df: DataFrame,
    max_id: int = 100,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact pairwise cosine on a bounded id-range sample (oracle-friendly
    ground truth for the ANN variants)."""
    return cosine_pairs_sample_scored(df, max_id, vec_col, id_col).filter(
        F.col("cos_sim") >= threshold
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + probed partitions
# ---------------------------------------------------------------------------

def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max dot product).

    Vectorized: one Arrow-batched numpy argmax over the (tiny) codebook
    matrix — same pattern as ``lsh_bucket_vectorized``. At warehouse
    scale the assignment is precomputed once and the table is
    PARTITIONED BY (centroid_id) — probing then prunes partitions.
    """
    from pyspark.sql.functions import pandas_udf

    cids = np.array([cid for cid, _ in centroids])
    C = np.array([c for _, c in centroids]).T  # dim × n_centroids

    @pandas_udf("int")
    def _nearest(s: pd.Series) -> pd.Series:
        M = np.vstack(s.to_numpy())
        return pd.Series(cids[(M @ C).argmax(axis=1)].astype("int32"))

    emb = _as_double_array(vec_col)
    return df.select(
        F.col(id_col), emb.alias("v"), _nearest(emb).alias("centroid_id")
    )


def deterministic_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic codebook: the ``n_centroids`` lowest-id vectors.

    A k-means refinement would improve balance; for a reproducible
    engine-level operator the fixed seed set is the point (no RNG state),
    and the IVF machinery is identical either way.
    """
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    return [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(rows)]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: score only vectors whose centroid is among the query's
    ``n_probe`` nearest centroids — the classic recall/cost dial
    (n_probe = n_centroids ⇒ exact brute force)."""
    cents = deterministic_centroids(df, n_centroids, vec_col, id_col)

    def _np_dot(a: list[float], b: list[float]) -> float:
        return sum(x * y for x, y in zip(a, b))

    probe = [
        cid
        for cid, _ in sorted(
            cents, key=lambda c: -(_np_dot(query_vec, c[1]))
        )[:n_probe]
    ]
    assigned = ivf_assign(df, cents, vec_col, id_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.filter(F.col("centroid_id").isin(probe))
        .select(F.col(id_col), F.round(cosine(F.col("v"), q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def adaptive_planes(
    n_rows: int,
    target_bucket_rows: int = 128,
    min_planes: int = 2,
    max_planes: int = 24,
) -> int:
    """Plane count giving ~``target_bucket_rows`` expected rows per sign-LSH
    bucket: ``planes = log2(n / target)``, clamped. Keeping expected bucket
    occupancy *constant* makes the within-bucket pair work O(n·occupancy)
    instead of O(n²/2^planes_fixed) — the property that survives a 100×
    corpus scale-up (VERDICT r1 flagged the fixed planes=6 as quadratic)."""
    import math

    if n_rows <= target_bucket_rows:
        return min_planes
    return max(min_planes, min(max_planes, math.ceil(math.log2(n_rows / target_bucket_rows))))


def ann_knn_join_lsh(
    df: DataFrame,
    k: int = 5,
    planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_bucket_rows: int = 128,
    max_candidates_per_bucket: int = 4096,
    corpus_count: int | None = None,
    n_probes: int | None = None,
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate kNN JOIN: every vector's top-k cosine neighbors found by
    sign-LSH bucketing + per-bucket vectorized scoring.

    Scale design (this replaced a pair-explosion join that was 74% of the
    r1 bench wall):

    * ``planes`` defaults to :func:`adaptive_planes` from the corpus count,
      so expected bucket occupancy stays ~``target_bucket_rows`` at any
      scale — total multiply-adds grow O(n·occupancy·dim), not O(n²).
    * Multi-probe on the *probe* side only: each vector is replicated as
      a query into ``n_probes`` (default ``planes²`` — polylog(n) given
      adaptive planes; for ``planes < 5`` the enumerable subset list is
      only ``2^planes − 1`` entries, shorter than requested, and is used
      whole) extra buckets chosen by MARGIN-DIRECTED subset flipping
      (lsh_probe_buckets_vectorized — the Multi-Probe-LSH idea, r7:
      blind Hamming-1 recall decayed 54%→18% from 2k→32k vectors;
      margin-directed stays ≥60% flat); bucket *candidates* are only the
      home rows. A (query, candidate) pair is seen in exactly one group
      (the candidate's unique home bucket), so no dedup pass is needed,
      and group sizes are (n_probes+2)×occupancy, not occupancy².
    * Pairs never materialize as shuffled rows: one ``applyInPandas`` per
      bucket computes the normalized numpy matmul and emits only each
      query's local top-k — the merge shuffle carries ≤ (n_probes+1)·k
      rows per vector (one local list per probed bucket).
    * ``max_candidates_per_bucket`` caps adversarially skewed buckets
      (e.g. a constant embedding column); the cap keeps the lowest-id
      candidates, deterministically. At the default it only engages at
      ≥32× the target occupancy.

    Output: (id_a, id_b, cos_sim, rk) — id columns must be integral
    (LongType), which matches the ``embeddings.vec_id`` contract.
    """
    stats = df.select(
        F.count(F.lit(1)).alias("n"), F.first(F.size(F.col(vec_col))).alias("dim")
    ).first()
    n_rows, dim = int(stats["n"]), stats["dim"]
    out_schema = "id_a long, id_b long, cos_sim double"
    if n_rows == 0 or not dim:
        empty = df.sparkSession.createDataFrame([], out_schema)
        return empty.withColumn("rk", F.lit(1))
    if planes is None:
        planes = adaptive_planes(corpus_count or n_rows, target_bucket_rows)
    if n_probes is None:
        # planes² = log²(n/occupancy): polylog probe growth holds recall
        # roughly flat as adaptive_planes tracks the corpus (r7 probe:
        # 0.77 @ 2k/4 planes/16, 0.67 @ 32k/8 planes/64 — vs the old
        # blind-Hamming-1 decay 0.54 → 0.18), at polylog(n) extra
        # candidate work per query — the recall/cost knob callers tune.
        n_probes = planes * planes

    # one exploded frame: element 0 is the HOME copy (candidate +
    # query); the rest are margin-directed probe copies (query only).
    # Probe volume is n_probes per query (planes² by default — polylog
    # in n under adaptive planes), targeting the subsets a true
    # neighbor actually falls into — see lsh_probe_buckets_vectorized.
    bucketed = df.select(
        F.col(id_col).cast("long").alias("vid"),
        _as_double_array(vec_col).alias("v"),
        lsh_probe_buckets_vectorized(vec_col, dim, planes, n_probes).alias(
            "probes"
        ),
    )
    rep = bucketed.select(
        "vid", "v", F.posexplode("probes").alias("pn", "g")
    ).select("vid", "v", "g", (F.col("pn") == 0).alias("is_home"))

    cap = max_candidates_per_bucket

    def _local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        home = pdf[pdf["is_home"].to_numpy()]
        if len(home) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if len(home) > cap:
            home = home.sort_values("vid").head(cap)
        ids_c = home["vid"].to_numpy()
        C = np.vstack(home["v"].to_numpy())
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        ids_q = pdf["vid"].to_numpy()
        Q = np.vstack(pdf["v"].to_numpy())
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        sims = np.round(Qn @ Cn.T, 6)
        out_a, out_b, out_s = [], [], []
        kk = min(k, len(ids_c))
        for i in range(len(ids_q)):
            order = np.lexsort((ids_c, -sims[i]))  # sim desc, id asc
            taken = 0
            for j in order:
                if ids_c[j] == ids_q[i]:
                    continue
                out_a.append(ids_q[i])
                out_b.append(ids_c[j])
                out_s.append(sims[i, j])
                taken += 1
                if taken >= kk:
                    break
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos_sim": out_s})

    local = rep.groupBy("g").applyInPandas(_local_topk, schema=out_schema)
    # merge the ≤(planes+1) per-bucket top-k lists into the global top-k
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    return (
        local.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "id_b", "cos_sim", "rk")
    )


def label_centroid_quality_exactable(
    embs: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding quality — each member's cosine to its label
    centroid — made cross-engine exact by two identities that remove
    every order-dependent float reduction:

    * cosine is invariant to positive scaling of either argument, so the
      cosine to the centroid (mean vector) equals the cosine to the
      per-label SUM vector — and the sum of per-element
      ``floor(x·10⁶)`` longs is integer-exact and order-independent on
      any engine (the repo's micro-quantization discipline), where a
      float mean is not. The ≤1e-6 quantization of each coordinate
      perturbs the cosine by O(1e-6/‖c‖) — below the 6-decimal output
      rounding for these unit-scale embeddings.
    * the remaining per-ROW dot/norm folds are sequential left-to-right
      double additions, which Spark's ``aggregate`` HOF and DuckDB's
      ``list_reduce`` evaluate identically (the ext_cosine_* oracles
      already pin this).

    The cross-member mean is emitted as ``sum_cos_micro`` (Σ floor(cos·10⁶),
    a BIGINT) rather than a rounded float average; ``min_cos`` is safe as
    a rounded double because MIN is order-insensitive.
    Output: (label, n_members, sum_cos_micro, min_cos).
    """
    v = _as_double_array(vec_col)
    exploded = embs.select(
        F.col(label_col).alias("label"), F.posexplode(v).alias("pos", "x")
    )
    centroids = (
        exploded.groupBy("label", "pos")
        .agg(F.sum(F.floor(F.col("x") * 1000000)).alias("c"))
        .groupBy("label")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label",
            F.transform(F.col("pc.c"), lambda x: x.cast("double")).alias(
                "centroid"
            ),
        )
    )
    scored = (
        embs.select(F.col(label_col).alias("label"), v.alias("v"))
        .join(F.broadcast(centroids), "label")
        .select(
            "label",
            cosine(F.col("v"), F.col("centroid")).alias("cos_to_centroid"),
        )
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.floor(F.col("cos_to_centroid") * 1000000))
            .cast("long")
            .alias("sum_cos_micro"),
            F.round(F.min("cos_to_centroid"), 6).alias("min_cos"),
        )
        .orderBy("label")
    )


def _lloyd_refine_centroids(
    assigned: DataFrame, centroids: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """One Lloyd iteration with ORDER-INDEPENDENT centroid math: the new
    centroid for each cluster is the per-dimension sum of
    ``floor(x·10^6)`` as BIGINT — exact integer aggregation, so the
    result is identical for any partitioning/merge order (a float mean
    would depend on partial-sum order). Cosine assignment only needs the
    centroid DIRECTION, and the quantized sum is a scale multiple of the
    quantized mean — the same trick as ``label_centroid_quality_exactable``.
    Empty clusters keep their previous centroid. The per-cluster sums
    are k×dim rows — trivially collectable at any corpus size."""
    sums = (
        assigned.select(
            "centroid_id", F.posexplode("v").alias("pos", "x")
        )
        .groupBy("centroid_id", "pos")
        .agg(F.sum(F.floor(F.col("x") * 1000000)).cast("long").alias("s"))
        .collect()
    )
    dim = len(centroids[0][1])
    acc: dict[int, list[float]] = {}
    for r in sums:
        acc.setdefault(r["centroid_id"], [0.0] * dim)[r["pos"]] = float(r["s"])
    out = []
    for cid, old in centroids:
        vec = acc.get(cid)
        if vec is None or not any(vec):
            vec = old
        out.append((cid, vec))
    return out


def _unit(vecs: list[tuple[int, list[float]]]) -> list[tuple[int, list[float]]]:
    out = []
    for cid, v in vecs:
        n = float(np.linalg.norm(v))
        out.append((cid, [x / n for x in v] if n > 0 else v))
    return out


def semantic_centroids(
    df: DataFrame,
    n_clusters: int = 16,
    refine_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """The deterministic codebook of :func:`semantic_assign` WITHOUT the
    final assignment pass: farthest-point seeds, then ``refine_iters``
    Lloyd refinements (each one Arrow assignment pass + an
    order-independent integer-quantized refine collect). A pure
    function of the input frame — r11-opt: the plans layer memoizes it
    per session+fingerprint so repeated query invocations skip the
    seeding/refine jobs and pay only the final assignment."""
    cents = _unit(farthest_point_seeds(df, n_clusters, vec_col, id_col))
    for _ in range(refine_iters if cents else 0):
        # persist each iteration's assignment: the refine collect
        # otherwise re-runs the full Arrow assignment scan
        assigned = ivf_assign(df, cents, vec_col, id_col).persist()
        cents = _unit(_lloyd_refine_centroids(assigned, cents))
        assigned.unpersist()
    return cents


def semantic_assign(
    df: DataFrame,
    n_clusters: int = 16,
    refine_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: list | None = None,
) -> DataFrame:
    """Deterministic k-clustering of the embedding space (codebook =
    lowest-id seeds, Lloyd refinement on integer-quantized sums, cosine
    argmax assignment). Returns (id, v, centroid_id). ``cents``:
    precomputed :func:`semantic_centroids` output (callers may memoize
    it — the codebook is deterministic)."""
    if cents is None:
        cents = semantic_centroids(
            df, n_clusters, refine_iters, vec_col, id_col
        )
    if not cents:  # empty corpus — empty assignment, correct schema
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, v array<double>, centroid_id int"
        )
    return ivf_assign(df, cents, vec_col, id_col)


def farthest_point_seeds(
    df: DataFrame,
    n_clusters: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
) -> list[tuple[int, list[float]]]:
    """Deterministic well-spread codebook: ONE scan takes a hash-ordered
    sample (lowest ``xxhash64(id)`` — uniform over the corpus, no RNG
    state to ship), then greedy farthest-point traversal in cosine
    distance runs driver-side on the tiny sample. Lowest-id seeding
    (``deterministic_centroids``) is degenerate when low ids are
    spatially clustered — every seed lands in one region and Lloyd
    cannot un-collapse them; farthest-point is the standard fix
    (Gonzalez 1985) and the sample-then-seed shape is how k-means‖
    (Bahmani et al., VLDB 2012) makes it one-pass at scale."""
    rows = (
        df.select(
            F.col(id_col).alias("i"),
            _as_double_array(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "i")
        .limit(sample_size)
        .collect()
    )
    if not rows:
        return []
    ids = [int(r["i"]) for r in rows]
    V = np.vstack([r["v"] for r in rows])
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    chosen = [0]  # first sample row (lowest hash) — deterministic
    best_sim = Vn @ Vn[0]  # similarity to nearest chosen seed, per row
    while len(chosen) < min(n_clusters, len(ids)):
        nxt = int(np.argmin(best_sim))  # farthest in cosine distance
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, Vn @ Vn[nxt])
    return [
        (k, [float(x) for x in V[j]]) for k, j in enumerate(chosen)
    ]


def semantic_dedup_pairs_from_assignment(
    assigned: DataFrame, threshold: float = 0.9, id_col: str = "vec_id"
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023) over a precomputed
    ``semantic_assign`` frame: search for near-duplicate pairs ONLY
    within each cluster — O(n·cluster_size) exact pair work instead of
    O(n²). Returns (cluster_id, id_a, id_b, cos_sim) with id_a < id_b and
    cos_sim ≥ threshold (rounded to 6dp); the keep-lowest-id rule makes
    ``id_b`` the drop candidate.

    Scale shape: the per-cluster pair search is a numpy matmul inside
    ``applyInPandas`` — the same verified-pairs-only output contract as
    ``embedding_near_dup_pairs``. At warehouse scale the cluster column
    doubles as the partition key (each cluster's pair scan is an
    independent partition-pruned job; oversized clusters would be
    sub-bucketed by sign-LSH within the cluster)."""
    thr = float(threshold)

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cluster_id": [], "id_a": [], "id_b": [], "cos_sim": []}
            )
        ids = pdf["vid"].to_numpy()
        V = np.vstack(pdf["v"].to_numpy())
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        sims = np.round(Vn @ Vn.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= thr
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, jb), np.maximum(ia, jb)
        return pd.DataFrame(
            {
                "cluster_id": np.full(keep.sum(), pdf["centroid_id"].iloc[0]),
                "id_a": lo,
                "id_b": hi,
                "cos_sim": sims[iu[keep], ju[keep]],
            }
        )

    return (
        assigned.select(
            F.col(id_col).cast("long").alias("vid"), "v", "centroid_id"
        )
        .groupBy("centroid_id")
        .applyInPandas(
            _cluster_pairs,
            schema="cluster_id int, id_a long, id_b long, cos_sim double",
        )
    )


# ---------------------------------------------------------------------------
# semantic (embedding-space) benchmark-contamination scan (r10)
# ---------------------------------------------------------------------------

def semantic_contamination_pairs_from_assignment(
    assigned: DataFrame, threshold: float = 0.9, id_col: str = "vec_id"
) -> DataFrame:
    """Cross-side within-cluster exhaustive similarity search over a
    precomputed cluster assignment carrying a ``side`` column
    (0 = corpus, 1 = benchmark). Returns every (corpus, benchmark)
    pair with rounded cosine ≥ ``threshold`` —
    (corpus_id, bench_id, cos_sim).

    The SemDeDup blocking argument applies unchanged: clustering makes
    the search corpus·benchmark-subquadratic (only co-clustered
    cross-side pairs are examined) and can only MISS pairs whose two
    vectors straddle clusters, never invent them — the audit booleans
    in plans/ext.ext_semantic_contamination pin both directions on a
    bounded sample."""
    thr = float(threshold)

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if not len(c) or not len(b):
            return pd.DataFrame(
                {"corpus_id": [], "bench_id": [], "cos_sim": []}
            ).astype({"corpus_id": "int64", "bench_id": "int64",
                      "cos_sim": "float64"})
        C = np.vstack(c["v"].to_numpy())
        B = np.vstack(b["v"].to_numpy())
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        sims = np.round(Cn @ Bn.T, 6)
        ci, bj = np.nonzero(sims >= thr)
        return pd.DataFrame(
            {
                "corpus_id": c["vid"].to_numpy()[ci],
                "bench_id": b["vid"].to_numpy()[bj],
                "cos_sim": sims[ci, bj],
            }
        )

    return (
        assigned.select(
            F.col(id_col).cast("long").alias("vid"),
            "v",
            "side",
            "centroid_id",
        )
        .groupBy("centroid_id")
        .applyInPandas(
            _cluster_pairs,
            schema="corpus_id long, bench_id long, cos_sim double",
        )
    )
