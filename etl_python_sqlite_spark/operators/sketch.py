"""Mergeable-sketch rollups: HLL distinct counts, KLL quantiles, CMS.

The 100 TB pattern these encode: build small fixed-size sketches once
per fine partition (day, file, shard), PERSIST THE SKETCHES, then answer
any coarser rollup by merging sketches — never rescanning the raw data.
That's what makes incremental / hypertable-style distinct-count and
quantile rollups possible: yesterday's sketch is immutable, today's
batch adds one more, the monthly number is a union of 30 byte arrays.

HLL/KLL are built on Spark 4's native Apache DataSketches expressions
(``hll_sketch_agg`` / ``hll_union_agg`` / ``kll_sketch_*``) — JVM-side,
codegen-friendly, no UDFs. Those estimates are engine-internal (no
DuckDB twin), so their driver check is rows-only; `tests/test_sketch.py`
pins the accuracy contract instead: HLL relative error ≤ the published
bound for the chosen lgK, and two-level merge ≡ one-shot sketch of the
union. The Count-Min sketch below is different: built on the portable
hash family, every cell is replayed bit-for-bit by the DuckDB oracle,
so CMS queries get the full hash-match gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_sketch_by(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """One HLL sketch of ``value_col`` per key — the fine-grained build
    pass. Map-side partial aggregation applies: each task sketches its
    partition locally and the shuffle carries ~(keys × 2^lgK bytes),
    independent of row count."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll_sketch")
    )


def hll_merge_rollup(
    sketches: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Coarser rollup from STORED sketches: union per group, estimate.
    This is the no-rescan path — input is the sketch table, not raw data."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias(
            "distinct_estimate"
        ),
        F.count("*").alias("n_sketches_merged"),
    )


def kll_quantiles_by(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    quantiles: list[float],
    k: int = 200,
) -> DataFrame:
    """Mergeable KLL quantile sketch per key, evaluated at ``quantiles``.
    Same build-once/merge-anywhere property as the HLL path."""
    sk = df.groupBy(*key_cols).agg(
        F.kll_sketch_agg_double(value_col, F.lit(k)).alias("kll")
    )
    def _label(q: float) -> str:
        # full-precision labels: int(q*100) would collide 0.99/0.999
        # into one 'p99' column (review finding) — keep every decimal,
        # '.'→'_' for a valid identifier (0.999 → p99_9)
        s = f"{q * 100:g}".replace(".", "_")
        return f"p{s}"

    labels = [_label(q) for q in quantiles]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantile labels collide: {labels}")
    cols = [
        F.kll_sketch_get_quantile_double("kll", F.lit(q)).alias(lab)
        for q, lab in zip(quantiles, labels)
    ]
    return sk.select(*key_cols, *cols)


def distinct_rollup_with_exact(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Two-level HLL rollup next to the exact answer (for SF-scale
    verification; at warehouse scale you'd drop the exact branch):

    raw → per-``fine_keys`` sketches → union to ``coarse_keys`` →
    estimate, joined with exact COUNT(DISTINCT) per coarse key.
    """
    fine = hll_sketch_by(df, fine_keys, value_col, lgk)
    merged = hll_merge_rollup(fine, coarse_keys)
    exact = df.groupBy(*coarse_keys).agg(
        F.countDistinct(value_col).alias("distinct_exact")
    )
    return merged.join(exact, coarse_keys).select(
        *coarse_keys,
        F.col("distinct_estimate").cast("long").alias("distinct_estimate"),
        "distinct_exact",
        "n_sketches_merged",
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (portable: same cells on Spark and DuckDB)
# ---------------------------------------------------------------------------
#
# Cormode & Muthukrishnan's Count-Min sketch as a RELATIONAL frame of
# (j, bucket, cnt) cells: row j of the sketch maps a key to bucket
# universal_hash_j(phash60(key)) mod width and accumulates its weight.
# Unlike the DataSketches HLL/KLL paths above, every cell is exact
# integer arithmetic both engines replay bit-for-bit
# (functions/portable.py), so CMS pipelines get the FULL hash-match
# oracle, not rows-only.
#
# The 100 TB shape: the sketch is depth × width rows BY CONSTRUCTION —
# independent of corpus cardinality — so it broadcasts at any scale
# (same regime as the Bloom prefilter, operators/bloom.py); builds are
# one map-side-combined groupBy; merges are a union + re-sum, never a
# rescan (the streaming/rollup property that makes per-shard sketches
# composable).

def cms_build(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a Count-Min sketch of ``key_col`` as (j, bucket, cnt) cells.

    ``weight_col`` turns the build into a weighted sketch — pass
    pre-aggregated (key, count) rows to avoid re-hashing every raw
    occurrence when keys repeat heavily (the word-count pattern).

    Each input row contributes to exactly ``depth`` cells, via an
    explode over the per-row (j, bucket) pairs — flat columns + groupBy,
    the repo's approved hot-path shape (no higher-order folds). Missing
    cells (no key hashed there) are implicitly zero; estimators must
    COALESCE. Output is at most depth·width rows.
    """
    from etl_python_sqlite_spark.functions.portable import (
        phash60,
        universal_hash,
        universal_salt_constants,
    )

    consts = universal_salt_constants(depth)
    w = F.lit(1).cast("long") if weight_col is None else F.col(weight_col)
    base = df.select(phash60(F.col(key_col)).alias("h"), w.alias("w"))
    cells = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("j"),
                        (
                            universal_hash(F.col("h"), F.lit(a), F.lit(b))
                            % F.lit(width)
                        ).alias("bucket"),
                    )
                    for s, a, b in consts
                ]
            )
        ).alias("jb"),
        "w",
    )
    return cells.groupBy(
        F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    ).agg(F.sum("w").cast("long").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: the estimate is
    min over rows j of the key's cell — the classic one-sided estimator
    (``cms_est`` ≥ true count, always).

    The sketch side is broadcast: ≤ depth·width rows regardless of what
    was sketched, so the probe side never shuffles.
    """
    from etl_python_sqlite_spark.functions.portable import (
        phash60,
        universal_hash,
        universal_salt_constants,
    )

    consts = universal_salt_constants(depth)
    probes = keys.withColumn("_h", phash60(F.col(key_col))).select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("j"),
                        (
                            universal_hash(F.col("_h"), F.lit(a), F.lit(b))
                            % F.lit(width)
                        ).alias("bucket"),
                    )
                    for s, a, b in consts
                ]
            )
        ).alias("jb"),
    )
    others = [c for c in keys.columns]
    return (
        probes.select(*others, F.col("jb.j").alias("j"),
                      F.col("jb.bucket").alias("bucket"))
        .join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(*others)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta) sketches — r9
# ---------------------------------------------------------------------------

#: KMV hash domain: phash60 is uniform on [0, 2^60).
_KMV_DOMAIN = 1 << 60


def kmv_sketches(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
) -> DataFrame:
    """One KMV (k-minimum-values) sketch per group: the ``k`` smallest
    DISTINCT portable-60-bit hashes of ``value_col`` (Bar-Yossef et al.,
    "Counting distinct elements in a data stream", RANDOM 2002; the
    theta-sketch family). Unlike HLL this sketch supports set
    INTERSECTION estimates (:func:`kmv_pair_overlap`) — the capability
    gap that motivates keeping both.

    Rows out: ``(group, h, rn)`` with rn = 1..k in hash order — plain
    BIGINTs built on the portable hash, so a DuckDB twin replays the
    sketch BIT-FOR-BIT (full hash-match gate, unlike the engine-internal
    HLL bytes). Mergeable: the union sketch of two groups is the k
    smallest of their sketches' union (pinned by the merge-law test).

    Scale shape: the distinct pass compresses to |distinct| rows with
    map-side combine; the per-group top-k is a window over DISTINCT
    hashes — the repo's documented naive selection form, correct until
    one group's distinct count outgrows a task (same adjudication as
    the percentile queries)."""
    from pyspark.sql import Window

    from etl_python_sqlite_spark.functions.portable import phash60

    hashes = df.select(
        F.col(group_col),
        phash60(F.col(value_col).cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(group_col, "h", "rn")
    )


def kmv_pair_overlap(
    sketches: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Distinct / union / intersection estimates for every ORDERED group
    pair (a < b) from stored KMV sketches — no rescan of raw data.

    Exact integer estimator contract (engine-portable, replayed by the
    DuckDB twin):

    * θ(g) = the k-th smallest hash when the sketch is FULL, else the
      domain bound 2^60 (a non-full sketch contains every distinct
      value of its group);
    * distinct(g) = (k−1)·2^60 div θ(g) when full, else |sketch|
      exactly — the classic KMV estimator with floor division;
    * pair intersection: θ = min(θ_a, θ_b); K∩ = |{h in both sketches,
      h < θ}|; inter_est = K∩·2^60 div θ (θ = 2^60 degenerates to the
      exact common count);
    * pair union: the k smallest of the two sketches\' union is itself
      a valid KMV sketch of A∪B — same estimator.

    All products route through DECIMAL(38,0) (k·2^60 overflows BIGINT);
    every comparison and division is integer, so both engines agree
    bit-for-bit. Sketch frames are k·groups rows — tiny; every pair
    join broadcasts. Output: (group_a, group_b, distinct_a, distinct_b,
    union_est, inter_est).
    """
    from pyspark.sql import Window

    def est(theta_col: str, n_col: str):
        return F.when(
            F.col(n_col) >= k,
            F.expr(
                f"CAST(({k - 1} * CAST({_KMV_DOMAIN} AS DECIMAL(38,0)))"
                f" div {theta_col} AS BIGINT)"
            ),
        ).otherwise(F.col(n_col).cast("long"))

    gstats = (
        sketches.groupBy(group_col)
        .agg(
            F.count("*").alias("n"),
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("tf"),
        )
        .select(
            F.col(group_col).alias("g"),
            F.when(F.col("n") >= k, F.col("tf"))
            .otherwise(F.lit(_KMV_DOMAIN))
            .alias("theta"),
            est("tf", "n").alias("distinct_est"),
        )
    )
    pairs = (
        gstats.select(
            F.col("g").alias("ga"),
            F.col("theta").alias("ta"),
            F.col("distinct_est").alias("distinct_a"),
        )
        .join(
            F.broadcast(
                gstats.select(
                    F.col("g").alias("gb"),
                    F.col("theta").alias("tb"),
                    F.col("distinct_est").alias("distinct_b"),
                )
            ),
            F.col("ga") < F.col("gb"),
        )
    )
    sa = sketches.select(F.col(group_col).alias("ga"), "h")
    sb = sketches.select(F.col(group_col).alias("gb"), "h")

    # intersection: common hashes below the pair θ
    inter_cnt = (
        sa.join(sb, "h")
        .filter(F.col("ga") < F.col("gb"))
        .join(
            F.broadcast(pairs.select("ga", "gb", "ta", "tb")),
            ["ga", "gb"],
        )
        .filter(F.col("h") < F.least("ta", "tb"))
        .groupBy("ga", "gb")
        .agg(F.count("*").alias("k_inter"))
    )

    # union sketch per pair: k smallest of the merged distinct hashes
    pair_keys = pairs.select("ga", "gb")
    u_rows = (
        pair_keys.join(sa, "ga")
        .select("ga", "gb", "h")
        .unionByName(pair_keys.join(sb, "gb").select("ga", "gb", "h"))
        .distinct()
    )
    wu = Window.partitionBy("ga", "gb").orderBy("h")
    u_stats = (
        u_rows.withColumn("urn", F.row_number().over(wu))
        .filter(F.col("urn") <= k)
        .groupBy("ga", "gb")
        .agg(
            F.count("*").alias("un"),
            F.max(F.when(F.col("urn") == k, F.col("h"))).alias("utf"),
        )
        .select("ga", "gb", "un", "utf", est("utf", "un").alias("union_est"))
    )

    return (
        pairs.join(F.broadcast(u_stats.select("ga", "gb", "union_est")), ["ga", "gb"])
        .join(F.broadcast(inter_cnt), ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            "distinct_a",
            "distinct_b",
            "union_est",
            F.expr(
                f"CAST((COALESCE(k_inter, 0)"
                f" * CAST({_KMV_DOMAIN} AS DECIMAL(38,0)))"
                " div least(ta, tb) AS BIGINT)"
            ).alias("inter_est"),
        )
        .withColumnRenamed("ga", "group_a")
        .withColumnRenamed("gb", "group_b")
    )
