"""Graph operators over edge frames: connected components (the final
step of corpus dedup), integer-exact PageRank and triangle counts.

Pairwise near-dup output (MinHash/SimHash/Jaccard pairs) is not yet a
dedup decision: A~B and B~C must collapse into one {A,B,C} cluster even
when A~C was never emitted. That transitive closure is connected
components on the pair graph.

Each operator has one execution path. Connected components and PageRank
run one single-task kernel (``coalesce(1)`` into a union-find or a numpy
loop) inside the caller's action; triangle counts run one broadcast
adjacency-intersect plan. At the sizes this engine reaches, a fixed
per-job cost dominates, so one task beats iterative rounds of Spark
jobs. The distributed tiers these operators used to switch to above a
size gate (large-star/small-star rounds, Pregel loops with broadcast or
shuffled ranks, a shuffled wedge self-join) lost on every input timed
on a 4-core box, up to 10M (components), 11.96M (PageRank) and 28.7M
(triangles) edges; they come back from git history only with a
measured win at a reachable scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators.cache import tie


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (u, v), self-loops dropped."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return e.filter(F.col("u") != F.col("v")).distinct()


def _local_components(edges: DataFrame) -> DataFrame:
    """Union-find over the whole edge set as a single Arrow-batched
    task (``coalesce(1).mapInPandas`` — executor-side, no driver
    collect): O(E α(E)) in one pass."""
    id_type = dict(edges.dtypes)["u"]

    def finish(batches):
        import pandas as pd

        par: dict = {}

        def find(x):
            while par.setdefault(x, x) != x:
                par[x] = par[par[x]]
                x = par[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["u"], pdf["v"]):
                ra, rb = find(a), find(b)
                if ra != rb:
                    par[max(ra, rb)] = min(ra, rb)
        nodes = list(par)
        yield pd.DataFrame(
            {"id": nodes, "component": [find(x) for x in nodes]}
        )

    return edges.coalesce(1).mapInPandas(
        finish, schema=f"id {id_type}, component {id_type}"
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id of its connected component.

    The distinct undirected edges go through one union-find task
    (``_local_components``), inside the caller's own action: no persist
    and no count job. Measured on a 4-core box, it beat the alternating
    large-star/small-star rounds this operator used to run above 2M
    edges on every input timed, up to 10M random edges over 10M ids
    (see ``CHANGES.md``)."""
    return _local_components(_canonical_edges(edges, src, dst))


def dedup_cluster_assignment(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Every node's dedup verdict: (id_col, cluster_id, cluster_size).

    ``cluster_id`` is the minimum doc id of the near-dup cluster (nodes
    without any edge are their own singleton cluster); keeping rows
    where ``doc_id == cluster_id`` is the canonical-document selection —
    deterministic, no ordering dependence, replayable in plain SQL.
    """
    from pyspark.sql import Window

    comp = connected_components(edges, src, dst)
    assigned = nodes.select(id_col).join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    )
    labeled = assigned.select(
        id_col, F.coalesce("component", F.col(id_col)).alias("cluster_id")
    )
    # cluster_size via a partitioned window, NOT a labeled⋈sizes
    # self-join: the join form evaluates the whole upstream (CC finisher
    # included) once per side, and at corpus scale it is an extra shuffle
    # + duplicate scan; the window is one shuffle on cluster_id and the
    # CC subtree runs exactly once per action.
    out = labeled.select(
        id_col,
        "cluster_id",
        F.count("*")
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )
    # edges may carry tied caches — keep them alive for as long as this
    # derived result is
    return tie(out, keepalive=[edges])


def _local_pagerank(
    edges: DataFrame,
    iterations: int,
    total_mass: int,
    damp_num: int,
    damp_den: int,
) -> DataFrame:
    """Exact integer PageRank over canonical (u < v) undirected edges,
    as a single Arrow-batched task (``coalesce(1).mapInArrow`` —
    executor-side, no driver collect). Only the canonical rows cross
    the Arrow boundary; both orientations are derived inside the
    kernel by index concatenation (integer addition commutes, so the
    per-node totals equal those of the directed union). The kernel is
    numpy end-to-end: Arrow int64 columns view as numpy arrays, and one
    typed RecordBatch carries the result back."""
    id_type = dict(edges.dtypes)["u"]

    def run(batches):
        import numpy as np
        import pyarrow as pa

        out_id_t = pa.int32() if id_type == "int" else pa.int64()
        us: list = []
        vs: list = []
        for b in batches:
            if b.num_rows:
                us.append(b.column(0).to_numpy(zero_copy_only=False))
                vs.append(b.column(1).to_numpy(zero_copy_only=False))
        if not us:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], out_id_t), pa.array([], pa.int64())],
                ["node", "r"],
            )
            return
        eu, ev = np.concatenate(us), np.concatenate(vs)
        nodes, inv = np.unique(
            np.concatenate([eu, ev]), return_inverse=True
        )
        n = len(nodes)
        u_idx, v_idx = inv[: len(eu)], inv[len(eu) :]
        u_idx, v_idx = (
            np.concatenate([u_idx, v_idx]),
            np.concatenate([v_idx, u_idx]),
        )
        outdeg = np.bincount(u_idx, minlength=n).astype(np.int64)
        r0 = total_mass // n
        base = (damp_den - damp_num) * r0 // damp_den
        r = np.full(n, r0, dtype=np.int64)
        # Segment-sum plumbing, built ONCE: np.add.at is an unbuffered
        # scatter (measured ~5× the whole kernel's cost on a 2.4M-edge
        # graph); sorting the destination index once and reducing with
        # np.add.reduceat is exact int64 sequential addition per
        # segment — bit-identical totals (integer addition commutes).
        perm = np.argsort(v_idx, kind="stable")
        v_sorted = v_idx[perm]
        starts = np.flatnonzero(
            np.r_[True, v_sorted[1:] != v_sorted[:-1]]
        )
        seg_nodes = v_sorted[starts]
        denom = damp_den * outdeg
        for _ in range(iterations):
            contrib = (damp_num * r)[u_idx] // denom[u_idx]
            agg = np.zeros(n, dtype=np.int64)
            agg[seg_nodes] = np.add.reduceat(contrib[perm], starts)
            r = base + agg
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, out_id_t), pa.array(r, pa.int64())],
            ["node", "r"],
        )

    return edges.coalesce(1).mapInArrow(run, schema=f"node {id_type}, r long")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    total_mass: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic
    (Brin & Page 1998; the quantized estimator is this module's spec)
    over an undirected graph.

    ``edges`` holds one distinct canonical row (src < dst) per
    undirected edge, already materialized by the caller; the graph is
    its symmetric closure. Rank is integer "mass units" out of
    ``total_mass``::

        r_0(v)     = total_mass // N
        base       = ((damp_den - damp_num) · r_0) // damp_den
        r_{t+1}(v) = base + Σ_{(u,v)∈E} (damp_num · r_t(u))
                                       // (damp_den · deg(u))

    All quantities are positive BIGINTs (truncation ≡ floor), so
    another engine replays every unit bit-for-bit — floating-point
    PageRank can NEVER be cross-engine hash-checked (summation order
    changes ulps); the integer form loses < 1 unit in 10^12 per edge
    and is deterministic everywhere. Remainders simply evaporate
    (mass is not conserved) — that is part of the spec, not an
    accident, and both engines evaporate identically. Every node of an
    undirected graph has degree ≥ 1, so no node is dangling.

    The whole iteration loop runs as one numpy task
    (``_local_pagerank``) inside the caller's action. Measured on a
    4-core box, it beat the broadcast- and shuffle-joined Pregel loops
    this operator used to run above 5M directed edges on every input
    timed, up to 11.96M canonical edges over 200k nodes (see
    ``CHANGES.md``).
    """
    # The numpy kernel multiplies damp_num · r in int64 and would
    # OVERFLOW SILENTLY for extreme caller-supplied masses — guard once
    # here so it is loud. The per-node rank can exceed r_0 only via
    # inbound concentration, bounded by total_mass itself.
    if total_mass * damp_num >= 2**63:
        raise ValueError(
            f"total_mass={total_mass} · damp_num={damp_num} overflows int64; "
            "reduce total_mass (rank resolution) or the damping numerator"
        )
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    out = _local_pagerank(e, iterations, total_mass, damp_num, damp_den)
    # the caller's edge frame may be a tied memo handle — keep it alive
    # for as long as this result reads it
    return tie(out, keepalive=[edges])


def orient_edges(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered orientation of a canonical distinct (u < v) edge
    frame: returns lazy ``(eor, deg)`` — ``eor`` = (a, b) with every
    edge pointing from the lower (degree, id) endpoint to the higher
    (out-lists capped at O(√|E|)), ``deg`` = (node, d). Callers
    persist/scope the frames themselves (``triangle_counts`` does; the
    plans layer memoizes them as a shared stage)."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    eor = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        .repartition("a")
    )
    return eor, deg


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    prepared: tuple | None = None,
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Schank & Wagner 2005's *forward* algorithm; the MapReduce shaping
    follows Suri & Vassilvitskii, WWW 2011 — public literature).

    Returns ``(node, tri_cnt, degree)`` for every node in ≥ 1 triangle.
    Global triangle count = Σ tri_cnt / 3.

    Why orientation matters: the naive wedge join pairs each node's
    FULL neighbor list — a celebrity node with 10^6 neighbors yields
    10^12 wedges. Orienting every edge from the lower (degree, id)
    endpoint to the higher caps every out-list at O(√|E|): each
    triangle {a,b,c} is generated exactly once, at its lowest-ordered
    corner.

    The closure is an **adjacency intersect**: the per-apex out-lists
    are broadcast (Σ|list| = |E| ids), joined onto each oriented edge
    (a, b) map-side, and ``explode(array_intersect(out(a), out(b)))``
    emits exactly the closing c's, so the O(|E|^1.5) wedge stream is
    never materialized as rows — only true triangles are. Measured on a
    4-core box with an 8 GB driver, it beat the shuffled wedge
    self-join this operator used to run above ~21M oriented edges on
    every input timed, up to 28.7M edges, where the wedge join did not
    finish (see ``CHANGES.md``).

    Per-node counts are one explode + map-side-combined groupBy. The
    ordering comparator is pure-integer lexicographic (degree, node),
    so another engine replays the exact same oriented edge set
    bit-for-bit — no floats, no engine-specific hashing.

    ``prepared``: optional ``(eor, deg)`` — the orientation stage
    already built, PERSISTED and materialized by the caller (the
    plans-layer shared-stage memo); this operator then neither builds
    nor releases it.
    """
    if prepared is not None:
        eor, deg = prepared
        own = []
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("u"),
                F.greatest(F.col(src), F.col(dst)).alias("v"),
            )
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .persist()
        )
        # consumed by deg, the orientation join, and (via deg) the
        # final degree attach — materialize once (multi-consumer
        # invariant)
        e.count()
        eor, deg = orient_edges(e)
        deg = deg.persist()
        eor = eor.persist()
        eor.count()
        own = [e, deg, eor]
    adj = eor.groupBy("a").agg(F.collect_list("b").alias("nb"))
    adj_a = F.broadcast(adj.select(F.col("a"), F.col("nb").alias("_na")))
    adj_b = F.broadcast(
        adj.select(F.col("a").alias("b"), F.col("nb").alias("_nb"))
    )
    tri = (
        eor.join(adj_a, "a")
        .join(adj_b, "b")
        .select("a", "b", F.explode(F.array_intersect("_na", "_nb")).alias("c"))
    )
    per = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )
    out = per.join(deg, "node").select("node", "tri_cnt", F.col("d").alias("degree"))
    if own:
        return tie(out, *own)
    # prepared tier: the memo owns the frames — keep them alive for as
    # long as this result reads them (tie composition rule), and the
    # edges handle (the co-occurrence memo entry eor/deg derive from)
    # with them.
    return tie(out, keepalive=[eor, deg, edges])
