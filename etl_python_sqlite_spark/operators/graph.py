"""Connected components over near-dup pair graphs — the final step of
corpus dedup: collapse pairwise matches into clusters and elect one
canonical document per cluster.

Pairwise near-dup output (MinHash/SimHash/Jaccard pairs) is not yet a
dedup decision: A~B and B~C must collapse into one {A,B,C} cluster even
when A~C was never emitted. That transitive closure is connected
components on the pair graph.

The iteration is the alternating **large-star / small-star** algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", 2014 —
public literature), chosen over plain min-label propagation because it
converges in O(log n) rounds on ANY graph shape, including the long
chains that defeat per-hop propagation (a 1M-doc chain needs 1M
propagation rounds but ~20 star rounds). Each round is two
groupBy-min + join passes on uniformly-hashed node keys — ordinary
shuffles, no skew, no driver-side graph state: at 100 TB the edge list
stays distributed and the driver only sees a (count, checksum) pair per
round.

Fault tolerance note: iterations call ``localCheckpoint`` to truncate
lineage (else the plan doubles every round). On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` for
executor-loss resilience; local mode has no such loss model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators.cache import tie


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (u, v), self-loops dropped."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return e.filter(F.col("u") != F.col("v")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge large→small; for each node u: connect u and all
    its smaller neighbors to the minimum of N(u) ∪ {u}."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    to_min = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
    )
    return to_min.filter(F.col("u") != F.col("v")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """(edge count, order-insensitive xor of edge hashes) — a cheap
    distributed fingerprint for the convergence test; one aggregate per
    round, O(1) bytes to the driver."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
    ).first()
    return row["n"], row["x"]


def _local_components(edges: DataFrame) -> DataFrame:
    """Union-find over an edge set that fits one partition, as a single
    Arrow-batched task (``coalesce(1).mapInPandas`` — executor-side, no
    driver collect). O(E α(E)) in one pass instead of O(log n) iterative
    jobs; the right tool once the edge list is small, which near-dup
    candidate sets are relative to their corpus."""
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


#: edge-count ceiling for the single-task union-find finisher — public
#: so pair-stage memos can compare their measured counts against it
#: when deciding whether to attest ``n_edges`` to a caller.
CC_LOCAL_EDGE_LIMIT = 2_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    local_edge_limit: int = CC_LOCAL_EDGE_LIMIT,
    round_stats: list | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id of its connected component.

    Hybrid execution, sized by an edge count, not a guess:

    - while the edge set exceeds ``local_edge_limit``, run alternating
      large-star/small-star rounds (each round is plain shuffles and
      strictly shrinks components toward their minima — this is the
      distributed path that absorbs billions of edges);
    - the moment it fits one partition, finish with a single-task
      union-find (``_local_components``) — star rounds preserve
      connectivity, so components of the shrunken graph equal
      components of the input.

    Convergence inside the distributed phase is detected by a stable
    (count, xor-of-edge-hashes) fingerprint — O(1) bytes to the driver
    per round. ``max_iter`` is a safety rail far above the O(log n)
    bound.

    ``n_edges``: caller-attested UPPER BOUND on the distinct canonical
    edge count (a memoized pair stage measures it once at build, or the
    caller proves it statically — a 500-doc sample has ≤ C(500,2) pairs).
    When it fits ``local_edge_limit`` the union-find finisher runs
    directly inside the query's own action: no persist, no checksum job —
    the tier gate's count was the only reason the extra driver action
    existed (the pagerank ``n_edges`` contract). An over-large real edge
    set under a small attested bound stays CORRECT (union-find is exact
    on any edge list), just single-task slow — the hint is a promise
    about size, never about semantics. Ignored when above the limit.

    ``round_stats``, when a list is passed, receives one
    ``(round_index, edge_count_after_round)`` tuple per completed
    large-star/small-star round — observability for the O(log n)
    convergence claim; no cost when None.
    """
    if n_edges is not None and n_edges <= local_edge_limit:
        # attested-small graph: one plan, zero gate actions — the
        # canonical distinct still runs (a shuffle, not a job) so the
        # Arrow transfer into the single union-find task stays minimal
        return _local_components(_canonical_edges(edges, src, dst))
    first = _canonical_edges(edges, src, dst).persist()
    e = first
    prev = _checksum(e)
    converged = False
    for rnd in range(max_iter):
        if prev[0] <= local_edge_limit:
            # the result plan still reads the persisted edge frame when no
            # star round ran — scope that cache to the result's lifetime
            # (checkpointed rounds self-clean via the ContextCleaner once
            # their frames drop)
            out = _local_components(e)
            return tie(out, first) if e is first else out
        e2 = _small_star(_large_star(e)).localCheckpoint()
        if e is first:
            # the checkpoint above materialized past the cache — release it
            first.unpersist()
        cur = _checksum(e2)
        e = e2
        if round_stats is not None:
            round_stats.append((rnd, cur[0]))
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # max_iter exhausted before the star-graph fixed point: the
        # edge set may still hold (u, v1), (u, v2) with v1 != v2, and the
        # fixed-point extraction below would silently emit multi-labeled
        # nodes (review finding). Fall back to the exact single-task
        # union-find — correct on ANY edge set; loud (OOM) rather than
        # silently wrong if the graph is still pathologically large.
        out = _local_components(e)
        return tie(out, first) if e is first else out
    roots = e.select(F.col("v").alias("id")).distinct()
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(roots.select("id", F.col("id").alias("component")))
        .distinct()
    )


def dedup_cluster_assignment(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    n_edges: int | None = None,
) -> DataFrame:
    """Every node's dedup verdict: (id_col, cluster_id, cluster_size).

    ``cluster_id`` is the minimum doc id of the near-dup cluster (nodes
    without any edge are their own singleton cluster); keeping rows
    where ``doc_id == cluster_id`` is the canonical-document selection —
    deterministic, no ordering dependence, replayable in plain SQL.

    ``n_edges`` forwards the caller-attested edge bound to
    :func:`connected_components` (see there — it removes the tier
    gate's count job when the graph provably fits the local tier).
    """
    from pyspark.sql import Window

    comp = connected_components(edges, src, dst, n_edges=n_edges)
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
    # comp (and, through it, edges) may carry tied caches — keep them
    # alive for as long as this derived result is
    return tie(out, keepalive=[comp, edges])


#: node-count ceiling for the per-iteration broadcast of the rank
#: vector. Measured crossover (r5 interleaved A/B, local[32]): at
#: |V| = 25 the broadcast path wins by the shuffle path's fixed setup
#: cost (~1.5 s: one-time repartition of E and nodes), while from
#: |V| ≈ 3·10^4 the shuffle path is 1.2-2× FASTER (each broadcast is
#: a collect-to-driver + rebroadcast job per iteration, growing with
#: |V|) — and at 10^9 nodes the broadcast is a hard OOM wall
#: (r4 VERDICT #1). 10^5 keeps tiny co-occurrence graphs on the cheap
#: path and everything big on the scalable one.
PAGERANK_BROADCAST_MAX_NODES = 100_000


#: edge-count ceiling for the single-task PageRank tier (mirrors
#: connected_components' local_edge_limit): below it, 5 Pregel rounds
#: of driver-blocking jobs (persist + broadcast-collect + checkpoint
#: per iteration ≈ 9 jobs) cost more wall than ONE executor-side numpy
#: task over the whole edge list (sf0.1 A/B: 1.7 s warm vs ~10 s for
#: the Pregel tiers on the 2.4M-edge co-occurrence graph). 5M edges ≈
#: 80 MB in one Arrow task — comfortably one partition. Same
#: hybrid-by-measured-size pattern as the CC union-find finisher.
PAGERANK_LOCAL_EDGE_LIMIT = 5_000_000


def _local_pagerank(
    edges: DataFrame,
    iterations: int,
    total_mass: int,
    damp_num: int,
    damp_den: int,
    redistribute: bool,
    symmetric: bool = False,
) -> DataFrame:
    """Exact integer PageRank over an edge set that fits one partition,
    as a single Arrow-batched task (``coalesce(1).mapInPandas`` —
    executor-side, no driver collect). BIT-IDENTICAL to the distributed
    loop: same r0/base constants, same per-edge floor division, same
    dangling handling — pinned by test_graph's tier-equality test.

    ``symmetric``: ``edges`` holds ONE canonical row per undirected
    edge; both orientations are derived inside the kernel (index
    concatenation — r11-opt: the symmetric co-occurrence caller was
    funneling the 2× union through the single-task Arrow boundary,
    pure data-movement cost; integer addition commutes exactly, so the
    per-node totals are bit-identical to feeding the directed union).

    r12-opt (guide §4.2): ``mapInArrow`` instead of ``mapInPandas`` —
    the kernel is numpy end-to-end, so each batch's pandas DataFrame
    construction plus the final ``pd.concat`` copy were pure boundary
    overhead; Arrow int64 columns view as numpy arrays directly and
    one typed RecordBatch carries the result back. Same bytes, same
    math — bit-identical, pinned by the tier-equality test."""
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
        if symmetric:
            u_idx, v_idx = (
                np.concatenate([u_idx, v_idx]),
                np.concatenate([v_idx, u_idx]),
            )
        outdeg = np.bincount(u_idx, minlength=n).astype(np.int64)
        r0 = total_mass // n
        base = (damp_den - damp_num) * r0 // damp_den
        r = np.full(n, r0, dtype=np.int64)
        dangling_mask = outdeg == 0
        # Segment-sum plumbing, built ONCE: np.add.at is an unbuffered
        # scatter (measured ~5× the whole kernel's cost on a 2.4M-edge
        # graph); sorting the destination index once and reducing with
        # np.add.reduceat is exact int64 sequential addition per
        # segment — bit-identical totals (integer addition commutes),
        # pinned by the tier-equality test.
        perm = np.argsort(v_idx, kind="stable")
        v_sorted = v_idx[perm]
        starts = np.flatnonzero(
            np.r_[True, v_sorted[1:] != v_sorted[:-1]]
        )
        seg_nodes = v_sorted[starts] if len(v_sorted) else v_sorted
        denom = damp_den * outdeg
        for _ in range(iterations):
            contrib = (damp_num * r)[u_idx] // denom[u_idx]
            agg = np.zeros(n, dtype=np.int64)
            if len(starts):
                agg[seg_nodes] = np.add.reduceat(contrib[perm], starts)
            extra = 0
            if redistribute:
                dm = int(r[dangling_mask].sum())
                extra = (damp_num * dm) // (damp_den * n)
            r = base + extra + agg
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
    broadcast_max_nodes: int = PAGERANK_BROADCAST_MAX_NODES,
    dangling: str = "evaporate",
    local_edge_limit: int = PAGERANK_LOCAL_EDGE_LIMIT,
    edges_distinct: bool = False,
    edges_symmetric: bool = False,
    n_edges: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic
    (Brin & Page 1998; the quantized estimator is this module's spec).

    Rank is integer "mass units" out of ``total_mass``::

        r_0(v)     = total_mass // N
        base       = ((damp_den - damp_num) · r_0) // damp_den
        r_{t+1}(v) = base [+ dshare_t]
                     + Σ_{(u,v)∈E} (damp_num · r_t(u))
                                   // (damp_den · outdeg(u))

    All quantities are positive BIGINTs (truncation ≡ floor), so
    another engine replays every unit bit-for-bit — floating-point
    PageRank can NEVER be cross-engine hash-checked (summation order
    changes ulps); the integer form loses < 1 unit in 10^12 per edge
    and is deterministic everywhere. Remainders simply evaporate
    (mass is not conserved) — that is part of the spec, not an
    accident, and both engines evaporate identically.

    Dangling nodes (outdeg 0) contribute nothing. ``dangling``:

    * ``"evaporate"`` (default): dangling mass is dropped — fine for
      the symmetric co-occurrence graphs this engine builds (every
      node has outdeg ≥ 1, so the option is moot there).
    * ``"redistribute"``: classic dangling handling for DIRECTED
      graphs — each iteration the total rank held by dangling nodes,
      D_t, is redistributed uniformly::

          dshare_t = (damp_num · D_t) // (damp_den · N)

      One extra one-row aggregate per iteration (the dangling id set
      is persisted once; D_t is a semi-join + sum collapsed to a
      single row, then cross-joined — broadcast — into the update).

    ``n_edges`` (requires ``edges_distinct``): the caller already
    KNOWS the row count of its materialized edge frame (a memoized
    stage measures it once at build — _cooccurrence_edges), so the
    tier gate skips its own ``count()`` action; one fewer driver job
    per invocation. Ignored (recounted) without ``edges_distinct``,
    where this operator's own filter+distinct changes the count.

    ``edges_symmetric`` (requires ``edges_distinct`` semantics): the
    caller's frame holds ONE canonical row per undirected edge and the
    graph is its symmetric closure. The local tier derives both
    orientations INSIDE the numpy kernel, so only half the edge bytes
    cross the coalesce(1) Arrow boundary (r11-opt: that boundary was
    the tier's whole cost); the Pregel tiers union the two disjoint
    orientations up front exactly as the caller used to.

    Execution tiers, sized by MEASURED counts (never a guess):

    1. ``n_edges ≤ local_edge_limit`` → one executor task
       (``_local_pagerank``): the whole iteration loop in numpy over
       the in-memory edge list — for graphs that fit one partition,
       ~9 Pregel driver jobs collapse into 1 (the CC union-find
       finisher pattern). Bit-identical by construction.
    2. ``n_nodes ≤ broadcast_max_nodes`` → Pregel loop, rank vector
       broadcast per iteration.
    3. else → Pregel loop, shuffle hash joins against the once-
       repartitioned edge frame — the only survivor at 10^9 nodes.

    Scale shape of the Pregel tiers (the loop in DataFrame form):

    * ``edges ⋈ outdeg`` is computed ONCE and persisted — the only
      big frame; it never moves again (no per-iteration shuffle of E).
    * ranks (one row per NODE, orders of magnitude smaller than E):
      when ``N ≤ broadcast_max_nodes`` they are **broadcast** to the
      edge partitions each iteration, so the only per-iteration
      shuffle is the map-side-combined ``groupBy(dst)`` of
      contributions — exactly one exchange of ≤ |V| combined rows.
      When N exceeds the budget (r4 VERDICT #1: an unconditional
      |V|-row broadcast is the classic iterative-graph scale-killer
      at 10^9 nodes), the rank joins become plain shuffle hash joins:
      ``eo`` and ``nodes`` are repartitioned ONCE on the join key and
      persisted, so each iteration shuffles only the ≤ |V|-row rank /
      contribution frames — never E.
    * each iteration ends in ``localCheckpoint(eager=True)``: lineage
      stays O(1) (the classic iterative-Spark trap is a plan that
      doubles per round and re-runs every prior broadcast), and the
      next join reads a materialized RDD. Intermediate checkpoints
      free via the ContextCleaner as their frames drop; the final
      frame and the persisted edge frame are scoped to the result via
      ``tie``.
    * ONE join per iteration, not two: nodes with no inbound edge have
      rank exactly ``base [+ dshare]`` every iteration, so instead of
      left-joining the contribution aggregate back onto the full node
      frame, the update is ``agg-derived rows ∪ (no-inbound nodes ×
      constant)`` — a union, which shuffles nothing (r5; bit-identical
      by construction since coalesce(c, 0) for those nodes IS the
      constant).
    """
    if dangling not in ("evaporate", "redistribute"):
        raise ValueError(f"unknown dangling mode: {dangling!r}")
    # The local-numpy tier multiplies damp_num · r in int64 and would
    # OVERFLOW SILENTLY for extreme caller-supplied masses while the
    # Pregel tiers (ANSI Spark longs) raise loudly — guard once here so
    # every tier is loud (ADVICE r5). The per-node rank can exceed r_0
    # only via inbound concentration, bounded by total_mass itself.
    if total_mass * damp_num >= 2**63:
        raise ValueError(
            f"total_mass={total_mass} · damp_num={damp_num} overflows int64; "
            "reduce total_mass (rank resolution) or the damping numerator"
        )
    if edges_distinct:
        # caller guarantees a distinct, loop-free edge list that is
        # ALREADY materialized (e.g. the memoized shared co-occurrence
        # stage) — a rename projection reads its cache per action; this
        # operator neither persists nor releases it (the memo owns it)
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        own_e = False
    else:
        e = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .persist()
        )
        own_e = True
    # one scalar to the driver — picks the execution tier by measured
    # size (the CC hybrid pattern): a graph whose edge list fits one
    # partition finishes in ONE executor task instead of ~9 Pregel jobs.
    # A caller-supplied count (measured once by the owning memo) skips
    # the per-invocation job; only trustworthy under edges_distinct,
    # where the frame passes through unchanged.
    if n_edges is None or not edges_distinct:
        n_edges = e.count()
    n_edges *= 2 if edges_symmetric else 1
    if n_edges <= local_edge_limit:
        out = _local_pagerank(
            e, iterations, total_mass, damp_num, damp_den,
            dangling == "redistribute",
            symmetric=edges_symmetric,
        )
        return tie(out, e) if own_e else out
    # keep the (possibly persisted) pre-union handle: reassigning ``e``
    # below would otherwise orphan the canonical frame's persist — tie
    # would unpersist the un-cached union, a no-op (ADVICE r11)
    e0 = e
    if edges_symmetric:
        # Pregel tiers work on the directed set — the two orientations
        # of a canonical frame are disjoint, so the union is distinct
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("u").agg(F.count("*").alias("d"))
    eo = e.join(outdeg, "u")

    # one scalar to the driver — sizes the constants AND picks the
    # rank-join strategy (broadcast vs shuffle) before any persist
    nodes = nodes.persist()
    n_nodes = nodes.count()
    use_bcast = n_nodes <= broadcast_max_nodes
    if use_bcast:
        eo = eo.persist()
        rank_side = F.broadcast
    else:
        # co-locate the per-iteration rank join: E⋈outdeg partitioned
        # by the probe key ONCE — each iteration then shuffles only the
        # rank/contribution rows (the node frame no longer joins at
        # all; see the union-update note in the docstring).
        eo = eo.repartition("u").persist()

        def rank_side(df: DataFrame) -> DataFrame:
            return df

    r0 = total_mass // n_nodes
    base = (damp_den - damp_num) * r0 // damp_den

    redistribute = dangling == "redistribute"
    if redistribute:
        dang = nodes.join(
            outdeg.select(F.col("u").alias("node")), "node", "left_anti"
        ).persist()
        dang.count()
    else:
        dang = None

    # nodes that receive no contributions (no inbound edge) — their
    # per-iteration rank is the constant base [+ dshare]; computed once
    no_in = nodes.join(
        e.select(F.col("v").alias("node")).distinct(), "node", "left_anti"
    ).persist()
    no_in.count()

    ranks = nodes.select("node", F.lit(r0).cast("long").alias("r"))
    contrib = F.expr(f"({damp_num} * r) div ({damp_den} * d)")
    dshare = F.expr(f"({damp_num} * _dm) div ({damp_den} * {n_nodes})")
    for _ in range(iterations):
        agg = (
            eo.join(rank_side(ranks), eo["u"] == ranks["node"])
            .select(F.col("v"), contrib.alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        upd = agg.select(F.col("v").alias("node"), "c").unionByName(
            no_in.select("node", F.lit(None).cast("long").alias("c"))
        )
        extra = F.lit(0).cast("long")
        if redistribute:
            dm = (
                ranks.join(rank_side(dang), "node", "left_semi")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("_dm"))
            )
            upd = upd.crossJoin(F.broadcast(dm))  # one row, always
            extra = dshare
        ranks = upd.select(
            "node",
            (F.lit(base) + extra + F.coalesce("c", F.lit(0)))
            .cast("long")
            .alias("r"),
        ).localCheckpoint(eager=True)
    keep = ([e0] if own_e else []) + [eo, nodes, no_in] + (
        [dang] if dang is not None else []
    )
    return tie(ranks, *keep)


#: Closure-join strategy gate: when the DISTINCT edge set is at most
#: this many rows, the wedge→edge closure probe BROADCASTS the oriented
#: edge list instead of shuffling every wedge by (b, c). Wedge volume
#: is O(|E|^1.5) — an order of magnitude larger than |E| on dense
#: graphs (sf0.1 co-occurrence: ~2·10^7 wedges vs 9·10^5 edges, 455 MB
#: shuffled) — so skipping the wedge exchange dominates while the edge
#: list is broadcastable. MEASURED (r6, 16× lineitem probe, 14.3M
#: edges): broadcast 96 s vs shuffle 166 s — broadcast still 1.7×
#: faster, so the gate sits above that point. Beyond it the shuffle
#: join is the only shape that survives: the broadcast must fit EVERY
#: executor — at 10^9 edges it is the classic scale-killer (the
#: pagerank lesson).
#:
#: r12-opt (VERDICT r11 #4): the gate is expressed in BYTES, the unit
#: the executor actually pays, and the edge cap derives from it.
#: MEASURED bytes/edge of the broadcast adjacency relation (the
#: per-apex collect_list out-lists both intersect-tier joins build):
#: sf0.1 co-occurrence graph, 1,196,000 oriented edges → 16.2 MiB
#: BroadcastExchange "data size" per adjacency broadcast (UI REST
#: metric, probe log in plans/r12) ≈ 14.2 B/edge serialized; 16 B/edge
#: is the rounded-up constant (the hashed relation's in-memory build
#: adds its own 3-4× on top — the deploy-sizing note below). 320 MiB
#: keeps the gate at the r6-measured 20M-edge operating point (its 16×
#: probe showed broadcast still 1.7× faster at 14.3M edges) while
#: staying a per-executor footprint a real cluster can hold
#: (~0.3 GiB serialized, ~1-1.3 GiB built).
TRIANGLE_ADJ_BYTES_PER_EDGE = 16
TRIANGLE_BROADCAST_MAX_BYTES = 320 * 1024 * 1024
TRIANGLE_BROADCAST_MAX_EDGES = (
    TRIANGLE_BROADCAST_MAX_BYTES // TRIANGLE_ADJ_BYTES_PER_EDGE
)


def orient_edges(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered orientation of a canonical distinct (u < v) edge
    frame: returns lazy ``(eor, deg)`` — ``eor`` = (a, b, db) with every
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
    # oriented edge a->b carries b's degree so the wedge tier can order
    # the two far endpoints without another degree join
    eor = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
        .repartition("a")
    )
    return eor, deg


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_max_edges: int = TRIANGLE_BROADCAST_MAX_EDGES,
    edges_canonical: bool = False,
    prepared: tuple | None = None,
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Schank & Wagner 2005's *forward* algorithm; the MapReduce shaping
    follows Suri & Vassilvitskii, WWW 2011 — public literature).

    Returns ``(node, tri_cnt, degree)`` for every node in ≥ 1 triangle.
    Global triangle count = Σ tri_cnt / 3.

    Why orientation matters at scale: the naive wedge join pairs each
    node's FULL neighbor list — a celebrity node with 10^6 neighbors
    yields 10^12 wedges. Orienting every edge from the lower
    (degree, id) endpoint to the higher caps every out-list at
    O(√|E|): each triangle {a,b,c} is generated exactly once, at its
    lowest-ordered corner, and total wedge volume is O(|E|^1.5) on ANY
    degree distribution — the hub explosion is structurally gone.

    Closure tiers, gated on the measured edge count (both produce the
    identical triangle multiset — each triangle once, at its apex):

    * ``n_edges ≤ broadcast_max_edges`` — **adjacency-intersect**
      (r11-opt): broadcast the per-apex out-lists (Σ|list| = |E| ids —
      the same byte class as the closure-edge broadcast it replaces),
      join them onto each oriented edge (a, b) map-side, and
      ``explode(array_intersect(out(a), out(b)))`` emits exactly the
      closing c's. The O(|E|^1.5) wedge stream is never MATERIALIZED
      as rows — only true triangles are — where the previous
      broadcast-closure tier generated every wedge row and hash-probed
      it (sf0.1 A/B, 1.2M edges / 41M wedges: 3.5-5.2 s → 1.0-1.2 s
      per pass, identical output; OPTIMIZATION_r11.md).
    * above the gate — wedge self-equi-join on the apex (the oriented
      frame is repartitioned ONCE on ``a`` so both sides are
      co-located) + shuffled closure equi-join on (b, c): no broadcast
      anywhere, the only shape that survives 10^9 edges.

    Per-node counts are one explode + map-side-combined groupBy. No
    cartesian anywhere; every key is a uniformly-hashed node id. The
    ordering comparator is pure-integer lexicographic (degree, node),
    so another engine replays the exact same oriented edge set
    bit-for-bit — no floats, no engine-specific hashing.

    ``prepared``: optional ``(eor, deg, n_edges)`` — the orientation
    stage already built, PERSISTED and counted by the caller (the
    plans-layer shared-stage memo); this operator then neither builds
    nor releases it.
    """
    if prepared is not None:
        eor, deg, n_edges = prepared
        own = []
    elif edges_canonical:
        # caller guarantees distinct (u < v) edges ALREADY materialized
        # (e.g. the memoized shared co-occurrence stage): every consumer
        # below reads its cache through a rename projection; this
        # operator neither persists nor releases it (the memo owns it)
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        n_edges = e.count()
        eor, deg = orient_edges(e)
        deg = deg.persist()
        eor = eor.persist()
        eor.count()  # multi-consumer: materialize before reuse
        own = [deg, eor]
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
        # invariant); the count doubles as the tier gate input
        n_edges = e.count()
        eor, deg = orient_edges(e)
        deg = deg.persist()
        eor = eor.persist()
        eor.count()
        own = [e, deg, eor]
    if n_edges <= broadcast_max_edges:
        adj = eor.groupBy("a").agg(F.collect_list("b").alias("nb"))
        adj_a = F.broadcast(adj.select(F.col("a"), F.col("nb").alias("_na")))
        adj_b = F.broadcast(
            adj.select(F.col("a").alias("b"), F.col("nb").alias("_nb"))
        )
        tri = (
            eor.select("a", "b")
            .join(adj_a, "a")
            .join(adj_b, "b")
            .select(
                "a", "b", F.explode(F.array_intersect("_na", "_nb")).alias("c")
            )
        )
    else:
        wed = (
            eor.join(
                eor.select(
                    F.col("a"),
                    F.col("b").alias("c"),
                    F.col("db").alias("dc"),
                ),
                "a",
            )
            .filter(
                (F.col("db") < F.col("dc"))
                | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
            )
            .select("a", "b", "c")
        )
        closure = eor.select(F.col("a").alias("b"), F.col("b").alias("c"))
        tri = wed.join(closure, ["b", "c"])
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
