"""Graph operator contracts: connected components, PageRank, triangles.

Each operator must match a trusted CPython reference on planted graphs
whose shapes are chosen to break weaker schemes: long chains (defeat
per-hop label propagation), stars, merged multi-cluster graphs, and
random graphs.
"""

from __future__ import annotations

import pytest

from etl_python_sqlite_spark.operators.graph import (
    connected_components,
    dedup_cluster_assignment,
    pagerank,
)


def _union_find(edge_list):
    par = {}

    def find(x):
        while par.setdefault(x, x) != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            par[max(ra, rb)] = min(ra, rb)
    # min id per component for every node seen
    comp = {}
    for x in list(par):
        comp[x] = find(x)
    return comp


def _check(spark, edge_list):
    edges = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == _union_find(edge_list)


def test_chain_collapses_to_min(spark):
    # 0-1-2-...-19 : one component rooted at 0
    _check(spark, [(i, i + 1) for i in range(19)])


def test_reverse_chain_and_duplicates(spark):
    edges = [(i + 1, i) for i in range(19)] + [(5, 4), (10, 9)]
    _check(spark, edges)


def test_two_clusters_and_star(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (10, 12), (10, 13), (13, 14)]
    _check(spark, edges)


def test_merged_clusters_via_bridge(spark):
    # two dense blobs joined by one bridge edge must fuse
    blob_a = [(i, j) for i in range(0, 5) for j in range(i + 1, 5)]
    blob_b = [(i, j) for i in range(100, 105) for j in range(i + 1, 105)]
    _check(spark, blob_a + blob_b + [(4, 100)])


def test_self_loops_and_empty(spark):
    edges = spark.createDataFrame([(7, 7)], ["id_a", "id_b"])
    assert connected_components(edges).count() == 0


def test_cluster_assignment_includes_singletons(spark):
    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"])
    rows = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup_cluster_assignment(nodes, edges).collect()
    }
    assert rows == {
        0: (0, 3),
        1: (0, 3),
        2: (0, 3),
        3: (3, 1),
        4: (4, 1),
        5: (5, 2),
        6: (5, 2),
        7: (7, 1),
    }


# --- pagerank -------------------------------------------------------------


def _pagerank_reference(
    edge_list,
    iterations=5,
    total_mass=10**12,
    damp_num=85,
    damp_den=100,
):
    """Hand-rolled exact-integer PageRank over DIRECTED edges — the
    module's documented quantized estimator, replayed in pure CPython (no
    NetworkX)."""
    edges = sorted({(u, v) for u, v in edge_list if u != v})
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r0 = total_mass // n
    base = (damp_den - damp_num) * r0 // damp_den
    r = {v: r0 for v in nodes}
    for _ in range(iterations):
        acc = {v: 0 for v in nodes}
        for u, v in edges:
            acc[v] += (damp_num * r[u]) // (damp_den * outdeg[u])
        r = {v: base + acc[v] for v in nodes}
    return r


def _both_orientations(canon):
    return canon + [(v, u) for u, v in canon]


_CANONICAL_EDGES = [
    # 0 is a hub; 4 hangs off the 1-3 side
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 4), (3, 4),
]


def test_pagerank_matches_integer_reference(spark):
    edges = spark.createDataFrame(_CANONICAL_EDGES, ["src", "dst"])
    got = {r["node"]: r["r"] for r in pagerank(edges).collect()}
    assert got == _pagerank_reference(_both_orientations(_CANONICAL_EDGES))


def test_pagerank_random_canonical_graph_matches_reference(spark):
    """A random canonical (u < v) graph: the kernel derives both
    orientations itself, and its ranks equal the reference fed the
    directed union."""
    import random

    rng = random.Random(13)
    canon = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(50), rng.randrange(50)) for _ in range(250))
            if a != b
        }
    )
    cdf = spark.createDataFrame(canon, ["u", "v"])
    got = {r["node"]: r["r"] for r in pagerank(cdf, "u", "v").collect()}
    assert got == _pagerank_reference(_both_orientations(canon))


def test_pagerank_rejects_int64_overflow(spark):
    edges = spark.createDataFrame(_CANONICAL_EDGES, ["src", "dst"])
    with pytest.raises(ValueError, match="overflows int64"):
        pagerank(edges, total_mass=2**62)


def test_ext_dedup_clusters_partitions_sample(spark):
    """Every sampled doc appears exactly once; sizes are consistent;
    canonical docs are the cluster minima."""
    from etl_python_sqlite_spark.plans.ext import ext_dedup_clusters

    out = ext_dedup_clusters(spark, "/root/testdata/sf0.001").collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(out) == len({r["doc_id"] for r in out})
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def _brute_triangles(edge_list):
    """itertools reference: count triangles per node on the undirected
    simple graph."""
    import itertools

    adj = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    return {n: (t, len(adj[n])) for n, t in tri.items() if t > 0}


def test_triangle_counts_matches_bruteforce(spark):
    from etl_python_sqlite_spark.operators.graph import triangle_counts

    # K4 glued to a square with one diagonal, plus a triangle-free tail
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4: 4 triangles
        (4, 5), (5, 6), (6, 7), (7, 4), (5, 7),           # square + diag
        (7, 8), (8, 9),                                    # tail
        (2, 1), (3, 1), (1, 1),                            # dups + self-loop
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["tri_cnt"], r["degree"])
        for r in triangle_counts(df).collect()
    }
    assert got == _brute_triangles(edges)


def test_triangle_counts_random_graph(spark):
    import random

    from etl_python_sqlite_spark.operators.graph import triangle_counts

    rnd = random.Random(7)
    edges = [(rnd.randrange(40), rnd.randrange(40)) for _ in range(220)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["tri_cnt"], r["degree"])
        for r in triangle_counts(df).collect()
    }
    assert got == _brute_triangles(edges)
