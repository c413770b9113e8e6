"""Similarity-search tests: brute-force correctness vs numpy ground truth,
ANN recall vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators import similarity as S

DIM = 16


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(80, DIM))
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    # planted near-dups of vector 0: tiny perturbations
    for j, eps in enumerate((0.01, 0.02)):
        v = base[0] + eps * rng.normal(size=DIM)
        rows.append((500 + j, [float(x) for x in v]))
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows},
    )


def _np_cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, truth = vectors
    q = [float(x) for x in truth[0]]
    got = S.cosine_topk(df.filter(F.col("vec_id") != 0), q, k=5).collect()

    expected = sorted(
        ((i, round(_np_cosine(v, truth[0]), 6)) for i, v in truth.items() if i != 0),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == pytest.approx(expected)
    # the planted near-dups of vector 0 must rank first
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {500, 501}


def test_ann_lsh_recall(spark, vectors):
    df, truth = vectors
    q = [float(x) for x in truth[0]]
    brute = [
        r["vec_id"]
        for r in S.cosine_topk(df.filter(F.col("vec_id") != 0), q, k=5).collect()
    ]
    ann = [
        r["vec_id"]
        for r in S.ann_topk_lsh(
            df.filter(F.col("vec_id") != 0), q, k=5, planes=6
        ).collect()
    ]
    # multi-probe LSH must recover the planted near-dups (the high-cosine
    # hits that matter); the low-similarity tail of the top-5 is allowed to
    # differ — that's the approximation being traded for the bucket prune
    assert {500, 501} <= set(ann)
    assert len(set(ann) & set(brute)) >= 2


def test_embedding_near_dup_pairs(spark, vectors):
    df, _ = vectors
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.embedding_near_dup_pairs(df, threshold=0.98, planes=6).collect()
    }
    assert (500, 501) in pairs or (0, 500) in pairs  # planted cluster found


def test_cosine_pairs_sample_threshold(spark, vectors):
    df, truth = vectors
    got = S.cosine_pairs_sample(df, max_id=600, threshold=0.98).collect()
    ids = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 500) in ids and (0, 501) in ids and (500, 501) in ids
    for r in got:
        a, b = truth[r["id_a"]], truth[r["id_b"]]
        assert r["cos_sim"] == pytest.approx(round(_np_cosine(a, b), 6), abs=2e-6)


def test_ivf_recall(spark, vectors):
    df, truth = vectors
    q = [float(x) for x in truth[0]]
    brute = [
        r["vec_id"]
        for r in S.cosine_topk(df.filter(F.col("vec_id") != 0), q, k=5).collect()
    ]
    ivf = [
        r["vec_id"]
        for r in S.ivf_topk(
            df.filter(F.col("vec_id") != 0), q, k=5, n_centroids=8, n_probe=4
        ).collect()
    ]
    assert {500, 501} <= set(ivf)          # planted near-dups recovered
    assert len(set(ivf) & set(brute)) >= 2

def test_ivf_full_probe_equals_brute(spark, vectors):
    """n_probe == n_centroids degenerates to exact brute force."""
    df, truth = vectors
    q = [float(x) for x in truth[0]]
    sub = df.filter(F.col("vec_id") != 0)
    brute = [(r["vec_id"], r["cos_sim"]) for r in S.cosine_topk(sub, q, k=10).collect()]
    ivf = [
        (r["vec_id"], r["cos_sim"])
        for r in S.ivf_topk(sub, q, k=10, n_centroids=8, n_probe=8).collect()
    ]
    assert ivf == brute


def test_embedding_near_dup_recall(spark):
    """Measured recall SLO for the multi-table LSH near-dup operator.

    60 clusters × 4 perturbed copies gives 360 true pairs at cos ≥ 0.9;
    analytic candidate recall at (planes=2 adaptive for n=240, L=6) is
    ≥ 0.99 — assert the measured value ≥ 0.95 against exact brute force.
    """
    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for c in range(60):
        base = rng.normal(size=DIM)
        for _ in range(4):
            v = base + 0.03 * rng.normal(size=DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    V = np.vstack([np.array(v, dtype=np.float32).astype(np.float64) for _, v in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = np.round(Vn @ Vn.T, 6)
    iu, ju = np.triu_indices(len(rows), k=1)
    truth = {(int(i), int(j)) for i, j in zip(iu[sims[iu, ju] >= 0.9], ju[sims[iu, ju] >= 0.9])}

    got = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_near_dup_pairs(df, threshold=0.9).collect()
    }
    assert not got - truth, "LSH emitted a pair below threshold (precision must be 1.0)"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 SLO ({len(truth)} true pairs)"


def test_ann_knn_join_finds_planted(spark, vectors):
    df, _ = vectors
    got = {
        (r["id_a"], r["id_b"])
        for r in S.ann_knn_join_lsh(df, k=3, planes=4).collect()
    }
    # the planted near-identical cluster {0, 500, 501}: most of its mutual
    # pairs must surface (an LSH boundary may split one member — that's
    # the documented recall trade, not a bug)
    planted = {(a, b) for a in (0, 500, 501) for b in (0, 500, 501) if a != b}
    assert len(got & planted) >= 3, got & planted


def test_label_centroid_quality_matches_numpy(spark):
    import numpy as np

    from etl_python_sqlite_spark.operators.similarity import (
        label_centroid_quality_exactable,
    )
    from etl_python_sqlite_spark.sources.parquet import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r["label"]: (r["n_members"], r["sum_cos_micro"] / r["n_members"] / 1e6, r["min_cos"])
        for r in label_centroid_quality_exactable(embs).collect()
    }

    rows = embs.select("vec_id", "label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.asarray(r["embedding"], dtype=np.float64)
        )
    for label, vecs in by_label.items():
        m = np.stack(vecs)
        c = m.mean(axis=0)
        cos = (m @ c) / (np.linalg.norm(m, axis=1) * np.linalg.norm(c))
        n, mean_c, min_c = got[label]
        assert n == len(vecs)
        assert abs(mean_c - round(float(cos.mean()), 6)) < 1e-5
        assert abs(min_c - round(float(cos.min()), 6)) < 1e-5


@pytest.fixture(scope="module")
def semdedup_corpus(spark):
    """4 well-separated gaussian blobs + planted near-dup pairs inside
    each blob + a few exact duplicates; ground-truth pair set computed
    with numpy."""
    rng = np.random.default_rng(23)
    centers = rng.normal(size=(4, DIM)) * 6.0
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(30):
            rows.append((vid, centers[c] + rng.normal(size=DIM)))
            vid += 1
    # planted near-dups (tiny perturbation of an existing member)
    planted = []
    for c in range(4):
        src = rows[c * 30][1]
        dup = src + 0.01 * rng.normal(size=DIM)
        rows.append((1000 + c, dup))
        planted.append((c * 30, 1000 + c))
    # exact duplicates
    rows.append((2000, rows[5][1]))
    planted.append((5, 2000))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    truth = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in rows}
    return df, truth, planted


def _semantic_dedup_pairs(df, n_clusters, threshold):
    return S.semantic_dedup_pairs_from_assignment(
        S.semantic_assign(df, n_clusters=n_clusters), threshold
    )


def _exact_pairs(truth, thr):
    ids = sorted(truth)
    V = np.vstack([truth[i] for i in ids])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S_ = np.round(Vn @ Vn.T, 6)
    iu, ju = np.triu_indices(len(ids), 1)
    keep = S_[iu, ju] >= thr
    return {
        (min(ids[a], ids[b]), max(ids[a], ids[b]))
        for a, b in zip(np.array(iu)[keep], np.array(ju)[keep])
    }


def test_semantic_dedup_finds_planted(spark, semdedup_corpus):
    """Every planted near-dup/exact-dup pair is recovered (blob members
    cluster together) and pairs report exact 6dp cosine."""
    df, truth, planted = semdedup_corpus
    pairs = _semantic_dedup_pairs(df, n_clusters=4, threshold=0.95)
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in pairs.collect()}
    for a, b in planted:
        assert (a, b) in got, (a, b)
    # reported cosines are the exact ones
    for (a, b), cs in got.items():
        va, vb = truth[a], truth[b]
        assert cs == pytest.approx(
            round(float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb))), 6),
            abs=2e-6,
        )


def test_semantic_dedup_no_false_positives(spark, semdedup_corpus):
    """Output ⊆ exact all-pairs set at the same threshold (clustering can
    only MISS pairs, never invent them)."""
    df, truth, _ = semdedup_corpus
    got = {
        (r["id_a"], r["id_b"])
        for r in _semantic_dedup_pairs(df, n_clusters=4, threshold=0.95).collect()
    }
    assert got <= _exact_pairs(truth, 0.95 - 1e-6)


def test_semantic_assign_partitions_everything(spark, semdedup_corpus):
    """Assignment is total and single-valued: every vector lands in
    exactly one of ≤ k clusters, and refinement separates the 4 blobs."""
    df, truth, _ = semdedup_corpus
    assigned = S.semantic_assign(df, n_clusters=4, refine_iters=2)
    rows = assigned.collect()
    assert len(rows) == df.count()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    clusters = {r["vec_id"]: r["centroid_id"] for r in rows}
    assert len(set(clusters.values())) <= 4
    # blob purity after refinement: members of the same blob co-cluster
    for c in range(4):
        blob = [clusters[i] for i in range(c * 30, c * 30 + 30)]
        assert len(set(blob)) == 1, f"blob {c} split: {set(blob)}"


def test_semantic_assign_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert S.semantic_assign(empty, n_clusters=4).count() == 0
    assert _semantic_dedup_pairs(empty, n_clusters=4, threshold=0.9).count() == 0


def test_lsh_probe_buckets_margin_directed(spark):
    """Probe-list contract: element 0 is the home bucket, the list has
    n_probes+1 distinct-from-home entries chosen deterministically, and
    every probe differs from home only on the lowest-margin planes'
    subset masks (content-determinism: identical vectors get identical
    lists)."""
    import numpy as np

    from etl_python_sqlite_spark.operators.similarity import (
        _hyperplane_matrix,
        lsh_probe_buckets_vectorized,
    )

    dim, planes, n_probes = 16, 6, 12
    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(dim)] for _ in range(40)]
    vecs.append(list(vecs[0]))  # exact twin
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    out = {
        r["vec_id"]: r["p"]
        for r in df.select(
            "vec_id",
            lsh_probe_buckets_vectorized(
                "embedding", dim, planes, n_probes
            ).alias("p"),
        ).collect()
    }
    H = _hyperplane_matrix(dim, planes)
    for i, v in enumerate(vecs):
        probes = out[i]
        assert len(probes) == n_probes + 1
        home = int((((np.asarray(v) @ H) >= 0) * (1 << np.arange(planes))).sum())
        assert probes[0] == home  # home first
        assert len(set(probes)) == len(probes)  # distinct buckets
        # flips restricted to the m lowest-margin planes
        proj = np.abs(np.asarray(v) @ H)
        m = min(planes, max(5, int(n_probes).bit_length()))
        allowed = set(int(j) for j in np.argsort(proj)[:m])
        for p in probes[1:]:
            flipped = {b for b in range(planes) if (p ^ probes[0]) >> b & 1}
            assert flipped and flipped <= allowed
    assert out[40] == out[0]  # identical vector -> identical probe list


# ---------------------------------------------------------------------------
# semantic benchmark-contamination scan (r10)
# ---------------------------------------------------------------------------

def _semantic_contamination_pairs(corpus, benchmark, threshold, n_clusters):
    """One clustering over the side-tagged union, then the cross-side
    within-cluster search (the shape of ``ext_semantic_contamination``)."""
    union = corpus.withColumn("side", F.lit(0)).unionByName(
        benchmark.withColumn("side", F.lit(1))
    )
    assigned = S.semantic_assign(union, n_clusters=n_clusters).join(
        union.select("vec_id", "side"), "vec_id"
    )
    return S.semantic_contamination_pairs_from_assignment(assigned, threshold)


def test_semantic_contamination_exhaustive_single_cluster(spark):
    """n_clusters=1 makes the scan exhaustive: the reported pair set
    must EQUAL the exact cross-side cosine>=0.9 ground truth."""
    import numpy as np

    dim = 8
    def e(i, scale=1.0):
        v = [0.0] * dim
        v[i] = scale
        return v

    bench = [(100 + i, e(i)) for i in range(5)]
    corpus = []
    for i in range(5):
        corpus.append((200 + i, e(i, 2.0)))        # exact scaled twin
        para = e(i)
        para[5] = 0.1                               # cos ~ 0.995
        corpus.append((300 + i, para))
    corpus += [(400, e(6)), (401, e(7))]            # unrelated
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    bdf = spark.createDataFrame(bench, "vec_id long, embedding array<double>")
    pairs = _semantic_contamination_pairs(
        cdf, bdf, threshold=0.9, n_clusters=1
    )
    got = {(r["corpus_id"], r["bench_id"]): r["cos_sim"]
           for r in pairs.collect()}
    want = {}
    for cid, cv in corpus:
        for bid, bv in bench:
            cn = np.asarray(cv) / np.linalg.norm(cv)
            bn = np.asarray(bv) / np.linalg.norm(bv)
            s = round(float(cn @ bn), 6)
            if s >= 0.9:
                want[(cid, bid)] = s
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 2e-6
    assert got[(200, 100)] == 1.0  # scalar twin: exactly 1.0 after round


def test_semantic_contamination_scaled_twins_always_recovered(spark):
    """Scale invariance: 2x-scaled corpus twins land in the SAME
    cluster as their benchmark vector under cosine argmax and are
    always reported with cos 1.0, for any cluster count."""
    import numpy as np

    rng = np.random.default_rng(5)
    bench = [
        (1000 + i, (rng.normal(size=12)).tolist()) for i in range(30)
    ]
    corpus = [(2000 + i, [2.0 * x for x in v]) for i, (bid, v) in enumerate(bench)]
    noise = [(3000 + i, rng.normal(size=12).tolist()) for i in range(50)]
    cdf = spark.createDataFrame(
        corpus + noise, "vec_id long, embedding array<double>"
    )
    bdf = spark.createDataFrame(bench, "vec_id long, embedding array<double>")
    pairs = _semantic_contamination_pairs(
        cdf, bdf, threshold=0.999, n_clusters=6
    )
    got = {(r["corpus_id"], r["bench_id"]): r["cos_sim"]
           for r in pairs.collect()}
    for i in range(30):
        assert got.get((2000 + i, 1000 + i)) == 1.0


def test_crossmodal_consistency_planted_invariants(spark):
    """E17: every vec_id % 4 == 0 item (the 2*v scalar twin) must score
    exactly 1.0 and be kept — an invariant of IEEE scale invariance,
    not of the corpus — and mismatched reverse(v) pairs must be strictly
    below 1.0 unless palindromic (none in random testdata)."""
    from etl_python_sqlite_spark.plans.ext import ext_crossmodal_consistency
    from tests.conftest import SF_SMOKE

    rows = ext_crossmodal_consistency(spark, SF_SMOKE).collect()
    assert rows, "corpus must have nonzero embeddings"
    matched = [r for r in rows if r["item_id"] % 4 == 0]
    assert matched, "corpus must have planted matched pairs"
    assert all(r["clip_score"] == 1.0 and r["kept"] for r in matched)
    mism = [r for r in rows if r["item_id"] % 4 != 0]
    assert mism and any(not r["kept"] for r in mism)


def test_hard_negative_mining_planted_ground_truth(spark, tmp_path):
    """ext_hard_negative_mining semantics on a constructed table: the
    planted cross-label near-duplicate (2·v, cosine exactly 1.0 by IEEE
    scale invariance) must win over same-label identicals and weaker
    cross-label candidates; zero-norm vectors are excluded."""
    from pyspark.sql import Row

    import __spark_entry__ as SE

    rows = [
        # anchor (vec_id % 10 == 1), label 0
        Row(vec_id=1, embedding=[1.0, 2.0, 3.0, 4.0], label=0),
        # same-label EXACT copy: cosine 1.0 but must be ignored (label)
        Row(vec_id=2, embedding=[1.0, 2.0, 3.0, 4.0], label=0),
        # cross-label scalar twin: cosine exactly 1.0 -> the hard negative
        Row(vec_id=3, embedding=[2.0, 4.0, 6.0, 8.0], label=1),
        # weaker cross-label candidate
        Row(vec_id=4, embedding=[-1.0, 5.0, 0.5, 2.0], label=2),
        # zero-norm cross-label vector: excluded by the nonzero guard
        Row(vec_id=5, embedding=[0.0, 0.0, 0.0, 0.0], label=3),
        # second anchor, label 1: its only cross-label candidates are
        # ids 1/2/4 (5 excluded); the twin of itself (id 3) is same-label
        Row(vec_id=11, embedding=[2.0, 4.0, 6.0, 8.0], label=1),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    out = {
        r["anchor_id"]: (
            r["negative_id"],
            r["negative_label"],
            float(r["neg_cos"]),
            r["n_candidates"],
        )
        for r in SE.queries()["ext_hard_negative_mining"](spark, d).collect()
    }
    # anchor 1: candidates are {3 (cos 1.0), 4, } labels !=0, id 11 (label 1,
    # cos 1.0) ties with 3 -> tie-break by vec_id picks 3
    assert out[1][0] == 3 and out[1][2] == 1.0 and out[1][3] == 3
    # anchor 11 (label 1): cross-label candidates {1, 2, 4}; ids 1 and 2
    # are parallel to it (cos 1.0), tie-break picks 1
    assert out[11][0] == 1 and out[11][2] == 1.0 and out[11][3] == 3
    assert set(out) == {1, 11}
