"""Streaming mini-batch k-means (streaming/pipeline.maintain_kmeans_stream):
state equals a pure-Python sequential replay of the documented algorithm,
and a full fresh-checkpoint rerun reproduces the identical state
(versioned-state exactly-once)."""

from __future__ import annotations

import hashlib
import itertools
import math

import pytest
from pyspark.sql import functions as F  # noqa: F401 (parity with siblings)

pytestmark = pytest.mark.slow  # heavy e2e tier (pytest.ini default deselects)

SCHEMA = "vec_id long, embedding array<float>"
K = 3
DIM = 4


def _ph(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _q(x: float) -> int:
    # the source column is array<float>: round-trip through float32
    # first (the engine quantizes the WIDENED float32 value, not the
    # original python double)
    import numpy as np

    return math.floor((float(np.float32(x)) + 1.0) * 1_000_000)


def _replay(batches):
    """Sequential mini-batch k-means, exactly as documented: batch 0
    seeds itself (k smallest phash60 ids), later batches assign to the
    floor-division means of the accumulated (sum, n) state."""
    state: dict = {}  # cid -> [sums per d], counts: cid -> n
    counts: dict = {}
    for batch in batches:
        Q = {vid: [_q(x) for x in vec] for vid, vec in batch}
        if not state:
            ids = sorted(Q, key=lambda v: (_ph(str(v)), v))[:K]
            cents = {i: list(Q[v]) for i, v in enumerate(ids)}
        else:
            cents = {
                cid: [s // counts[cid] for s in sums]
                for cid, sums in state.items()
            }
        for vid, q in Q.items():
            best = None
            for cid in sorted(cents):
                dd = sum((a - b) * (a - b) for a, b in zip(q, cents[cid]))
                if best is None or dd < best[1]:
                    best = (cid, dd)
            cid = best[0]
            if cid not in state:
                state[cid] = [0] * DIM
                counts[cid] = 0
            state[cid] = [s + a for s, a in zip(state[cid], q)]
            counts[cid] += 1
    return {
        (cid, d): (state[cid][d], counts[cid])
        for cid in state
        for d in range(DIM)
    }


def _batches():
    """Three micro-batches of vectors around far-apart anchors."""
    anchors = [(-0.8, 0.1), (0.0, -0.5), (0.7, 0.6)]
    out = []
    vid = 0
    for b in range(3):
        rows = []
        for i in range(10):
            ax, ay = anchors[(b + i) % 3]
            eps = (i - 5) / 100.0
            rows.append(
                (vid, [ax + eps, ay - eps, ax / 2 + eps, ay / 2 - eps])
            )
            vid += 1
        out.append(rows)
    return out


def _run(spark, tmp_path, src, ckpt, state):
    from etl_python_sqlite_spark.streaming.pipeline import (
        maintain_kmeans_stream,
    )

    s = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        maintain_kmeans_stream(s, state, k=K)
        .option("checkpointLocation", str(tmp_path / ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _snap(spark, state):
    from etl_python_sqlite_spark.streaming.pipeline import read_state

    return {
        (r["cid"], r["d"]): (int(r["sum_q"]), r["n"])
        for r in read_state(spark, state).collect()
    }


def test_streaming_kmeans_matches_sequential_replay(spark, tmp_path):
    batches = _batches()
    src = str(tmp_path / "km_src")
    for rows in batches:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = str(tmp_path / "km_state")
    _run(spark, tmp_path, src, "km_ck1", state)
    got = _snap(spark, state)

    # the file source fixes SOME deterministic batch order; the streamed
    # state must equal the sequential replay of exactly one permutation
    matches = [
        p
        for p in itertools.permutations(batches)
        if _replay(list(p)) == got
    ]
    assert matches, "state matches no sequential replay of the batches"

    # totals are order-invariant: every vector contributed once
    n_total = sum(n for (cid, d), (s, n) in got.items() if d == 0)
    assert n_total == sum(len(b) for b in batches)

    # exactly-once: a full fresh-checkpoint rerun (same source listing →
    # same batch order) rewrites the same versions with identical state
    _run(spark, tmp_path, src, "km_ck2", state)
    assert _snap(spark, state) == got


def test_streaming_kmeans_centroids_follow_state(spark, tmp_path):
    """kmeans_state_centroids derives floor-division means; feeding a
    NEW batch through the maintained centroids equals the batch operator
    assignment against the same centroid frame."""
    from etl_python_sqlite_spark.operators.clustering import (
        _assign,
        flatten_quantized,
    )
    from etl_python_sqlite_spark.streaming.pipeline import (
        kmeans_state_centroids,
        read_state,
    )

    batches = _batches()
    src = str(tmp_path / "kc_src")
    for rows in batches[:2]:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "kc_state")
    _run(spark, tmp_path, src, "kc_ck", state)

    st = read_state(spark, state)
    cents = kmeans_state_centroids(st)
    probe = spark.createDataFrame(batches[2], SCHEMA)
    assigned = _assign(flatten_quantized(probe), cents)
    got = {r["vid"]: r["cid"] for r in assigned.select("vid", "cid").collect()}
    assert len(got) == len(batches[2])
    assert set(got.values()) <= set(range(K))


def test_retain_versions_guard(spark, tmp_path):
    """retain_versions=1 would prune the predecessor version a replayed
    batch must read — the maintainer then silently RESEEDS from batch
    content, discarding all accumulated state. The one guard in
    ``_versioned_state_writer`` rejects it up front for all four
    streaming maintainers (ADVICE r8)."""
    import pytest

    from etl_python_sqlite_spark.streaming.pipeline import (
        maintain_kmeans_stream,
        maintain_kmv_stream,
        maintain_nb_stream,
        maintain_rollup_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(_batches()[0], SCHEMA).coalesce(1).write.parquet(src)
    s = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(ValueError, match="retain_versions"):
        maintain_kmeans_stream(s, str(tmp_path / "st"), retain_versions=1)
    with pytest.raises(ValueError, match="retain_versions"):
        maintain_rollup_stream(
            s, ["vec_id"], "vec_id", str(tmp_path / "st2"), retain_versions=0
        )
    with pytest.raises(ValueError, match="retain_versions"):
        maintain_nb_stream(s, str(tmp_path / "st4"), retain_versions=1)
    with pytest.raises(ValueError, match="retain_versions"):
        maintain_kmv_stream(s, str(tmp_path / "st5"), retain_versions=1)
    # the default (3) still constructs a writer without starting it
    assert maintain_kmeans_stream(s, str(tmp_path / "st3")) is not None


def test_starved_centroid_state_persists(spark, tmp_path):
    """Dead-centroid policy (pinned contract, r8 VERDICT item 8): a
    centroid no later batch assigns to keeps its accumulated (Σq, n)
    state verbatim — the stream never re-seeds on starvation (that
    would make state depend on batch boundaries and break replay
    determinism). Batch 2's vectors all sit at one anchor, so the other
    centroids' state rows must come through unchanged."""
    batches = _batches()
    src = str(tmp_path / "sv_src")
    state = str(tmp_path / "sv_state")
    # batch 1: the normal mixed batch seeds K centroids
    spark.createDataFrame(batches[0], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, tmp_path, src, "sv_ck", state)
    before = _snap(spark, state)
    cids_before = {cid for (cid, _) in before}
    assert len(cids_before) == K
    # batch 2: every vector is a near-duplicate of ONE anchor — it
    # assigns to a single centroid; all others are starved
    ax, ay = 0.8, -0.8
    rows = [
        (1000 + i, [ax + i / 1e4, ay - i / 1e4, ax / 2, ay / 2])
        for i in range(10)
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, tmp_path, src, "sv_ck", state)
    after = _snap(spark, state)
    assert {cid for (cid, _) in after} == cids_before  # nobody re-seeded
    changed = {cid for (cid, d), v in after.items() if before[(cid, d)] != v}
    assert len(changed) == 1, changed  # exactly the one fed centroid
    for key, v in before.items():
        if key[0] not in changed:
            assert after[key] == v  # starved state is verbatim
