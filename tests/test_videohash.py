"""Video frame-fingerprint near-dup detection (operators/videohash):
recall on reordered/truncated/re-encoded copies, set semantics,
threshold behavior, and the per-row reject contract."""

from __future__ import annotations

import pytest
import numpy as np

from etl_python_sqlite_spark.operators import multimodal as M
from etl_python_sqlite_spark.operators.imagehash import dhash60
from etl_python_sqlite_spark.operators.videohash import (
    video_frame_hashes,
    video_near_dups,
)


def _frames(seed: int, n: int = 4) -> list:
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
        for _ in range(n)
    ]


def test_frame_hashes_match_dhash_and_route_rejects(spark):
    fr = _frames(1)
    rows = [
        (1, bytearray(M.encode_bmv(fr))),
        (2, bytearray(b"XX not a container")),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = video_frame_hashes(media).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in got}
    for i, f in enumerate(fr):
        r = by_key[(1, i)]
        assert r["decode_ok"] and r["fhash"] == dhash60(f)
    bad = by_key[(2, -1)]
    assert not bad["decode_ok"] and bad["fhash"] is None


def test_near_dups_recall_reorder_truncate_dupframes(spark):
    rows = []
    n_base = 12
    for i in range(n_base):
        fr = _frames(100 + i)
        rows.append((i, bytearray(M.encode_bmv(fr))))
        rows.append((1000 + i, bytearray(M.encode_bmv(fr[::-1]))))
        rows.append((2000 + i, bytearray(M.encode_bmv(fr[:-1]))))
        # duplicated frames: set semantics must count each hash once
        rows.append((3000 + i, bytearray(M.encode_bmv(fr + fr[:2]))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = video_near_dups(video_frame_hashes(media), min_shared=2)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs.collect()}
    for i in range(n_base):
        assert got[(i, 1000 + i)] == 4       # reorder: full set match
        assert got[(i, 2000 + i)] == 3       # truncate: 3 shared
        assert got[(i, 3000 + i)] == 4       # dup frames count once
    for (a, b) in got:
        assert a % 1000 == b % 1000  # no cross-base pairs


def test_min_shared_threshold(spark):
    fr_a = _frames(7)
    fr_b = _frames(8)
    # one shared frame only -> below min_shared=2
    mixed = [fr_a[0]] + fr_b[1:]
    media = spark.createDataFrame(
        [
            (1, bytearray(M.encode_bmv(fr_a))),
            (2, bytearray(M.encode_bmv(mixed))),
        ],
        "media_id long, content binary",
    )
    pairs = video_near_dups(video_frame_hashes(media), min_shared=2)
    assert pairs.count() == 0
    pairs1 = video_near_dups(video_frame_hashes(media), min_shared=1)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs1.collect()}
    assert got == {(1, 2): 1}


def _noisy(frame: np.ndarray, deltas: dict) -> np.ndarray:
    """Perturb payload bytes {flat_index: additive delta mod 256} —
    the lossy-re-encode surrogate (shifts a few dHash bits/frame)."""
    flat = frame.reshape(-1).copy()
    for t, d in deltas.items():
        flat[t] = (int(flat[t]) + d) % 256
    return flat.reshape(frame.shape)


def test_hamming_near_dups_recall_noisy_frames(spark):
    """Lossy-re-encode robustness (VERDICT r10 #2): per-frame noise
    shifting a few dHash bits breaks EXACT fingerprint identity but the
    Hamming-banded variant still pairs every twin."""
    from etl_python_sqlite_spark.operators.videohash import (
        video_near_dups_hamming,
    )

    deltas = {5: 128, 200: 64, 431: 200}  # three distinct dHash cells
    rows = []
    n_base = 10
    drift = []
    for i in range(n_base):
        fr = _frames(300 + i)
        noisy = [_noisy(f, deltas) for f in fr]
        drift.append(
            max(
                bin(dhash60(a) ^ dhash60(b)).count("1")
                for a, b in zip(fr, noisy)
            )
        )
        rows.append((i, bytearray(M.encode_bmv(fr))))
        rows.append((1000 + i, bytearray(M.encode_bmv(noisy))))
    assert max(drift) <= 6 and max(drift) >= 1  # genuine near, not exact
    media = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = video_frame_hashes(media)

    exact = video_near_dups(hashes, min_shared=2)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    hamming = video_near_dups_hamming(hashes, max_hamming=6, min_shared=2)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in hamming.collect()}
    for i in range(n_base):
        assert got[(i, 1000 + i)] == 4  # every frame matches its twin
    assert set(got) >= exact_pairs  # strictly more tolerant than exact
    for (a, b) in got:
        assert a % 1000 == b % 1000  # no cross-base pairs


def test_hamming_degenerates_to_exact_at_zero(spark):
    rows = []
    for i in range(6):
        fr = _frames(400 + i)
        rows.append((i, bytearray(M.encode_bmv(fr))))
        rows.append((1000 + i, bytearray(M.encode_bmv(fr[::-1]))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = video_frame_hashes(media)
    from etl_python_sqlite_spark.operators.videohash import (
        video_near_dups_hamming,
    )

    exact = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in video_near_dups(hashes, min_shared=2).collect()
    }
    zero = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in video_near_dups_hamming(
            hashes, max_hamming=0, min_shared=2
        ).collect()
    }
    assert zero == exact


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_fingerprint_df_cap_bounds_hot_frame(spark):
    """Skew hazard (VERDICT r10 #3): one ubiquitous frame (black) across
    many videos must NOT emit the quadratic join — with the cap the
    shared-black-frame pairs vanish, genuine twins survive."""
    from etl_python_sqlite_spark.operators.videohash import (
        video_near_dups_hamming,
    )

    black = np.zeros((16, 18, 3), dtype=np.uint8)
    rows = []
    n = 40  # uncapped: C(40,2) = 780 pairs from the black frame alone
    for i in range(n):
        fr = _frames(500 + i, n=3) + [black]
        rows.append((i, bytearray(M.encode_bmv(fr))))
    # one genuine twin pair sharing REAL content (ids n, n+1)
    fr = _frames(999, n=3) + [black]
    rows.append((n, bytearray(M.encode_bmv(fr))))
    rows.append((n + 1, bytearray(M.encode_bmv(fr[::-1]))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = video_frame_hashes(media)

    uncapped = video_near_dups(hashes, min_shared=1)
    assert uncapped.count() > 500  # the quadratic blowup, demonstrated

    capped = video_near_dups(hashes, min_shared=1, max_fingerprint_df=5)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in capped.collect()}
    assert got == {(n, n + 1): 3}  # black frame pruned, content kept

    capped_h = video_near_dups_hamming(
        hashes, max_hamming=6, min_shared=1, max_fingerprint_df=5
    )
    got_h = {(r["id_a"], r["id_b"]) for r in capped_h.collect()}
    assert (n, n + 1) in got_h
    assert all(a == n and b == n + 1 for a, b in got_h)
