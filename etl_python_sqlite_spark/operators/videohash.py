"""Perceptual video near-duplicate detection — per-frame dHash
fingerprints + shared-fingerprint pairing, completing the multimodal
dedup trio (images: ``imagehash``, audio: ``audiohash``; the reference
engine has no media path at all).

The standard production shape (cf. content-ID-style systems and the
frame-fingerprint literature): sample frames, fingerprint each frame
with a perceptual hash, and call two videos near-duplicates when they
share at least ``min_shared`` distinct frame fingerprints. Matching on
fingerprint IDENTITY keeps the pairing an equi-join (uniform key, no
all-pairs); robustness to re-encoding/resizing lives INSIDE the frame
hash (dHash), and robustness to cuts/reorders lives in the set
semantics — a reordered or truncated copy still shares most frame
fingerprints.

Scale shape: one Arrow-batched pass splits the container (byte
arithmetic, only sampled frames pay a pixel decode) and hashes frames;
the pair stage is DISTINCT (id, hash) → self-equi-join on the hash →
pair-count aggregate — the ``dedup.winnowing_overlap_pairs_portable``
plan over frame fingerprints instead of text shingles.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tie
from .dedup import cap_fingerprint_df
from .imagehash import band_explode, dhash60


def video_frame_hashes(
    media: DataFrame,
    every_n: int = 1,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """(id, frame_idx, fhash, decode_ok) — every ``every_n``-th frame
    of each concatenated-BMP video (multimodal.split_bmv_frames; real
    decoders) fingerprinted with :func:`imagehash.dhash60`. Corrupt
    containers route to one ``decode_ok=false`` row (frame_idx −1),
    corrupt frames to per-frame reject rows — never a stage abort."""
    import struct as _struct

    from .multimodal import decode_image, split_bmv_frames

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                mid = int(mid)
                try:
                    frames = split_bmv_frames(
                        bytes(content) if content is not None else b""
                    )
                except (ValueError, _struct.error):
                    rows.append((mid, -1, None, False))
                    continue
                for idx in range(0, len(frames), every_n):
                    try:
                        img = decode_image(frames[idx])
                        rows.append((mid, idx, dhash60(img.pixels), True))
                    except Exception:  # noqa: BLE001 — per-frame reject
                        rows.append((mid, idx, None, False))
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_idx", "fhash", "decode_ok"]
            ).astype({"fhash": "Int64"})

    return media.select(id_col, content_col).mapInPandas(
        _hash,
        schema=f"{id_col} long, frame_idx int, fhash long, decode_ok boolean",
    )


def video_near_dups(
    frame_hashes: DataFrame,
    min_shared: int = 2,
    id_col: str = "media_id",
    hash_col: str = "fhash",
    max_fingerprint_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared) — video pairs sharing ≥ ``min_shared``
    DISTINCT frame fingerprints. Set semantics (duplicate frames within
    one video count once), so reordered/truncated copies pair by
    construction. The fingerprint frame is persisted for the self-join
    (re-inlining rule) and tied to the result.

    The fingerprint key is uniform on md5-chain synthetic corpora, but
    a REAL corpus has hot fingerprints (black frames, intro cards) —
    pass ``max_fingerprint_df`` to prune them before the join (see
    :func:`~etl_python_sqlite_spark.operators.dedup.cap_fingerprint_df`);
    candidate work is then bounded by
    O(n_fingerprints · max_fingerprint_df)."""
    fp = (
        frame_hashes.filter(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("vid"), F.col(hash_col).alias("h"))
        .distinct()
        .persist()
    )
    capped = cap_fingerprint_df(fp, max_fingerprint_df, key_col="h")
    a = capped.select(F.col("vid").alias("id_a"), "h")
    b = capped.select(F.col("vid").alias("id_b"), "h")
    out = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return tie(out, fp)


def video_near_dups_hamming(
    frame_hashes: DataFrame,
    max_hamming: int = 6,
    min_shared: int = 2,
    n_bands: int = 4,
    id_col: str = "media_id",
    hash_col: str = "fhash",
    max_fingerprint_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared) — video pairs whose frames match within
    ``max_hamming`` dHash bits, the lossy-re-encode-robust sibling of
    :func:`video_near_dups`.

    Exact fingerprint identity is blind to the most common real-world
    video duplicate: a lossy (JPEG-quality) re-encode shifts 1–2 dHash
    bits PER FRAME and then shares zero exact fingerprints. Here each
    distinct frame fingerprint is banded with the image machinery
    (``n_bands`` disjoint 15-bit bands — every frame pair within
    Hamming ``n_bands - 1`` is pigeonhole-guaranteed to collide on some
    band), candidates verify with exact ``bit_count(XOR)``, and
    ``n_shared`` counts DISTINCT matched fingerprint pairs (at
    ``max_hamming = 0`` this degenerates to the exact operator's
    shared-fingerprint count).

    Scale shape: the (vid, fingerprint) frame is distinct + eagerly
    checkpointed (consumed by both band-join sides), banding is an
    explode to ``n_bands`` rows per fingerprint, the candidate join is
    band-keyed with the 60-bit hashes CARRIED through (no verify
    re-join — unlike the image path, (vid, h) rows are already the
    payload), and the verify is pure JVM codegen. ``max_fingerprint_df``
    prunes hot fingerprints exactly as in the exact operator."""
    fp = (
        frame_hashes.filter(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("vid"), F.col(hash_col).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    banded = band_explode(
        cap_fingerprint_df(fp, max_fingerprint_df, key_col="h"),
        "vid",
        "h",
        n_bands,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    matched = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .filter(
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
            <= max_hamming
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .distinct()
    )
    out = (
        matched.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return tie(out, fp)
