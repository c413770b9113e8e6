"""Baseline JPEG codec — pure stdlib + numpy, no external image library.

Implements the baseline sequential DCT process of ITU-T T.81 (the public
JPEG spec): 8-bit samples, Huffman entropy coding, SOF0 frames. This
closes the repo's long-standing "JPEG needs PIL" env-gate with a real
public-format implementation, not a stub (reference scope: scr/etl_batch.py has no media handling at all;
multimodal columns are this repo's EXT surface, see SURVEY.md §2).

Encoder (``encode_jpeg``):

* RGB (h, w, 3) or grayscale (h, w) uint8 input.
* JFIF YCbCr color transform, 4:4:4 or 4:2:0 chroma subsampling.
* Annex-K quantization tables scaled by the usual libjpeg quality curve,
  Annex-K Huffman tables (declared in DHT — decoders never assume them).
* Optional restart intervals (DRI + RSTn) for error resilience.

Decoder (``decode_jpeg``):

* Full marker parse (APPn/COM skipped, DQT 8/16-bit, multi-table DHT,
  DRI), baseline SOF0 with arbitrary sampling factors h, v ∈ {1, 2, 4}
  (4:4:4, 4:2:2, 4:2:0, grayscale all fall out of the generic MCU loop).
* Canonical Huffman decode from the tables IN THE FILE, byte-unstuffing
  (FF 00) and RSTn predictor resets, dequantize → inverse zigzag → IDCT
  (vectorized orthonormal 8×8 via two tensordots) → chroma upsample →
  YCbCr→RGB.
* Progressive DCT (SOF2, r6): spectral-selection bands, successive-
  approximation first + refinement scans for DC and AC (EOB-run
  decoding, correction bits per T.81 G.2), interleaved DC /
  single-component AC scan geometry, restart markers — coefficients
  accumulate across scans into per-component planes and reconstruct
  once at EOI. The encoder can emit a progressive scan script too
  (``encode_jpeg(progressive=True)``), giving real round-trip fixtures.
* Arithmetic-coded, hierarchical and 12-bit frames raise
  ``NotImplementedError``, detected by SOF marker. Scope note (r7,
  correcting an earlier mis-claim): arithmetic coding does NOT need
  external libraries — the QM-coder is fully specified in T.81 Annex D
  (Tables D.3/D.4) with the DCT statistical models in Annex F.1.4/F.2,
  the same public spec this module's Huffman/progressive paths came
  from. It is deliberately out of scope: the JPEG arithmetic option was
  patent-encumbered for its formative decades, so mainstream encoders
  never emit it and real-world corpora effectively contain none.

Scale notes: this codec runs INSIDE ``mapInPandas`` Arrow batches
(operators/multimodal.py) — per-row decode, no driver involvement, and
per-row failures stay data (`decode_ok=false`), so one corrupt blob in
10^10 cannot fail a stage. The hot loops (DCT, quantize, upsample,
color transform) are whole-array numpy; only the entropy coder is
per-symbol Python, bounded by payload size.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# constants: zigzag, Annex-K quantization + Huffman tables
# ---------------------------------------------------------------------------

#: zigzag scan order: ZIGZAG[i] = raster index of the i-th zigzag element
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: ITU-T T.81 Annex K.1 — luminance quantization (raster order)
QTABLE_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

#: ITU-T T.81 Annex K.2 — chrominance quantization (raster order)
QTABLE_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 Huffman specs: (bits[1..16] code-length counts, values)
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = list(range(12))

_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# baseline encode needs every (run, size) symbol with run 0..15,
# size 1..10, plus EOB (0x00) and ZRL (0xF0); DC categories 0..11.
# If these Annex-K transcriptions ever drifted, fail at import, not
# mid-encode on an executor.
assert sum(_AC_LUM_BITS) == len(_AC_LUM_VALS) == 162
assert sum(_AC_CHROM_BITS) == len(_AC_CHROM_VALS) == 162
_NEEDED_AC = {0x00, 0xF0} | {
    (run << 4) | size for run in range(16) for size in range(1, 11)
}
assert _NEEDED_AC <= set(_AC_LUM_VALS) | {0x00}
assert _NEEDED_AC <= set(_AC_CHROM_VALS)
assert set(range(12)) <= set(_DC_LUM_VALS) and set(range(12)) <= set(_DC_CHROM_VALS)

#: orthonormal 8-point DCT-II matrix; 2-D DCT is  C @ B @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_C *= 0.5
_C[0, :] *= 1.0 / np.sqrt(2.0)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a T.81 (BITS, HUFFVAL) spec."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the decoder-side view of the same spec."""
    return {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, vals).items()
    }


def scaled_qtable(base: "np.ndarray", quality: int) -> "np.ndarray":
    """Annex-K table scaled by the conventional quality curve (public
    libjpeg convention: scale = 5000/q below 50 else 200 - 2q)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------

class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:          # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits

    def raw_marker(self, marker: int) -> None:
        self.pad_to_byte()
        self.buf += bytes((0xFF, marker))


class _BitReader:
    """Reads the entropy-coded segment: unstuffs FF 00, stops at any
    other marker (caller inspects ``marker`` and may resume after RSTn)."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("truncated JPEG scan data")
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("truncated JPEG scan data at FF")
            nxt = d[p + 1]
            if nxt == 0x00:
                self.pos = p + 2
            else:
                self.marker = nxt  # real marker: stop producing bits
                raise _MarkerHit()
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


class _MarkerHit(Exception):
    """Internal: the bit reader ran into a non-stuffing marker."""


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a SIZE-bit magnitude to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# forward path: encode_jpeg
# ---------------------------------------------------------------------------

def _blockify(plane: "np.ndarray") -> "np.ndarray":
    """(H, W) float plane, H/W multiples of 8 -> (n_blocks, 8, 8) in
    raster block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _pad_edge(plane: "np.ndarray", mult: int) -> "np.ndarray":
    h, w = plane.shape
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _fdct_quant(blocks: "np.ndarray", qt: "np.ndarray") -> "np.ndarray":
    """(n, 8, 8) level-shifted floats -> (n, 64) quantized zigzag ints."""
    d = np.tensordot(np.tensordot(blocks, _C, axes=([1], [1])), _C,
                     axes=([1], [1]))
    # tensordot twice leaves axes as (n, 8w, 8h) transposed consistently:
    # first tensordot contracts rows, second contracts cols — result is
    # (n, u, v) with u from rows, v from cols, which is what C @ B @ C.T is.
    q = np.round(d.reshape(-1, 64) / qt.astype(np.float64))
    return np.clip(q, -1023, 1023).astype(np.int64)[:, ZIGZAG]


def _encode_block(
    w: _BitWriter, zz: "np.ndarray", pred: int,
    dc_codes: dict[int, tuple[int, int]], ac_codes: dict[int, tuple[int, int]],
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    size = _category(diff)
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        amp = diff if diff >= 0 else diff + (1 << size) - 1
        w.write(amp, size)
    run = 0
    last_nz = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]  # ZRL
            w.write(zc, zl)
            run -= 16
        size = _category(v)
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        amp = v if v >= 0 else v + (1 << size) - 1
        w.write(amp, size)
        run = 0
    if last_nz < 63:
        ec, el = ac_codes[0x00]  # EOB
        w.write(ec, el)
    return dc


def _emit_ac_first(
    w: _BitWriter, zz: "np.ndarray", ss: int, se: int, al: int,
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """Progressive first AC scan for one block (T.81 G.1.2.2): the
    (Ss..Se) band at precision Al, sign-magnitude point transform.
    EOB runs are never accumulated (each block ends with a plain EOB)
    so the Annex-K tables — which lack EOBn symbols — stay legal."""
    run = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        av = (-v if v < 0 else v) >> al
        if av == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]
            w.write(zc, zl)
            run -= 16
        sv = av if v > 0 else -av
        size = _category(sv)
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        amp = sv if sv >= 0 else sv + (1 << size) - 1
        w.write(amp, size)
        run = 0
    if run:
        ec, el = ac_codes[0x00]
        w.write(ec, el)


def _emit_ac_refine(
    w: _BitWriter, zz: "np.ndarray", ss: int, se: int, al: int,
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """Progressive AC refinement scan for one block (T.81 G.1.2.3):
    newly-significant coefficients appear as (run,1)+sign, correction
    bits for already-significant ones are buffered and flushed after
    the next emitted symbol — mirroring exactly what the decoder's
    advance loop consumes in position order."""
    run = 0
    pending: list[int] = []

    def flush() -> None:
        for b in pending:
            w.write(b, 1)
        pending.clear()

    for k in range(ss, se + 1):
        v = int(zz[k])
        a = -v if v < 0 else v
        av = a >> al
        if av == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]
            w.write(zc, zl)
            flush()
            run -= 16
        if av == 1 and (a >> (al + 1)) == 0:
            # newly significant at this precision
            code, length = ac_codes[(run << 4) | 1]
            w.write(code, length)
            w.write(1 if v > 0 else 0, 1)
            flush()
            run = 0
        else:
            # already significant: one correction bit, buffered
            pending.append(av & 1)
    if run or pending:
        ec, el = ac_codes[0x00]
        w.write(ec, el)
        flush()


def rgb_to_ycbcr(px: "np.ndarray") -> "np.ndarray":
    """JFIF full-range color transform, float64 (h, w, 3)."""
    f = px.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: "np.ndarray") -> "np.ndarray":
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def encode_jpeg(
    pixels: "np.ndarray",
    quality: int = 85,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Encode (h, w, 3) RGB or (h, w) grayscale uint8 to JFIF.

    ``subsampling``: "4:4:4" (chroma full-res, MCU 8×8) or "4:2:0"
    (chroma averaged 2×2, MCU 16×16). Grayscale ignores it.
    ``restart_interval``: MCUs between RSTn markers (0 = none;
    baseline only).
    ``progressive``: emit a SOF2 progressive frame with the customary
    multi-scan script (interleaved DC at Al=1 → per-component AC
    spectral bands with successive approximation → DC/AC refinement
    scans) — same quantized coefficients, identical decode result,
    real multi-scan structure for the decoder's G.2 paths.
    """
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8 pixels")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h, w, 3) RGB or (h, w) gray")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")

    qt_l = scaled_qtable(QTABLE_LUM, quality)
    qt_c = scaled_qtable(QTABLE_CHROM, quality)
    dc_l = _canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_l = _canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    dc_c = _canonical_codes(_DC_CHROM_BITS, _DC_CHROM_VALS)
    ac_c = _canonical_codes(_AC_CHROM_BITS, _AC_CHROM_VALS)

    sub420 = (not gray) and subsampling == "4:2:0"
    if gray:
        comps = [(1, 1, 1, 0)]  # (id, h, v, qtab#)
        planes = [px.astype(np.float64)]
    else:
        ycc = rgb_to_ycbcr(px)
        if sub420:
            comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            ypad = _pad_edge(ycc[..., 0], 16)
            cb = _pad_edge(ycc[..., 1], 16)
            cr = _pad_edge(ycc[..., 2], 16)
            # 2×2 box average then the half-res planes are 8-multiples
            cb = cb.reshape(cb.shape[0] // 2, 2, cb.shape[1] // 2, 2).mean((1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, cr.shape[1] // 2, 2).mean((1, 3))
            planes = [ypad, cb, cr]
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]

    # quantized zigzag blocks per component, in raster block order
    # (4:2:0 planes were pre-padded: luma to 16, half-res chroma is
    # already a multiple of 8 — _pad_edge is a no-op there)
    comp_blocks: list["np.ndarray"] = []
    comp_bw: list[int] = []  # blocks per row, for MCU addressing
    for (cid, ch, cv, tq), plane in zip(comps, planes):
        p = _pad_edge(plane, 8)
        blocks = _blockify(p) - 128.0
        qt = qt_l if tq == 0 else qt_c
        comp_blocks.append(_fdct_quant(blocks, qt))
        comp_bw.append(p.shape[1] // 8)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    # DQT (two tables, 8-bit precision, zigzag order)
    for tq, qt in ((0, qt_l), (1, qt_c)) if not gray else ((0, qt_l),):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(qt[ZIGZAG[i]]) for i in range(64))
    if progressive and restart_interval:
        raise ValueError(
            "restart intervals are supported on the baseline path only"
        )
    # SOF0 (baseline) / SOF2 (progressive)
    nc = 1 if gray else 3
    out += (b"\xff\xc2" if progressive else b"\xff\xc0")
    out += struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for cid, ch, cv, tq in comps:
        out += bytes([cid, (ch << 4) | cv, tq])
    # DHT
    hts = [(0x00, _DC_LUM_BITS, _DC_LUM_VALS), (0x10, _AC_LUM_BITS, _AC_LUM_VALS)]
    if not gray:
        hts += [(0x01, _DC_CHROM_BITS, _DC_CHROM_VALS),
                (0x11, _AC_CHROM_BITS, _AC_CHROM_VALS)]
    for tc_th, bits, vals in hts:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc_th])
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    if gray or not sub420:
        mcu_w = comp_bw[0]
        mcu_h = comp_blocks[0].shape[0] // mcu_w
    else:
        mcu_w = comp_bw[0] // 2
        mcu_h = comp_blocks[0].shape[0] // comp_bw[0] // 2

    if progressive:
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)

        def sos(sel: list[tuple[int, int]], ss, se, ah, al) -> bytes:
            seg = bytes([len(sel)])
            for cid, tdta in sel:
                seg += bytes([cid, tdta])
            seg += bytes([ss, se, (ah << 4) | al])
            return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg

        def dc_scan(ah: int, al: int) -> bytes:
            bw = _BitWriter()
            preds = [0] * len(comps)
            for mi in range(mcu_w * mcu_h):
                my, mx = divmod(mi, mcu_w)
                for ci, (cid, chh, cvv, tq) in enumerate(comps):
                    codes = dc_l if cid == 1 else dc_c
                    cbw = comp_bw[ci]
                    for by in range(cvv):
                        for bx in range(chh):
                            bi = (my * cvv + by) * cbw + (mx * chh + bx)
                            dc = int(comp_blocks[ci][bi][0])
                            if ah == 0:
                                # arithmetic point transform; diffs in
                                # the shifted domain (T.81 G.1.2.1)
                                d = dc >> al
                                diff = d - preds[ci]
                                preds[ci] = d
                                size = _category(diff)
                                code, length = codes[size]
                                bw.write(code, length)
                                if size:
                                    amp = (
                                        diff if diff >= 0
                                        else diff + (1 << size) - 1
                                    )
                                    bw.write(amp, size)
                            else:
                                bw.write((dc >> al) & 1, 1)
            bw.pad_to_byte()
            return bytes(bw.buf)

        def ac_scan(ci: int, ss, se, ah, al) -> bytes:
            cid, chh, cvv, tq = comps[ci]
            codes = ac_l if cid == 1 else ac_c
            cs_w = -(-(w * chh) // hmax)  # ceil: component samples
            cs_h = -(-(h * cvv) // vmax)
            cw = -(-cs_w // 8)  # ceil: true block grid (no MCU pad)
            chb = -(-cs_h // 8)
            cbw = comp_bw[ci]
            bw = _BitWriter()
            for by in range(chb):
                for bx in range(cw):
                    zz = comp_blocks[ci][by * cbw + bx]
                    if ah == 0:
                        _emit_ac_first(bw, zz, ss, se, al, codes)
                    else:
                        _emit_ac_refine(bw, zz, ss, se, al, codes)
            bw.pad_to_byte()
            return bytes(bw.buf)

        all_sel = [
            (cid, (0x00 if cid == 1 else 0x10)) for cid, *_ in comps
        ]

        def one_sel(ci: int) -> list[tuple[int, int]]:
            cid = comps[ci][0]
            return [(cid, 0x00 if cid == 1 else 0x01)]

        script: list[tuple[int | None, int, int, int, int]] = [
            (None, 0, 0, 0, 1),       # DC first, Al=1, interleaved
            (0, 1, 5, 0, 2),          # luma low band
        ]
        if not gray:
            script += [(2, 1, 63, 0, 1), (1, 1, 63, 0, 1)]
        script += [
            (0, 6, 63, 0, 2),         # luma high band
            (0, 1, 63, 2, 1),         # luma AC refine 2→1
            (None, 0, 0, 1, 0),       # DC refine
        ]
        if not gray:
            script += [(2, 1, 63, 1, 0), (1, 1, 63, 1, 0)]
        script += [(0, 1, 63, 1, 0)]  # luma AC refine 1→0

        for ci, ss_, se_, ah_, al_ in script:
            if ci is None:
                out += sos(all_sel, ss_, se_, ah_, al_)
                out += dc_scan(ah_, al_)
            else:
                out += sos(one_sel(ci), ss_, se_, ah_, al_)
                out += ac_scan(ci, ss_, se_, ah_, al_)
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # SOS (baseline single scan)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for cid, *_ in comps:
        td_ta = 0x00 if cid == 1 else 0x11
        out += bytes([cid, td_ta])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    # entropy-coded data, MCU interleaved
    bw = _BitWriter()
    preds = [0] * len(comps)
    rst = 0
    mcus_done = 0
    for my in range(mcu_h):
        for mx in range(mcu_w):
            if restart_interval and mcus_done and mcus_done % restart_interval == 0:
                bw.raw_marker(0xD0 + (rst & 7))
                rst += 1
                preds = [0] * len(comps)
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                codes_dc = dc_l if cid == 1 else dc_c
                codes_ac = ac_l if cid == 1 else ac_c
                zz_all = comp_blocks[ci]
                cbw = comp_bw[ci]
                for by in range(cv):
                    for bx in range(ch):
                        bi = (my * cv + by) * cbw + (mx * ch + bx)
                        preds[ci] = _encode_block(
                            bw, zz_all[bi], preds[ci], codes_dc, codes_ac
                        )
            mcus_done += 1
    bw.pad_to_byte()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# inverse path: decode_jpeg
# ---------------------------------------------------------------------------

class DecodedJpeg(NamedTuple):
    width: int
    height: int
    #: (h, w, 3) uint8 RGB (grayscale replicated)
    pixels: "np.ndarray"
    n_components: int


class _Component(NamedTuple):
    cid: int
    h: int
    v: int
    tq: int


def decode_jpeg(data: bytes) -> DecodedJpeg:
    """Decode a baseline sequential (SOF0/SOF1) or progressive (SOF2)
    8-bit Huffman JPEG. Progressive scans accumulate coefficients into
    per-component planes (spectral selection + successive approximation
    per T.81 G.2); reconstruction happens once, after the last scan."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, "np.ndarray"] = {}
    dc_tabs: dict[int, dict[tuple[int, int], int]] = {}
    ac_tabs: dict[int, dict[tuple[int, int], int]] = {}
    frame: tuple[int, int, list[_Component]] | None = None
    restart_interval = 0
    pixels: "np.ndarray | None" = None
    progressive = False
    prog_planes: dict[int, "np.ndarray"] = {}
    prog_scans = 0

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker sync lost at offset {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack(">H", data[pos + 2: pos + 4])[0]
        seg = data[pos + 4: pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                raw = seg[i: i + n]
                if len(raw) < n:
                    raise ValueError("truncated DQT")
                vals = (
                    np.frombuffer(raw, ">u2").astype(np.int64)
                    if pq else np.frombuffer(raw, np.uint8).astype(np.int64)
                )
                t = np.zeros(64, np.int64)
                t[ZIGZAG] = vals
                qtables[tq] = t
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1: i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17: i + 17 + nv])
                if len(vals) < nv:
                    raise ValueError("truncated DHT")
                tab = _decode_table(bits, vals)
                (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG not supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci: 9 + 3 * ci]
                comps.append(_Component(cid, hv >> 4, hv & 0x0F, tq))
            frame = (fw, fh, comps)
            progressive = marker == 0xC2
            if progressive:
                # persistent coefficient planes — every scan deposits
                # its spectral band / approximation bits here
                hmax = max(c.h for c in comps)
                vmax = max(c.v for c in comps)
                mw = -(-fw // (8 * hmax))
                mh = -(-fh // (8 * vmax))
                prog_planes = {
                    c.cid: np.zeros((mh * c.v * mw * c.h, 64), np.int64)
                    for c in comps
                }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG process (SOF{marker - 0xC0}: "
                "arithmetic-coded / hierarchical / lossless)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si: 3 + 2 * si]
                scan_sel.append((cs, tdta >> 4, tdta & 0x0F))
            scan_start = pos + 2 + seglen
            if progressive:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                pos = _decode_progressive_scan(
                    data, scan_start, frame, scan_sel, dc_tabs, ac_tabs,
                    restart_interval, prog_planes,
                    ss, se, ahal >> 4, ahal & 0x0F,
                )
                prog_scans += 1
            else:
                pixels, pos = _decode_scan(
                    data, scan_start, frame, scan_sel, qtables,
                    dc_tabs, ac_tabs, restart_interval,
                )
            continue  # pos already advanced past the scan
        # APPn, COM, everything else: skip
        pos += 2 + seglen

    if progressive and prog_scans:
        pixels = _reconstruct_pixels(frame, prog_planes, qtables)
    if frame is None or pixels is None:
        raise ValueError("no decodable scan found")
    fw, fh, comps = frame
    return DecodedJpeg(fw, fh, pixels, len(comps))


def _decode_scan(
    data: bytes,
    pos: int,
    frame: tuple[int, int, list[_Component]],
    scan_sel: list[tuple[int, int, int]],
    qtables: dict[int, "np.ndarray"],
    dc_tabs: dict[int, dict[tuple[int, int], int]],
    ac_tabs: dict[int, dict[tuple[int, int], int]],
    restart_interval: int,
) -> tuple["np.ndarray", int]:
    fw, fh, comps = frame
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcu_w = -(-fw // (8 * hmax))
    mcu_h = -(-fh // (8 * vmax))

    by_id = {c.cid: c for c in comps}
    order = []
    for cs, td, ta in scan_sel:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        order.append((by_id[cs], td, ta))

    # per-component coefficient planes in block units
    planes: dict[int, "np.ndarray"] = {}
    for c in comps:
        pw = mcu_w * c.h
        ph = mcu_h * c.v
        planes[c.cid] = np.zeros((ph * pw, 64), np.int64)

    reader = _BitReader(data, pos)
    preds = {c.cid: 0 for c in comps}
    mcus_done = 0
    total_mcus = mcu_w * mcu_h
    try:
        for mi in range(total_mcus):
            if restart_interval and mcus_done and mcus_done % restart_interval == 0:
                # expect an RSTn between intervals
                _skip_to_rst(reader)
                preds = {c.cid: 0 for c in comps}
            my, mx = divmod(mi, mcu_w)
            for c, td, ta in order:
                dct = dc_tabs.get(td)
                act = ac_tabs.get(ta)
                if dct is None or act is None:
                    raise ValueError("scan uses undeclared Huffman table")
                pw = mcu_w * c.h
                for by in range(c.v):
                    for bx in range(c.h):
                        zz = _decode_block(reader, dct, act)
                        zz[0] += preds[c.cid]
                        preds[c.cid] = zz[0]
                        bi = (my * c.v + by) * pw + (mx * c.h + bx)
                        planes[c.cid][bi] = zz
            mcus_done += 1
    except _MarkerHit:
        raise ValueError(
            f"unexpected marker FF{reader.marker:02X} inside scan"
        ) from None

    # advance pos past the scan to the next marker
    end = reader.pos
    while end + 1 < len(data) and not (
        data[end] == 0xFF and data[end + 1] not in (0x00,)
        and not (0xD0 <= data[end + 1] <= 0xD7)
    ):
        end += 1

    return _reconstruct_pixels(frame, planes, qtables), end


def _reconstruct_pixels(
    frame: tuple[int, int, list[_Component]],
    planes: dict[int, "np.ndarray"],
    qtables: dict[int, "np.ndarray"],
) -> "np.ndarray":
    """Per-component dequantize → inverse zigzag → IDCT → upsample →
    color transform, shared by the baseline one-scan path and the
    progressive end-of-frame reconstruction."""
    fw, fh, comps = frame
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcu_w = -(-fw // (8 * hmax))
    mcu_h = -(-fh // (8 * vmax))
    comp_imgs: dict[int, "np.ndarray"] = {}
    for c in comps:
        qt = qtables.get(c.tq)
        if qt is None:
            raise ValueError(f"component {c.cid} uses undeclared qtable {c.tq}")
        pw = mcu_w * c.h
        ph = mcu_h * c.v
        # dequantize in zigzag space, then scatter to raster
        deq = planes[c.cid].astype(np.float64) * qt[ZIGZAG][np.newaxis, :]
        raster = np.zeros_like(deq)
        raster[:, ZIGZAG] = deq
        blocks = raster.reshape(-1, 8, 8)
        spatial = np.tensordot(np.tensordot(blocks, _C, axes=([1], [0])), _C,
                               axes=([1], [0]))
        img = (
            spatial.reshape(ph, pw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(ph * 8, pw * 8)
        ) + 128.0
        # upsample to full MCU grid resolution
        ry = (8 * vmax * mcu_h) // img.shape[0]
        rx = (8 * hmax * mcu_w) // img.shape[1]
        if ry > 1 or rx > 1:
            img = np.repeat(np.repeat(img, ry, axis=0), rx, axis=1)
        comp_imgs[c.cid] = img[:fh, :fw]

    if len(comps) == 1:
        g = np.clip(comp_imgs[comps[0].cid], 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if len(comps) == 3:
        ycc = np.stack(
            [comp_imgs[comps[0].cid], comp_imgs[comps[1].cid],
             comp_imgs[comps[2].cid]], axis=-1,
        )
        return ycbcr_to_rgb(ycc)
    raise NotImplementedError(f"{len(comps)}-component JPEG not supported")


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    frame: tuple[int, int, list[_Component]],
    scan_sel: list[tuple[int, int, int]],
    dc_tabs: dict[int, dict[tuple[int, int], int]],
    ac_tabs: dict[int, dict[tuple[int, int], int]],
    restart_interval: int,
    planes: dict[int, "np.ndarray"],
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> int:
    """One progressive scan (T.81 G.2): deposit the (Ss..Se) spectral
    band at approximation bit Al into the persistent coefficient
    planes. DC scans (Ss=0) may be interleaved over all components; AC
    scans are single-component and traverse the component's OWN ceil
    block grid (not the MCU-padded grid). ``Ah=0`` is a first scan,
    ``Ah>0`` a refinement adding one magnitude bit. Returns the
    position just past the scan's entropy data."""
    fw, fh, comps = frame
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcu_w = -(-fw // (8 * hmax))
    mcu_h = -(-fh // (8 * vmax))
    by_id = {c.cid: c for c in comps}
    order = []
    for cs, td, ta in scan_sel:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        order.append((by_id[cs], td, ta))
    if ss > 0 and len(order) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if se > 63 or ss > se:
        raise ValueError("invalid spectral band")

    reader = _BitReader(data, pos)
    state = {"eob_run": 0}
    preds = {c.cid: 0 for c, _, _ in order}
    p1 = 1 << al

    def refine_nonzero(coef: "np.ndarray", k: int) -> None:
        if reader.read_bit() and not (int(coef[k]) & p1):
            coef[k] += p1 if coef[k] > 0 else -p1

    def do_dc_first(coef: "np.ndarray", c: _Component, dct) -> None:
        t = _decode_symbol(reader, dct)
        diff = _extend(reader.receive(t), t) if t else 0
        preds[c.cid] += diff
        coef[0] = preds[c.cid] << al

    def do_dc_refine(coef: "np.ndarray") -> None:
        if reader.read_bit():
            coef[0] |= p1

    def do_ac_first(coef: "np.ndarray", act) -> None:
        if state["eob_run"]:
            state["eob_run"] -= 1
            return
        k = ss
        while k <= se:
            rs = _decode_symbol(reader, act)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    state["eob_run"] = (1 << r) - 1
                    if r:
                        state["eob_run"] += reader.receive(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            coef[k] = _extend(reader.receive(s), s) << al
            k += 1

    def do_ac_refine(coef: "np.ndarray", act) -> None:
        k = ss
        if state["eob_run"] == 0:
            while k <= se:
                rs = _decode_symbol(reader, act)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        state["eob_run"] = (1 << r)
                        if r:
                            state["eob_run"] += reader.receive(r)
                        break
                    val = 0  # ZRL: 16 zero-history skips
                elif s == 1:
                    val = p1 if reader.read_bit() else -p1
                else:
                    raise ValueError("invalid refinement magnitude")
                # advance over r zero-history coefficients, applying
                # correction bits at already-significant positions
                while k <= se:
                    if coef[k]:
                        refine_nonzero(coef, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    coef[k] = val
                k += 1
        if state["eob_run"]:
            # this block's tail (and every whole block while the run
            # lasts) still carries correction bits for nonzero coeffs
            while k <= se:
                if coef[k]:
                    refine_nonzero(coef, k)
                k += 1
            state["eob_run"] -= 1

    try:
        if len(order) > 1:
            # interleaved MCU traversal — only legal for DC scans
            for mi in range(mcu_w * mcu_h):
                if restart_interval and mi and mi % restart_interval == 0:
                    _skip_to_rst(reader)
                    preds = {c.cid: 0 for c, _, _ in order}
                my, mx = divmod(mi, mcu_w)
                for c, td, ta in order:
                    tab = dc_tabs.get(td) if ah == 0 else None
                    if ah == 0 and tab is None:
                        raise ValueError("scan uses undeclared DC table")
                    pw = mcu_w * c.h
                    for by in range(c.v):
                        for bx in range(c.h):
                            bi = (my * c.v + by) * pw + (mx * c.h + bx)
                            coef = planes[c.cid][bi]
                            if ah == 0:
                                do_dc_first(coef, c, tab)
                            else:
                                do_dc_refine(coef)
        else:
            # single-component scan: by definition non-interleaved —
            # traverse the component's OWN ceil block grid (T.81 A.2),
            # writing into the MCU-padded plane via its row stride
            c, td, ta = order[0]
            if ss == 0:
                tab = dc_tabs.get(td) if ah == 0 else None
                if ah == 0 and tab is None:
                    raise ValueError("scan uses undeclared DC table")
                act = None
            else:
                act = ac_tabs.get(ta)
                if act is None:
                    raise ValueError("scan uses undeclared AC table")
            cs_w = -(-(fw * c.h) // hmax)  # ceil: component samples
            cs_h = -(-(fh * c.v) // vmax)
            cw = -(-cs_w // 8)  # ceil: component blocks per row
            ch = -(-cs_h // 8)
            pw = mcu_w * c.h
            plane = planes[c.cid]
            for u in range(cw * ch):
                if restart_interval and u and u % restart_interval == 0:
                    _skip_to_rst(reader)
                    state["eob_run"] = 0
                    preds = {c.cid: 0 for c, _, _ in order}
                by, bx = divmod(u, cw)
                coef = plane[by * pw + bx]
                if ss == 0:
                    if ah == 0:
                        do_dc_first(coef, c, tab)
                    else:
                        do_dc_refine(coef)
                elif ah == 0:
                    do_ac_first(coef, act)
                else:
                    do_ac_refine(coef, act)
    except _MarkerHit:
        raise ValueError(
            f"unexpected marker FF{reader.marker:02X} inside scan"
        ) from None

    end = reader.pos
    while end + 1 < len(data) and not (
        data[end] == 0xFF and data[end + 1] not in (0x00,)
        and not (0xD0 <= data[end + 1] <= 0xD7)
    ):
        end += 1
    return end


def _skip_to_rst(reader: _BitReader) -> None:
    """Advance the reader to just past the next RSTn marker."""
    # flush to byte boundary, scan forward for FF Dn
    reader.acc = 0
    reader.nbits = 0
    d = reader.data
    p = reader.pos
    while p + 1 < len(d):
        if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            reader.pos = p + 2
            reader.marker = None
            return
        p += 1
    raise ValueError("expected RST marker, hit end of data")


def _decode_block(
    reader: _BitReader,
    dct: dict[tuple[int, int], int],
    act: dict[tuple[int, int], int],
) -> "np.ndarray":
    zz = np.zeros(64, np.int64)
    t = _decode_symbol(reader, dct)
    if t:
        zz[0] = _extend(reader.receive(t), t)
    k = 1
    while k < 64:
        rs = _decode_symbol(reader, act)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        run, size = rs >> 4, rs & 0x0F
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(reader.receive(size), size)
        k += 1
    return zz


def _decode_symbol(
    reader: _BitReader, table: dict[tuple[int, int], int]
) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")
