"""Multimodal column plumbing (EXT): image/audio/video as opaque binary.

Real Spark-side machinery — schema, partitioning, Arrow batch shape,
``mapInPandas`` signatures — with REAL stdlib decoders for the
container-friendly formats:

* images: BMP (24-bit uncompressed BI_RGB), PPM (binary P6), PNG
  (ALL static pixel formats of the spec: gray / truecolor / paletted /
  gray+alpha / RGBA at every legal bit depth 1–16, non-interlaced and
  Adam7 — stdlib ``zlib`` inflate + full filter-type-0..4 scanline
  reconstruction + bit-level sample unpack), GIF87a/89a (full LZW
  decompression with variable code widths, global/local palettes,
  interlace reordering, extension-block skipping — first frame of an
  animation), and **baseline JPEG** (SOF0 Huffman DCT — a full T.81
  baseline codec in ``operators/jpeg.py``, encoder + decoder, 4:4:4 /
  4:2:0 / grayscale / restart markers) parsed with ``struct`` + numpy —
  full pixel arrays, not just headers — plus matching encoders for
  round-trips.
* audio: WAV PCM via the stdlib ``wave`` module — sample rate, channels,
  frames, and the decoded sample matrix; MP3 gets a real FRAME-HEADER
  walk (``mp3_frame_metadata``: MPEG-1/2 Layer I–III header tables,
  ID3v2/v1 skipping, sample-exact duration, byte-true VBR average
  bitrate) while payload decode stays gated.

Remaining codec gates raise ``NotImplementedError``, each for its own
honest reason — progressive (SOF2) JPEG decodes for real as of r6
(operators/jpeg.py):

* MP3/AAC payload decode genuinely needs an external codec library
  (polyphase filterbank + huffman tables beyond reasonable stdlib
  reimplementation); frame-header metadata is real.
* Arithmetic-coded JPEG (SOF9/SOF10) is fully specified in the public
  ITU-T T.81 spec (Annex D QM-coder, Tables D.3/D.4; Annex F.1.4/F.2
  statistical models) — the same document the Huffman and progressive
  paths here were built from — so "needs external libs" would be
  false; it is DELIBERATELY out of scope because arithmetic-coded
  files are vanishingly rare in the wild (patent history kept every
  mainstream encoder on Huffman) and the decode dispatch detects the
  SOF marker precisely.
* Hierarchical (SOF5-7/13-15) and lossless JPEG: same deliberate-scope
  reasoning, rarer still.

Swapping in PIL/ffmpeg later only changes the magic-number dispatch;
the batching / schema / partitioning around it is unchanged.

Scale notes:

* binary payloads ride in the same parquet row group as their metadata —
  one scan, no side-channel fetches; column pruning drops the (large)
  ``content`` column for metadata-only queries.
* ``mapInPandas`` streams Arrow record batches; memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of blob
  size skew. Repartition by a uniform key before heavy decode stages so
  stragglers don't serialize the pipeline.
* per-row decode failures are DATA, not exceptions: the metadata path
  routes them to ``decode_ok=false`` + ``decode_error`` so one corrupt
  blob in 10¹⁰ can't fail a stage (same reject-routing philosophy as the
  CSV cascade).
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_python_sqlite_spark.operators.jpeg import (  # noqa: F401  re-export
    decode_jpeg,
    encode_jpeg,
)


class DecodedImage(NamedTuple):
    width: int
    height: int
    #: (height, width, 3) uint8, RGB channel order
    pixels: "np.ndarray"


class DecodedAudio(NamedTuple):
    sample_rate: int
    channels: int
    n_frames: int
    duration_ms: int
    #: (n_frames, channels) int (PCM width-dependent dtype)
    samples: "np.ndarray"


def decode_image(content: bytes) -> DecodedImage:
    """Decode BMP (24-bit BI_RGB), binary PPM (P6), PNG (all static
    pixel formats incl. paletted/16-bit/Adam7), GIF, or baseline JPEG
    to pixels — pure stdlib+numpy,
    no image library (PNG inflate is stdlib ``zlib``; JPEG is the full
    T.81 baseline codec in ``operators/jpeg.py``)."""
    if content is None or len(content) < 2:
        raise ValueError("empty or truncated image payload")
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:2] == b"P6":
        return _decode_ppm(content)
    if content[:8] == _PNG_SIG:
        return _decode_png(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(content)
    if content[:2] == b"\xff\xd8":
        from etl_python_sqlite_spark.operators import jpeg as _jpeg

        d = _jpeg.decode_jpeg(content)
        return DecodedImage(d.width, d.height, d.pixels)
    raise NotImplementedError(
        "unsupported image format (only BMP/PPM/PNG/GIF/baseline-JPEG"
        " decodable without external libs)"
    )


def _decode_bmp(b: bytes) -> DecodedImage:
    # BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER: little-endian fields
    if len(b) < 54:
        raise ValueError("truncated BMP header")
    (data_off,) = struct.unpack_from("<I", b, 10)
    width, height = struct.unpack_from("<ii", b, 18)
    (bpp,) = struct.unpack_from("<H", b, 28)
    (compression,) = struct.unpack_from("<I", b, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only 24-bit uncompressed BI_RGB BMP supported")
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("non-positive BMP dimensions")
    stride = (width * 3 + 3) & ~3  # rows padded to 4-byte boundaries
    need = data_off + stride * height
    if len(b) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(b, np.uint8, count=stride * height, offset=data_off)
    px = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        px = px[::-1]
    return DecodedImage(width, height, px[..., ::-1].copy())  # BGR → RGB


def _decode_ppm(b: bytes) -> DecodedImage:
    # P6 header: three whitespace-separated ints (width height maxval),
    # '#' comments allowed, exactly ONE whitespace byte before raster
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            pos = b.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(b[start:pos]))
    pos += 1
    width, height, maxval = vals
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    if width <= 0 or height <= 0:
        raise ValueError("non-positive PPM dimensions")
    if len(b) < pos + width * height * 3:
        raise ValueError("truncated PPM raster")
    px = np.frombuffer(b, np.uint8, count=width * height * 3, offset=pos)
    return DecodedImage(width, height, px.reshape(height, width, 3).copy())


def encode_ppm(pixels: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB → binary P6 bytes."""
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        pixels, dtype=np.uint8
    ).tobytes()


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BI_RGB BMP bytes (bottom-up rows)."""
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    raster = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + info + raster


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


#: PNG color type → samples per pixel (spec §11.2.2).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: valid bit depths per color type (spec §11.2.2).
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
#: Adam7 pass grid: (x0, y0, dx, dy) per pass (spec §8.2).
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, off: int, w: int, h: int, ch: int, depth: int) -> "np.ndarray":
    """Reconstruct one (sub-)image's filtered scanlines (types 0 None /
    1 Sub / 2 Up / 3 Average / 4 Paeth, spec §9) starting at ``off`` in
    the inflated stream. Returns (h, row_bytes) uint8; the left-neighbor
    distance is the spec's bpp (whole bytes per pixel, min 1).

    Sub/Average/Paeth carry a left-pixel dependency, so those rows
    reconstruct with a per-byte loop — fine for the fixture-scale images
    this container produces; a vectorized cumsum fast-path for filter 1
    keeps the common encoder output (filters 0/1/2) cheap.
    """
    stride = (w * ch * depth + 7) // 8
    bpp = max(1, (ch * depth) // 8)
    if len(raw) < off + h * (stride + 1):
        raise ValueError("truncated PNG raster")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[off + y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=off + y * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:  # None
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 1 and stride % bpp == 0:  # Sub: prefix sum per byte lane
            cur = line.reshape(stride // bpp, bpp).cumsum(axis=0, dtype=np.int64)
            cur = (cur & 0xFF).astype(np.int32).reshape(stride)
        elif ft in (1, 3, 4):  # Sub tail / Average / Paeth: left-dep loop
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                if ft == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif ft == 3:
                    cur[x] = (line[x] + ((a + up) >> 1)) & 0xFF
                else:
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                    cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _png_rows_to_samples(rows: "np.ndarray", w: int, ch: int, depth: int) -> "np.ndarray":
    """(h, row_bytes) filtered-out rows → (h, w, ch) uint8 samples.
    16-bit samples take the high byte (the standard 8-bit reduction);
    sub-8-bit samples unpack MSB-first and scale by 255/(2^depth−1)
    (exact integers for depths 1/2/4: ×255, ×85, ×17)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        return rows[:, : w * ch * 2].reshape(h, w, ch, 2)[..., 0]
    bits = np.unpackbits(rows, axis=1)[:, : w * ch * depth]
    groups = bits.reshape(h, w * ch, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (groups * weights).sum(axis=2).astype(np.uint16)
    scale = 255 // ((1 << depth) - 1)
    return (vals * scale).astype(np.uint8).reshape(h, w, ch)


def _decode_png(b: bytes) -> DecodedImage:
    """PNG decode, pure stdlib: chunk walk → ``zlib`` inflate → scanline
    filter reconstruction → sample unpack → RGB mapping. Full static
    coverage of the PNG spec's pixel formats: color types 0 (grayscale),
    2 (truecolor), 3 (paletted, PLTE), 4 (gray+alpha) and 6 (RGBA) at
    every legal bit depth (1/2/4/8/16 where the spec allows), both
    non-interlaced and Adam7-interlaced (seven independently-filtered
    passes scattered into the output grid, spec §8.2). Alpha is dropped
    and 16-bit samples reduce to their high byte — the pipeline's pixel
    model is 8-bit RGB. tRNS/gAMA/ancillary chunks are ignored; CRCs are
    not verified (corrupt streams surface as zlib/shape errors, which
    the reject-routing path already catches).
    """
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + payload + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("missing PNG IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if ctype not in _PNG_CHANNELS or depth not in _PNG_DEPTHS[ctype]:
        raise ValueError(f"invalid PNG color type {ctype} / depth {depth}")
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError("invalid PNG compression/filter/interlace method")
    if w <= 0 or h <= 0:
        raise ValueError("non-positive PNG dimensions")
    ch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    samples = np.zeros((h, w, ch), dtype=np.uint8)
    if interlace == 0:
        samples = _png_rows_to_samples(_png_unfilter(raw, 0, w, h, ch, depth), w, ch, depth)
    else:
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows = _png_unfilter(raw, off, pw, ph, ch, depth)
            off += ph * ((pw * ch * depth + 7) // 8 + 1)
            samples[y0::dy, x0::dx] = _png_rows_to_samples(rows, pw, ch, depth)
    if ctype == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("paletted PNG missing/invalid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samples[..., 0]
        # sub-8-bit palette indices were scaled like gray samples — undo
        if depth < 8:
            idx = idx // (255 // ((1 << depth) - 1))
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        px = pal[idx]
    elif ctype in (0, 4):  # grayscale (+alpha dropped)
        px = np.repeat(samples[..., :1], 3, axis=2)
    else:  # truecolor (+alpha dropped)
        px = samples[..., :3].copy()
    return DecodedImage(int(w), int(h), np.ascontiguousarray(px))


def encode_png(pixels: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB → minimal valid PNG (8-bit truecolor,
    filter-0 scanlines, one zlib IDAT, correct CRCs)."""
    import zlib

    h, w = pixels.shape[:2]
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _decode_gif(b: bytes) -> DecodedImage:
    """GIF87a/89a still decode (first frame of an animation): logical
    screen + color tables + full LZW decompression (variable code width,
    clear/EOI codes, 12-bit dict cap) + interlace reordering — pure
    stdlib/numpy. Transparency is ignored (palette RGB is emitted)."""
    if len(b) < 13:
        raise ValueError("truncated GIF header")
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:
            break
        elif block == 0x3B:
            raise ValueError("GIF trailer before any image data")
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    else:
        raise ValueError("no image descriptor in GIF")
    if pos + 10 > len(b):
        raise ValueError("truncated GIF image descriptor")
    left, top, w, h = struct.unpack("<HHHH", b[pos + 1 : pos + 9])
    if left or top:
        # a frame offset into the logical screen needs canvas
        # compositing — out of scope for a still decode; fail loudly
        # rather than return a silently mispositioned raster
        raise NotImplementedError(
            "GIF frames with a nonzero left/top offset are not composited"
        )
    ipacked = b[pos + 9]
    pos += 10
    table = gct
    if ipacked & 0x80:
        n = 2 << (ipacked & 0x07)
        table = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if table is None:
        raise ValueError("GIF image has no color table")
    interlaced = bool(ipacked & 0x40)
    mcs = b[pos]
    pos += 1
    data = bytearray()
    while pos < len(b) and b[pos] != 0:
        ln = b[pos]
        data += b[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    indices = _lzw_decode(bytes(data), mcs, w * h)
    if len(indices) < w * h:
        raise ValueError("GIF pixel data underflow")
    idx = np.asarray(indices[: w * h], dtype=np.int32).reshape(h, w)
    if interlaced:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        out = np.empty_like(idx)
        out[order] = idx
        idx = out
    if idx.max(initial=0) >= len(table):
        raise ValueError("GIF palette index out of range")
    return DecodedImage(width=w, height=h, pixels=table[idx])


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-flavor LZW: LSB-first variable-width codes, CLEAR resets the
    dictionary, EOI terminates, width grows at 2^width up to 12 bits."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = [[i] for i in range(clear)] + [None, None]
    table = list(base)
    width = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = list(base)
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
                if entry is None:
                    raise ValueError("bad first LZW code")
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                table.append(prev + [entry[0]])
            elif code == len(table):
                entry = prev + [prev[0]]
                table.append(entry)
            else:
                raise ValueError("corrupt LZW stream")
            out.extend(entry)
            if len(out) >= max_pixels:
                return out
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return out


def decode_audio(content: bytes) -> DecodedAudio:
    """Decode WAV PCM via the stdlib ``wave`` module — real samples, not a
    header peek. Compressed codecs (MP3/AAC/OGG) still raise."""
    if content is None or len(content) < 12:
        raise ValueError("empty or truncated audio payload")
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            "unsupported audio format (only WAV PCM decodable without external libs)"
        )
    with wave.open(io.BytesIO(content)) as wf:
        sr = wf.getframerate()
        ch = wf.getnchannels()
        sampwidth = wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(sampwidth)
    if dtype is None:
        raise NotImplementedError(f"unsupported PCM sample width {sampwidth}")
    samples = np.frombuffer(raw, dtype=dtype).reshape(n_frames, ch)
    return DecodedAudio(sr, ch, n_frames, n_frames * 1000 // sr if sr else 0, samples)


#: (version_group, layer) → bitrate kbps by header index (public
#: MPEG-1/2 audio spec tables; version_group 1 = MPEG1, 2 = MPEG2/2.5).
_MP3_BITRATES = {
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
}
#: version bits (header BB field) → sample rates by index.
_MP3_SAMPLERATES = {
    3: [44100, 48000, 32000],  # MPEG1
    2: [22050, 24000, 16000],  # MPEG2
    0: [11025, 12000, 8000],   # MPEG2.5
}


def mp3_frame_metadata(b: bytes) -> dict:
    """Parse MPEG audio (MP3) FRAME HEADERS — no payload decode: walks
    the frame chain (skipping a leading ID3v2 tag and a trailing ID3v1
    'TAG' block), validates sync/version/layer/bitrate/samplerate per
    the public MPEG-1/2 audio spec, and derives the metadata a curation
    pipeline needs: sample rate, channel count, frame count, exact
    sample-derived duration, and the byte-true average bitrate (so VBR
    streams report their real rate, not the first frame's).

    Full sample decode of Layer III (Huffman + IMDCT + synthesis
    filterbank) still needs an external codec — ``decode_audio`` keeps
    raising for MP3; this closes the METADATA half of that gap with
    stdlib struct math only.
    """
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        size = (
            ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14)
            | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        )
        pos = 10 + size
        if b[5] & 0x10:
            # ID3v2 footer flag: a 10-byte footer follows the tag body
            # and is NOT counted in the syncsafe size (ADVICE r5)
            pos += 10
    n_frames = 0
    total_samples = 0
    total_bytes = 0
    sample_rate = None
    channels = None
    while pos + 4 <= len(b):
        if b[pos : pos + 3] == b"TAG":  # ID3v1 trailer
            break
        h0, h1, h2, h3 = b[pos : pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            break
        version_bits = (h1 >> 3) & 0x3
        layer_bits = (h1 >> 1) & 0x3
        if version_bits == 1 or layer_bits == 0:
            break  # reserved version/layer
        layer = 4 - layer_bits  # 3->I ... 1->III
        vgroup = 1 if version_bits == 3 else 2
        br_idx = (h2 >> 4) & 0xF
        sr_idx = (h2 >> 2) & 0x3
        padding = (h2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            break  # free-format/invalid
        bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx] * 1000
        sr = _MP3_SAMPLERATES[version_bits][sr_idx]
        if layer == 1:
            frame_len = (12 * bitrate // sr + padding) * 4
            samples = 384
        else:
            samples = 1152 if (layer == 2 or vgroup == 1) else 576
            frame_len = samples // 8 * bitrate // sr + padding
        if frame_len <= 4 or pos + frame_len > len(b):
            break
        if n_frames == 0:
            # A VBR info frame (Xing/Info/VBRI) is a valid MPEG frame
            # whose payload is a table of contents, not audio — counting
            # it skews n_frames/duration/avg_bitrate on real VBR files
            # (ADVICE r5). Xing/Info sits right after the side info
            # (offset depends on version/mode); VBRI is fixed at +36.
            side = (
                (17 if (h3 >> 6) & 0x3 == 3 else 32)
                if vgroup == 1
                else (9 if (h3 >> 6) & 0x3 == 3 else 17)
            )
            tag_at = b[pos + 4 + side : pos + 8 + side]
            vbri_at = b[pos + 36 : pos + 40]
            if tag_at in (b"Xing", b"Info") or vbri_at == b"VBRI":
                pos += frame_len
                continue
        n_frames += 1
        total_samples += samples
        total_bytes += frame_len
        sample_rate = sr
        channels = 1 if (h3 >> 6) & 0x3 == 3 else 2
        pos += frame_len
    if not n_frames or not sample_rate:
        raise ValueError("no valid MPEG audio frames found")
    duration_ms = total_samples * 1000 // sample_rate
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "n_frames": n_frames,
        "duration_ms": duration_ms,
        "avg_bitrate_kbps": (
            total_bytes * 8 * sample_rate // total_samples // 1000
        ),
    }


def encode_wav(
    samples: "np.ndarray", sample_rate: int, channels: int = 1
) -> bytes:
    """int16 sample array → WAV PCM bytes (stdlib ``wave`` writer)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


DECODED_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("format", T.StringType(), True),   # bmp|ppm|wav
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_error", T.StringType(), True),
    ]
)

_FORMAT_BY_MAGIC = (
    (b"BM", "bmp"),
    (b"P6", "ppm"),
    (b"RIFF", "wav"),
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8", "jpeg"),
    (b"GIF87a", "gif"),
    (b"GIF89a", "gif"),
    (b"ID3", "mp3"),
)


def _looks_like_mp3(b: bytes) -> bool:
    return b[:3] == b"ID3" or (
        len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
    )


def _decode_one(modality: str, content) -> dict:
    out = {
        "format": None, "width": None, "height": None, "sample_rate": None,
        "channels": None, "duration_ms": None, "decode_ok": False,
        "decode_error": None,
    }
    try:
        b = bytes(content) if content is not None else b""
        for magic, name in _FORMAT_BY_MAGIC:
            if b[: len(magic)] == magic:
                out["format"] = name
                break
        if modality == "image":
            img = decode_image(b)
            out.update(width=img.width, height=img.height, decode_ok=True)
        elif modality == "audio":
            if _looks_like_mp3(b):
                # frame-header walk: real metadata, payload decode gated
                md = mp3_frame_metadata(b)
                out.update(
                    format="mp3", sample_rate=md["sample_rate"],
                    channels=md["channels"], duration_ms=md["duration_ms"],
                    decode_ok=True,
                )
            else:
                au = decode_audio(b)
                out.update(
                    sample_rate=au.sample_rate, channels=au.channels,
                    duration_ms=au.duration_ms, decode_ok=True,
                )
        else:
            out["decode_error"] = f"no decoder for modality {modality!r}"
    except Exception as e:  # corrupt blob = data, not a stage failure
        out["decode_error"] = f"{type(e).__name__}: {e}"
    return out


def decode_media_metadata(media: DataFrame) -> DataFrame:
    """Real decode pass over binary payloads: parses BMP/PPM pixels and
    WAV PCM frames per row, routing per-row failures to
    ``decode_ok=false`` + ``decode_error`` (never a stage abort)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _decode_one(m, c)
                for m, c in zip(pdf["modality"], pdf["content"])
            ]
            out = pd.DataFrame(rows)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "modality", pdf["modality"].values)
            yield out

    return media.select("media_id", "modality", "content").mapInPandas(
        _decode, schema=DECODED_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# video: concatenated-BMP container ("BMV")
# ---------------------------------------------------------------------------

def encode_bmv(frames: "list[np.ndarray]") -> bytes:
    """Concatenated-BMP video container: frames back-to-back, each a
    self-describing 24-bit BMP (the BITMAPFILEHEADER carries its own byte
    length, so the stream splits without an index). The stdlib-friendly
    stand-in for a real container; an MP4 demuxer would slot into
    ``split_bmv_frames`` with the same downstream plumbing."""
    return b"".join(encode_bmp(f) for f in frames)


def split_bmv_frames(content: bytes) -> "list[bytes]":
    """Walk the BMP headers: each frame's total size sits at offset 2 of
    its BITMAPFILEHEADER (little-endian u32). Pure byte arithmetic — no
    decode — so splitting a huge video is O(#frames), not O(bytes)."""
    frames = []
    off = 0
    n = len(content)
    while off < n:
        if n - off < 6 or content[off : off + 2] != b"BM":
            raise ValueError(f"bad frame header at byte {off}")
        (size,) = struct.unpack_from("<I", content, off + 2)
        if size < 54 or off + size > n:
            raise ValueError(f"frame at byte {off} overruns container")
        frames.append(content[off : off + size])
        off += size
    return frames
