"""Multimodal plumbing tests: the Spark-side machinery is real even though
media decoding is stubbed."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from etl_python_sqlite_spark.operators.multimodal import decode_image

#: canonical multimodal schema: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),   # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", bytes(range(256)), "image/png", (64, 64, None, None)),
        (2, "image", b"\x00" * 1024, "image/png", (32, 32, None, None)),
        (3, "audio", b"\x11\x22" * 500, "audio/wav", (None, None, 5000, 16000)),
        (4, "video", b"frame" * 100, "video/mp4", (640, 480, 3500, None)),
        (5, "image", None, "image/png", (8, 8, None, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_metadata_only_query_prunes_content(spark, media, tmp_path):
    """Column pruning: a metadata query over the parquet table must not
    read the binary column (ReadSchema check)."""
    path = str(tmp_path / "media")
    media.write.parquet(path)
    q = spark.read.parquet(path).select("media_id", "modality", "meta.width")
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "content" not in read_schema


def test_decode_stub_raises(spark, media):
    with pytest.raises(NotImplementedError):
        decode_image(b"not-a-real-png")


# ---------------------------------------------------------------------------
# real decoders (BMP/PPM/WAV — stdlib only)
# ---------------------------------------------------------------------------

import numpy as np

from etl_python_sqlite_spark.operators.multimodal import (
    decode_audio,
    decode_media_metadata,
    encode_bmp,
    encode_ppm,
    encode_wav,
)


def _gradient(h, w):
    """Deterministic (h, w, 3) uint8 test image."""
    y, x = np.mgrid[0:h, 0:w]
    return np.stack([(x * 7) % 256, (y * 11) % 256, (x + y) % 256], axis=-1).astype(
        np.uint8
    )


def test_bmp_roundtrip_exact():
    px = _gradient(13, 7)  # odd width → exercises 4-byte row padding
    img = decode_image(encode_bmp(px))
    assert (img.width, img.height) == (7, 13)
    assert np.array_equal(img.pixels, px)


def test_ppm_roundtrip_exact_and_comments():
    px = _gradient(5, 9)
    img = decode_image(encode_ppm(px))
    assert (img.width, img.height) == (9, 5)
    assert np.array_equal(img.pixels, px)
    # header comments per the netpbm spec
    with_comment = b"P6\n# a comment\n9 5\n255\n" + px.tobytes()
    assert np.array_equal(decode_image(with_comment).pixels, px)


def test_wav_roundtrip_exact():
    t = np.arange(800)
    samples = (np.sin(2 * np.pi * 440 * t / 8000) * 3000).astype(np.int16)
    au = decode_audio(encode_wav(samples, sample_rate=8000))
    assert (au.sample_rate, au.channels, au.n_frames) == (8000, 1, 800)
    assert au.duration_ms == 100
    assert np.array_equal(au.samples[:, 0], samples)


def test_decode_media_metadata_spark_path(spark):
    """Real bytes through the Arrow mapInPandas decode stage, with a
    corrupt blob routed to decode_error instead of failing the stage."""
    rows = [
        (1, "image", bytearray(encode_bmp(_gradient(4, 6))), "image/bmp", None),
        (2, "image", bytearray(encode_ppm(_gradient(3, 2))), "image/x-portable-pixmap", None),
        (3, "audio", bytearray(encode_wav(np.zeros(1600, np.int16), 16000)), "audio/wav", None),
        (4, "image", bytearray(b"\x89PNG\r\n"), "image/png", None),
        (5, "audio", None, "audio/wav", None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in decode_media_metadata(media).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"], got[1]["decode_ok"]) == (
        "bmp", 6, 4, True,
    )
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("ppm", 2, 3)
    assert (got[3]["sample_rate"], got[3]["channels"], got[3]["duration_ms"]) == (
        16000, 1, 100,
    )
    assert got[4]["decode_ok"] is False and "NotImplementedError" in got[4]["decode_error"]
    assert got[5]["decode_ok"] is False and got[5]["decode_error"]


def test_bmv_split_and_roundtrip():
    import numpy as np

    from etl_python_sqlite_spark.operators.multimodal import (
        _decode_bmp,
        encode_bmv,
        split_bmv_frames,
    )

    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 256, (6, 5, 3), dtype=np.uint8) for _ in range(5)]
    blob = encode_bmv(frames)
    parts = split_bmv_frames(blob)
    assert len(parts) == 5
    for orig, raw in zip(frames, parts):
        assert (_decode_bmp(raw).pixels == orig).all()


def test_bmv_split_rejects_garbage():
    from etl_python_sqlite_spark.operators.multimodal import split_bmv_frames

    with pytest.raises(ValueError):
        split_bmv_frames(b"not a bmp stream")


def test_png_roundtrip_exact():
    from etl_python_sqlite_spark.operators.multimodal import encode_png

    px = _gradient(11, 6)
    img = decode_image(encode_png(px))
    assert (img.width, img.height) == (6, 11)
    assert np.array_equal(img.pixels, px)


def test_png_all_filter_types_reconstruct():
    """Hand-filter scanlines with every PNG filter type (spec §9) and
    assert the decoder reconstructs the original pixels — our own
    encoder only emits filter 0, so this is the real coverage of the
    Sub/Up/Average/Paeth reconstruction paths."""
    import struct as _struct
    import zlib

    from etl_python_sqlite_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png,
    )

    px = _gradient(6, 5)
    h, w, ch = 6, 5, 3
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = [0] * stride
    filters = [0, 1, 2, 3, 4, 1]  # one row per type, cycling
    for y in range(h):
        cur = list(px[y].reshape(stride))
        ft = filters[y]
        raw.append(ft)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            up = prev[x]
            c = prev[x - ch] if x >= ch else 0
            pred = {0: 0, 1: a, 2: up, 3: (a + up) >> 1, 4: paeth(a, up, c)}[ft]
            raw.append((cur[x] - pred) & 0xFF)
        prev = cur

    def chunk(typ, data):
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return _struct.pack(">I", len(data)) + typ + data + _struct.pack(">I", crc)

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    img = _decode_png(blob)
    assert np.array_equal(img.pixels, px)


def test_png_rgba_alpha_dropped_and_gates():
    import struct as _struct
    import zlib

    import pytest as _pytest

    from etl_python_sqlite_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png,
        encode_png,
    )

    # RGBA: build filter-0 scanlines with a constant alpha, expect RGB back
    px = _gradient(4, 3)
    h, w = 4, 3
    rgba = np.dstack([px, np.full((h, w), 200, np.uint8)])
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))

    def chunk(typ, data):
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return _struct.pack(">I", len(data)) + typ + data + _struct.pack(">I", crc)

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)  # ctype 6 = RGBA
    blob = (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert np.array_equal(_decode_png(blob).pixels, px)

    # an illegal color-type/depth combination fails loudly
    bad = (
        _PNG_SIG
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 16, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        _decode_png(bad)

    # truncated IDAT surfaces as a ValueError/zlib error, not garbage
    good = encode_png(px)
    with _pytest.raises(Exception):
        decode_image(good[:40] + good[44:])


def _png_chunk(typ, data):
    import struct as _struct
    import zlib

    crc = zlib.crc32(typ + data) & 0xFFFFFFFF
    return _struct.pack(">I", len(data)) + typ + data + _struct.pack(">I", crc)


def _png_blob(w, h, depth, ctype, interlace, raw, plte=b""):
    import struct as _struct
    import zlib

    from etl_python_sqlite_spark.operators.multimodal import _PNG_SIG

    ihdr = _struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    body = _png_chunk(b"IHDR", ihdr)
    if plte:
        body += _png_chunk(b"PLTE", plte)
    return (
        _PNG_SIG + body
        + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    )


def _png_pack_rows(samples, depth):
    """(h, w, ch) integer samples → filter-0 scanlines at ``depth`` bits
    per sample (MSB-first packing below 8, big-endian pairs at 16)."""
    h, w, ch = samples.shape
    out = []
    for y in range(h):
        flat = samples[y].reshape(w * ch)
        if depth == 8:
            row = flat.astype(np.uint8).tobytes()
        elif depth == 16:
            row = flat.astype(">u2").tobytes()
        else:
            bits = ((flat[:, None] >> np.arange(depth - 1, -1, -1)) & 1).reshape(-1)
            pad = (-len(bits)) % 8
            bits = np.concatenate([bits, np.zeros(pad, bits.dtype)])
            row = np.packbits(bits.astype(np.uint8)).tobytes()
        out.append(b"\x00" + row)
    return b"".join(out)


def test_png_paletted_grayscale_and_16bit_decode():
    """Color types 0/3/4 and 16-bit samples decode exactly: palette
    lookup, gray→RGB replication (with exact sub-8-bit scaling), alpha
    dropped, 16-bit reduced to the high byte."""
    from etl_python_sqlite_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(7)

    # paletted, every legal depth
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, (5, 7), dtype=np.uint8)
        raw = _png_pack_rows(idx[..., None], depth)
        img = _decode_png(_png_blob(7, 5, depth, 3, 0, raw, plte=pal.tobytes()))
        assert np.array_equal(img.pixels, pal[idx]), f"palette depth {depth}"

    # grayscale, every legal depth (sub-8-bit scales by 255/(2^d-1))
    for depth in (1, 2, 4, 8):
        g = rng.integers(0, 1 << depth, (4, 6), dtype=np.uint8)
        raw = _png_pack_rows(g[..., None], depth)
        img = _decode_png(_png_blob(6, 4, depth, 0, 0, raw))
        want = (g * (255 // ((1 << depth) - 1))).astype(np.uint8)
        assert np.array_equal(img.pixels, np.repeat(want[..., None], 3, 2))

    # 16-bit grayscale / truecolor / gray+alpha: high byte wins
    g16 = rng.integers(0, 1 << 16, (3, 4), dtype=np.uint16)
    img = _decode_png(_png_blob(4, 3, 16, 0, 0, _png_pack_rows(g16[..., None], 16)))
    assert np.array_equal(img.pixels, np.repeat((g16 >> 8).astype(np.uint8)[..., None], 3, 2))

    rgb16 = rng.integers(0, 1 << 16, (3, 4, 3), dtype=np.uint16)
    img = _decode_png(_png_blob(4, 3, 16, 2, 0, _png_pack_rows(rgb16, 16)))
    assert np.array_equal(img.pixels, (rgb16 >> 8).astype(np.uint8))

    ga = rng.integers(0, 256, (3, 4, 2), dtype=np.uint8)
    img = _decode_png(_png_blob(4, 3, 8, 4, 0, _png_pack_rows(ga, 8)))
    assert np.array_equal(img.pixels, np.repeat(ga[..., :1], 3, 2))


def test_png_adam7_interlaced_decode():
    """Adam7: seven independently-filtered passes scatter back into the
    original grid (spec §8.2) — pinned against the plain encoding of the
    same pixels, across sizes that exercise empty and partial passes."""
    from etl_python_sqlite_spark.operators.multimodal import _ADAM7, _decode_png

    rng = np.random.default_rng(11)
    for (h, w) in ((1, 1), (2, 3), (8, 8), (11, 13)):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        raw = b"".join(
            _png_pack_rows(px[y0::dy, x0::dx], 8)
            for x0, y0, dx, dy in _ADAM7
            if px[y0::dy, x0::dx].size
        )
        img = _decode_png(_png_blob(w, h, 8, 2, 1, raw))
        assert np.array_equal(img.pixels, px), f"adam7 {h}x{w}"

    # interlaced paletted at 4-bit: sub-byte rows per pass
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 10), dtype=np.uint8)
    raw = b"".join(
        _png_pack_rows(idx[y0::dy, x0::dx][..., None], 4)
        for x0, y0, dx, dy in _ADAM7
        if idx[y0::dy, x0::dx].size
    )
    img = _decode_png(_png_blob(10, 9, 4, 3, 1, raw, plte=pal.tobytes()))
    assert np.array_equal(img.pixels, pal[idx])


def _encode_gif(pixels) -> bytes:
    """(h, w, 3) uint8 RGB → valid GIF87a, the fixture for the GIF
    decoder. The palette is the image's distinct colors (≤256); pixel
    data uses the classic "uncompressed LZW" trick — every index emitted
    as a literal code with a CLEAR before each dictionary overflow —
    which every decoder accepts."""
    import struct

    import numpy as np

    h, w = pixels.shape[:2]
    px = np.ascontiguousarray(pixels, dtype=np.uint8).reshape(-1, 3)
    colors, inverse = np.unique(px, axis=0, return_inverse=True)
    assert len(colors) <= 256
    cbits = max(2, int(np.ceil(np.log2(max(len(colors), 2)))))
    pal = np.zeros((1 << cbits, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    mcs = cbits
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    codes = [clear]
    next_code = eoi + 1
    for i in inverse.reshape(-1).tolist():
        codes.append(int(i))
        # emitting a literal still grows the decoder's dict: reset before
        # the decoder's next_code reaches the current width's capacity
        next_code += 1
        if next_code == (1 << width):
            codes.append(clear)
            next_code = eoi + 1
    codes.append(eoi)
    acc = nbits = 0
    stream = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        stream.append(acc & 0xFF)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((cbits - 1) & 0x07), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_roundtrip_exact():
    """A GIF → decode_image reproduces pixels exactly (LZW decode,
    palette reconstruction)."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M

    rng = np.random.default_rng(5)
    # 13 distinct colors over a 31x17 image
    pal = rng.integers(0, 256, size=(13, 3), dtype=np.uint8)
    idx = rng.integers(0, 13, size=(17, 31))
    px = pal[idx]
    blob = _encode_gif(px)
    assert blob[:6] == b"GIF87a"
    img = M.decode_image(blob)
    assert (img.width, img.height) == (31, 17)
    assert (img.pixels == px).all()


def test_gif_single_color_and_wide():
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M

    px = np.full((3, 300, 3), 7, dtype=np.uint8)
    img = M.decode_image(_encode_gif(px))
    assert (img.pixels == px).all()
    # >256-pixel rows exercise the 255-byte sub-block split
    rng = np.random.default_rng(9)
    px2 = rng.integers(0, 256, size=(2, 3), dtype=np.uint8)[
        rng.integers(0, 2, size=(40, 200))
    ]
    assert (M.decode_image(_encode_gif(px2)).pixels == px2).all()


def test_gif_interlaced_and_extensions():
    """Interlaced row order is rebuilt; GCE/comment extension blocks and
    the 89a signature are handled (first frame of an animation)."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    h, w = 13, 9
    px = pal[rng.integers(0, 4, size=(h, w))]
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    blob = bytearray(_encode_gif(px[order]))  # rows stored in pass order
    n_pal = (len(blob) and 2 << (blob[10] & 0x07))
    desc = 6 + 7 + 3 * n_pal  # image descriptor offset
    assert blob[desc] == 0x2C
    blob[desc + 9] |= 0x40  # set interlace flag
    # splice a GCE extension + 89a signature in front of the descriptor
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00" + b"\x21\xfe\x03abc\x00"
    blob2 = bytes(blob[:6]) + bytes(blob[6:desc]) + ext + bytes(blob[desc:])
    blob2 = b"GIF89a" + blob2[6:]
    img = M.decode_image(blob2)
    assert (img.pixels == px).all()


def test_gif_lzw_dictionary_growth():
    """A gradient image with many repeats makes the decoder dictionary
    grow through several width bumps — decode must stay in sync with the
    encoder's clear-code cadence."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M

    px = np.zeros((64, 64, 3), dtype=np.uint8)
    for i in range(64):
        px[i, :, 0] = (i * 4) % 256
    img = M.decode_image(_encode_gif(px))
    assert (img.pixels == px).all()


def test_gif_offset_frames_rejected():
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from etl_python_sqlite_spark.operators import multimodal as M

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    blob = bytearray(_encode_gif(px))
    n_pal = 2 << (blob[10] & 0x07)
    desc = 6 + 7 + 3 * n_pal
    assert blob[desc] == 0x2C
    blob[desc + 1 : desc + 3] = _struct.pack("<H", 2)  # left offset = 2
    with _pytest.raises(NotImplementedError, match="offset"):
        M.decode_image(bytes(blob))


def _mp3_frame(bitrate_kbps=128, sr=44100, pad=0, mono=False):
    """One synthetic MPEG1 Layer-III frame: valid header + zero payload."""
    br_idx = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320].index(
        bitrate_kbps
    )
    sr_idx = [44100, 48000, 32000].index(sr)
    h1 = 0xFB  # sync low bits + MPEG1 + Layer III + no CRC
    h2 = (br_idx << 4) | (sr_idx << 2) | (pad << 1)
    h3 = 0xC0 if mono else 0x00
    ln = 144 * bitrate_kbps * 1000 // sr + pad
    return bytes([0xFF, h1, h2, h3]) + b"\x00" * (ln - 4)


def test_mp3_frame_metadata():
    from etl_python_sqlite_spark.operators.multimodal import (
        _decode_one,
        decode_audio,
        mp3_frame_metadata,
    )

    # 10 CBR frames at 128k/44100 stereo behind an ID3v2 tag and before
    # an ID3v1 trailer
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
    body = b"".join(_mp3_frame() for _ in range(10))
    blob = id3 + body + b"TAG" + b"\x00" * 125
    md = mp3_frame_metadata(blob)
    assert md["sample_rate"] == 44100 and md["channels"] == 2
    assert md["n_frames"] == 10
    assert md["duration_ms"] == 10 * 1152 * 1000 // 44100
    assert md["avg_bitrate_kbps"] == 127  # 417-byte frames truncate below 128k

    # VBR: mixed 128k + 320k mono frames — byte-true average, not first-frame
    vbr = b"".join(
        _mp3_frame(bitrate_kbps=(128 if i % 2 else 320), mono=True)
        for i in range(8)
    )
    md2 = mp3_frame_metadata(vbr)
    assert md2["channels"] == 1 and md2["n_frames"] == 8
    assert 200 < md2["avg_bitrate_kbps"] < 250

    # metadata dispatch: audio modality routes MP3 to the header walk
    row = _decode_one("audio", blob)
    assert row["decode_ok"] and row["format"] == "mp3"
    assert row["sample_rate"] == 44100 and row["duration_ms"] == md["duration_ms"]

    # full sample decode stays honestly gated
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_audio(blob)

    # garbage after the tag -> no frames -> routed as a decode error
    assert not _decode_one("audio", id3 + b"\x12\x34garbage")["decode_ok"]


def test_mp3_id3_footer_and_vbr_header_frame():
    """ADVICE r5: (a) an ID3v2 tag with the footer flag set occupies 10
    extra bytes past the syncsafe size; (b) a Xing/Info/VBRI VBR header
    frame is a valid MPEG frame but carries no audio — it must not count
    toward n_frames/duration/avg_bitrate."""
    from etl_python_sqlite_spark.operators.multimodal import mp3_frame_metadata

    # (a) footer flag (byte 5 bit 4): body 20 bytes + 10-byte footer
    id3f = (
        b"ID3\x04\x00\x10" + bytes([0, 0, 0, 20]) + b"\x00" * 20
        + b"3DI\x04\x00\x10" + bytes([0, 0, 0, 20])
    )
    blob = id3f + b"".join(_mp3_frame() for _ in range(4))
    md = mp3_frame_metadata(blob)
    assert md["n_frames"] == 4 and md["sample_rate"] == 44100

    # (b) first frame carries a Xing tag right after the MPEG1-stereo
    # side info (offset 4+32); it must be walked over, not counted
    xing_frame = bytearray(_mp3_frame())
    xing_frame[36:40] = b"Xing"
    audio = b"".join(_mp3_frame() for _ in range(6))
    md2 = mp3_frame_metadata(bytes(xing_frame) + audio)
    assert md2["n_frames"] == 6
    assert md2["duration_ms"] == 6 * 1152 * 1000 // 44100
    assert md2["avg_bitrate_kbps"] == 127  # header frame excluded from bytes

    # VBRI variant (fixed offset 36), mono side-info width also exercised
    mono = bytearray(_mp3_frame(mono=True))
    mono[36:40] = b"VBRI"
    md3 = mp3_frame_metadata(bytes(mono) + b"".join(_mp3_frame(mono=True) for _ in range(3)))
    assert md3["n_frames"] == 3 and md3["channels"] == 1

    # an Info (CBR) header frame too
    info = bytearray(_mp3_frame())
    info[36:40] = b"Info"
    md4 = mp3_frame_metadata(bytes(info) + audio)
    assert md4["n_frames"] == 6
