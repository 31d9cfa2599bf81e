"""Multimodal plumbing tests: Arrow batch shape, schema, codec stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.functions import multimodal as MM


def _docs(spark):
    return spark.createDataFrame(
        [(0, "alpha"), (1, "bravo charlie"), (2, "delta echo foxtrot")],
        "doc_id long, text string",
    )


def test_payload_is_binary_and_meta_typed(spark):
    media = MM.attach_payload(_docs(spark))
    assert dict(media.dtypes)["payload"] == "binary"
    meta = MM.decode_media_meta(media)
    rows = {r["doc_id"]: r.asDict() for r in meta.collect()}
    assert rows[0]["media_type"] == "image"
    assert rows[0]["n_frames"] == 1 and rows[0]["duration_ms"] == 0
    assert rows[1]["media_type"] == "audio"
    assert rows[1]["width"] == 0 and rows[1]["duration_ms"] > 0
    assert rows[2]["media_type"] == "video"
    assert rows[2]["n_bytes"] == len("delta echo foxtrot")
    # deterministic: re-run produces identical metadata
    assert {r["doc_id"]: r.asDict() for r in meta.collect()} == rows


def test_real_codec_is_stubbed(spark):
    media = MM.attach_payload(_docs(spark)).withColumn(
        "codec", F.lit("jpeg")
    )
    with pytest.raises(Exception) as e:
        MM.decode_media_meta(media).collect()
    assert "NotImplementedError" in str(e.value) or isinstance(
        e.value, NotImplementedError
    )


def test_frame_sampling_counts(spark):
    media = MM.attach_payload(_docs(spark))
    meta = MM.decode_media_meta(media)
    sampled = meta.filter(F.col("media_type") == "video").select(
        "doc_id",
        "n_frames",
        F.size(MM.sample_frame_indices(F.col("n_frames"), 50)).alias("n_sampled"),
    )
    for r in sampled.collect():
        expect = (r["n_frames"] + 49) // 50
        assert r["n_sampled"] == expect



def test_map_rows_contract(spark):
    """``_map_rows``, the one Arrow boundary every encoder and decoder
    uses: an empty input maps to an empty frame of the declared schema,
    each row yields zero or more tuples, and output columns follow the
    schema whatever the input columns are called."""
    schema = "doc_id long, tag string, n int"
    empty = MM._map_rows(
        _docs(spark).limit(0), lambda i, t: [(i, t, 1)], schema
    )
    assert empty.collect() == []
    assert empty.dtypes == [("doc_id", "bigint"), ("tag", "string"), ("n", "int")]
    # batches whose rows all yield nothing map to empty frames too
    assert MM._map_rows(_docs(spark), lambda i, t: [], schema).collect() == []

    def fan(doc_id, text):
        if doc_id % 2 == 0:
            yield doc_id, text, 1
            yield doc_id, text.upper(), 2

    got = MM._map_rows(_docs(spark), fan, schema)
    assert got.columns == ["doc_id", "tag", "n"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, "ALPHA", 2), (0, "alpha", 1),
        (2, "DELTA ECHO FOXTROT", 2), (2, "delta echo foxtrot", 1),
    ]

    renamed = _docs(spark).select(
        F.col("text").alias("z_text"), F.col("doc_id").alias("a_id")
    )
    out = MM._map_rows(
        renamed, lambda text, i: [(len(text), i, text)],
        "n_chars int, id long, body string",
    )
    assert out.columns == ["n_chars", "id", "body"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (5, 0, "alpha"), (13, 1, "bravo charlie"),
        (18, 2, "delta echo foxtrot"),
    ]

# --------------------------------------------------------------------------
# Real PNG codec path (encode_png / parse_png_header / codec='png')
# --------------------------------------------------------------------------
def test_png_roundtrip_and_size_formula():
    p = MM.encode_png(13, 7, fill=0x5A)
    hdr = MM.parse_png_header(p)
    assert hdr == {
        "width": 13, "height": 7, "bit_depth": 8, "color_type": 0,
        "interlace": 0,
    }
    assert len(p) == 7 * (13 + 1) + 68  # level-0 IDAT closed form


def test_png_parser_rejects_corrupt_bytes():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MM.parse_png_header(b"GIF89a not a png at all....................")
    good = bytearray(MM.encode_png(4, 4))
    good[20] ^= 0xFF  # flip a width byte -> IHDR CRC must fail
    with _pytest.raises(ValueError):
        MM.parse_png_header(bytes(good))


def test_png_decode_through_spark_plumbing(spark):
    media = MM.attach_payload_png(_docs(spark))
    meta = MM.decode_media_meta(media).collect()
    assert len(meta) == _docs(spark).count()
    for r in meta:
        assert r["codec"] == "png" and r["media_type"] == "image"
        assert 1 <= r["width"] <= MM.PNG_DIM_MOD
        assert r["n_bytes"] == r["height"] * (r["width"] + 1) + 68
        assert r["n_frames"] == 1 and r["duration_ms"] == 0


# --------------------------------------------------------------------------
# Real WAV codec path (encode_wav / parse_wav_header / codec='wav')
# --------------------------------------------------------------------------
def test_wav_roundtrip_and_size_formula():
    p = MM.encode_wav(1500, fill=0x42)
    hdr = MM.parse_wav_header(p)
    assert hdr == {
        "channels": 1, "sample_rate": 8000, "bits": 8, "duration_ms": 1500,
    }
    assert len(p) == 44 + 8 * 1500


def test_wav_parser_walks_extra_chunks_and_rejects_corrupt():
    import pytest as _pytest
    import struct as _struct

    # splice a LIST chunk between fmt and data — real files do this
    p = MM.encode_wav(10)
    head, data_chunk = p[:36], p[36:]
    listed = head + b"LIST" + _struct.pack("<I", 4) + b"INFO" + data_chunk
    assert MM.parse_wav_header(listed)["duration_ms"] == 10

    with _pytest.raises(ValueError):
        MM.parse_wav_header(b"OggS" + bytes(60))
    with _pytest.raises(ValueError):
        MM.parse_wav_header(p[:36])  # truncated before data chunk


def test_wav_decode_through_spark_plumbing(spark):
    media = MM.attach_payload_wav(_docs(spark))
    meta = MM.decode_media_meta(media).collect()
    for r in meta:
        assert r["codec"] == "wav" and r["media_type"] == "audio"
        assert 1 <= r["duration_ms"] <= MM.WAV_DUR_MOD
        assert r["n_bytes"] == 44 + 8 * r["duration_ms"]
        assert r["width"] == 0 and r["n_frames"] == 0


# --------------------------------------------------------------------------
# Real pixel decode (decode_png_pixels: inflate + all five filters)
# --------------------------------------------------------------------------
def test_png_gradient_pixel_roundtrip():
    p = MM.encode_png_gradient(5, 4, base=100)
    w, h, ch, px = MM.decode_png_pixels(p)
    assert (w, h, ch) == (5, 4, 1)
    # pixel(x, y) = base + x + y — only recoverable by unfiltering the
    # Up-filtered rows
    for y in range(h):
        for x in range(w):
            assert px[y * w + x] == 100 + x + y


def test_png_unfilter_sub_average_paeth():
    import struct as _struct
    import zlib as _zlib

    # hand-build a 3x4 grayscale PNG exercising filters 1/3/4 against
    # a reference raster
    raster = [[10, 20, 30], [15, 25, 35], [40, 41, 42], [200, 100, 50]]
    lines = []
    # row0: Sub — stored byte = raw - left
    r = raster[0]
    lines.append(bytes([1, r[0] & 0xFF, (r[1] - r[0]) & 0xFF, (r[2] - r[1]) & 0xFF]))
    # row1: Up
    lines.append(bytes([2] + [(raster[1][x] - raster[0][x]) & 0xFF for x in range(3)]))
    # row2: Average
    row2 = []
    for x in range(3):
        left = raster[2][x - 1] if x else 0
        row2.append((raster[2][x] - ((left + raster[1][x]) >> 1)) & 0xFF)
    lines.append(bytes([3] + row2))
    # row3: Paeth
    row3 = []
    for x in range(3):
        a = raster[3][x - 1] if x else 0
        b = raster[2][x]
        c = raster[2][x - 1] if x else 0
        row3.append((raster[3][x] - MM._paeth(a, b, c)) & 0xFF)
    lines.append(bytes([4] + row3))
    ihdr = _struct.pack(">IIBBBBB", 3, 4, 8, 0, 0, 0, 0)
    payload = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", _zlib.compress(b"".join(lines), 6))
        + MM._png_chunk(b"IEND", b"")
    )
    w, h, ch, px = MM.decode_png_pixels(payload)
    assert ch == 1
    assert [list(px[y * 3 : (y + 1) * 3]) for y in range(4)] == raster


def test_png_pixel_decode_stub_boundary():
    import pytest as _pytest
    import struct as _struct

    # 16-bit and Adam7 now DECODE; only sub-byte depths remain stubbed.
    # A 16-bit/interlaced header with no IDAT is malformed, not a stub.
    for depth, interlace in ((16, 0), (8, 1)):
        ihdr = _struct.pack(">IIBBBBB", 2, 2, depth, 0, 0, 0, interlace)
        payload = (
            MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr) + MM._png_chunk(b"IEND", b"")
        )
        with _pytest.raises((ValueError, Exception)):
            MM.decode_png_pixels(payload)


def test_png_rgb_and_palette_roundtrip():
    import pytest as _pytest

    w, h, b = 6, 5, 150
    W, H, ch, px = MM.decode_png_pixels(MM.encode_png_color(w, h, b))
    assert (W, H, ch) == (w, h, 3)
    for y in range(h):
        for x in range(w):
            assert list(px[3 * (y * w + x) : 3 * (y * w + x) + 3]) == [
                b + x + y, b + 2 * x, b + 2 * y,
            ]

    W, H, ch, px = MM.decode_png_pixels(MM.encode_png_palette(w, h))
    assert (W, H, ch) == (w, h, 3)
    for y in range(h):
        for x in range(w):
            i = (x + y) % MM.PAL_SIZE
            assert list(px[3 * (y * w + x) : 3 * (y * w + x) + 3]) == [
                i, 2 * i, 3 * i,
            ]

    # palette image missing its PLTE chunk is malformed, not a crash
    pal = MM.encode_png_palette(3, 3)
    # strip the PLTE chunk: signature(8) + IHDR(25) | PLTE(12+48) | rest
    broken = pal[:33] + pal[33 + 12 + 3 * MM.PAL_SIZE :]
    with _pytest.raises(ValueError, match="PLTE"):
        MM.decode_png_pixels(broken)


def test_png_rgba_and_gray_alpha_roundtrip():
    w, h, b = 6, 5, 150
    W, H, ch, px = MM.decode_png_pixels(MM.encode_png_rgba(w, h, b))
    assert (W, H, ch) == (w, h, 4)
    for y in range(h):
        for x in range(w):
            assert list(px[4 * (y * w + x) : 4 * (y * w + x) + 4]) == [
                b + x + y, b + 2 * x, b + 2 * y, b + 3 * x,
            ]

    W, H, ch, px = MM.decode_png_pixels(MM.encode_png_gray_alpha(w, h, b))
    assert (W, H, ch) == (w, h, 2)
    for y in range(h):
        for x in range(w):
            assert list(px[2 * (y * w + x) : 2 * (y * w + x) + 2]) == [
                b + x + y, b + 2 * y,
            ]


def test_png_alpha_filters_all_exercised_at_wide_dims():
    """h >= 5 cycles every PNG filter type at bpp=4 and bpp=2; a
    decoder with a wrong left/upper-left stride would corrupt rows."""
    for enc, ch in ((MM.encode_png_rgba, 4), (MM.encode_png_gray_alpha, 2)):
        w, h, b = 16, 7, 100
        W, H, C, px = MM.decode_png_pixels(enc(w, h, b))
        assert (W, H, C) == (w, h, ch)
        assert len(px) == w * h * ch
        assert min(px) == b


def test_resample_nearest_floor_mapping():
    # 4x2 gradient, downsample to 2x1: src_x = i*4//2 -> {0, 2}
    px = bytearray([0, 1, 2, 3, 10, 11, 12, 13])
    out = MM.resample_nearest(px, 4, 2, 2, 1)
    assert list(out) == [0, 2]
    # upsample 2x1 -> 4x1 repeats pixels: src_x = i*2//4 -> {0,0,1,1}
    out2 = MM.resample_nearest(bytearray([7, 9]), 2, 1, 4, 1)
    assert list(out2) == [7, 7, 9, 9]


# --------------------------------------------------------------------------
# Real PCM sample decode
# --------------------------------------------------------------------------
def test_wav_square_sample_decode():
    p = MM.encode_wav_square(2, base=50)  # 16 samples
    d = MM.decode_wav_samples(p)
    assert d["sample_rate"] == 8000 and d["bits"] == 8
    assert d["samples"] == [50, 51] * 8


def test_wav_decode_16bit_pcm():
    import struct as _struct

    samples = [-32768, -1, 0, 1, 32767]
    body = _struct.pack("<5h", *samples)
    fmt = _struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    p = (
        b"RIFF" + _struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16) + fmt
        + b"data" + _struct.pack("<I", len(body)) + body
    )
    d = MM.decode_wav_samples(p)
    assert d["bits"] == 16 and d["samples"] == samples


def test_wav_decode_rejects_perceptual_codecs():
    """Format tags outside the real-decode set (PCM, float, G.711,
    both ADPCMs) stay an honest NotImplementedError — e.g. 85
    (MPEG-layer-3-in-wav)."""
    import pytest as _pytest
    import struct as _struct

    fmt = _struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 8)
    p = (
        b"RIFF" + _struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16) + fmt
        + b"data" + _struct.pack("<I", 4) + b"\x00" * 4
    )
    with _pytest.raises(NotImplementedError, match="format 85"):
        MM.decode_wav_samples(p)


def test_zlib_inflate_roundtrip_and_corrupt_null(spark):
    """F14: deflate -> base64 -> unbase64 -> inflate round-trips; a
    truncated stream yields null, not a task failure (inflateResponse
    swallows errors, extract_flomatika_insights_processor.ts:88-103)."""
    from falcon_metrics_etl_spark.functions.compression import (
        zlib_deflate,
        zlib_inflate,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 1000)], "id int, text string"
    )
    wire = df.select(
        "id", F.base64(zlib_deflate(F.encode("text", "UTF-8"))).alias("b64")
    )
    ok = wire.select(
        "id", F.decode(zlib_inflate(F.unbase64("b64")), "UTF-8").alias("t")
    ).collect()
    assert {r["id"]: r["t"] for r in ok} == {1: "hello world", 2: "x" * 1000}
    bad = wire.select(
        "id",
        zlib_inflate(F.unbase64(F.substring("b64", 1, 4))).alias("raw"),
    ).collect()
    assert all(r["raw"] is None for r in bad)


def test_png_pixel_decode_rejects_truncated_raster():
    import pytest as _pytest
    import struct as _struct
    import zlib as _zlib

    # valid header but IDAT holds one row too few
    ihdr = _struct.pack(">IIBBBBB", 3, 4, 8, 0, 0, 0, 0)
    raw = (b"\x00" + b"\x01" * 3) * 3  # 3 rows for a 4-row image
    payload = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", _zlib.compress(raw, 6))
        + MM._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="raster size"):
        MM.decode_png_pixels(payload)


def test_png_multiple_idat_chunks_concatenate():
    import struct as _struct
    import zlib as _zlib

    # the spec allows IDAT split across chunks: decoders must concat
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = b"\x00\x05\x06" + b"\x00\x07\x08"
    stream = _zlib.compress(raw, 6)
    half = len(stream) // 2
    payload = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", stream[:half])
        + MM._png_chunk(b"IDAT", stream[half:])
        + MM._png_chunk(b"IEND", b"")
    )
    w, h, ch, px = MM.decode_png_pixels(payload)
    assert (w, h, ch, list(px)) == (2, 2, 1, [5, 6, 7, 8])


def test_zlib_inflate_caps_zip_bombs(spark):
    """An input inflating past MAX_INFLATED_BYTES (64 MiB) nulls out
    like any corrupt payload instead of OOMing the executor. The bomb
    is ~65 KB compressed but would inflate to 65 MiB."""
    import zlib as _zlib

    from pyspark.sql import functions as F

    from falcon_metrics_etl_spark.functions import compression as C

    bomb = _zlib.compress(b"\x00" * (65 * 1024 * 1024), 9)
    small = _zlib.compress(b"ok", 9)
    df = spark.createDataFrame(
        [(1, bytearray(bomb)), (2, bytearray(small))],
        "id int, raw binary",
    )
    got = {
        r["id"]: r["out"]
        for r in df.select(
            "id", C.zlib_inflate(F.col("raw")).alias("out")
        ).collect()
    }
    assert got[1] is None
    assert bytes(got[2]) == b"ok"


def test_png_16bit_gray_roundtrip():
    """16-bit samples unfilter at the 2-byte stride and unpack
    big-endian; the raster comes back as array('H')."""
    for (w, h, b) in [(6, 5, 150), (1, 1, 0), (16, 16, 199)]:
        W, H, ch, px = MM.decode_png_pixels(MM.encode_png_gray16(w, h, b))
        assert (W, H, ch) == (w, h, 1)
        assert px.typecode == "H"
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == 256 * b + 300 * x + 77 * y


def test_png_adam7_deinterlace_matches_sequential():
    """An Adam7 image with the same pixel formula as the sequential
    encoders must decode to the identical raster — including dims
    smaller than the 8x8 pass grid (empty passes) and 1x1."""
    cases = [(13, 11, 100), (8, 8, 0), (1, 1, 5), (7, 3, 60),
             (16, 16, 199), (2, 9, 10), (9, 2, 10)]
    for (w, h, b) in cases:
        Wi, Hi, ci, pi = MM.decode_png_pixels(
            MM.encode_png_gray_interlaced(w, h, b)
        )
        Ws, Hs, cs, ps = MM.decode_png_pixels(MM.encode_png_gradient(w, h, b))
        assert (Wi, Hi, ci) == (Ws, Hs, cs)
        assert bytes(pi) == bytes(ps)
    for (w, h, b) in [(13, 11, 100), (5, 6, 150), (1, 1, 0), (16, 7, 199)]:
        Wi, Hi, ci, pi = MM.decode_png_pixels(
            MM.encode_png_rgba_interlaced(w, h, b)
        )
        Ws, Hs, cs, ps = MM.decode_png_pixels(MM.encode_png_rgba(w, h, b))
        assert (Wi, Hi, ci) == (Ws, Hs, cs)
        assert bytes(pi) == bytes(ps)


def test_png_sub_byte_roundtrip_gray_palette_interlaced():
    """1/2/4-bit samples unpack MSB-first with per-scanline padding;
    interlaced sub-byte passes carry their OWN bit padding, so this
    also catches byte-level (rather than sample-level) deinterlacing."""
    for depth in (1, 2, 4):
        mod = 1 << depth
        for (w, h) in [(13, 11), (1, 1), (16, 16), (8, 1), (3, 9)]:
            W, H, ch, px = MM.decode_png_pixels(
                MM.encode_png_gray_subbyte(w, h, depth)
            )
            assert (W, H, ch) == (w, h, 1)
            assert all(
                px[y * w + x] == (x + y) % mod
                for y in range(h) for x in range(w)
            )
            Wi, Hi, ci, pi = MM.decode_png_pixels(
                MM.encode_png_gray_subbyte_interlaced(w, h, depth)
            )
            assert bytes(pi) == bytes(px)
            Wp, Hp, cp, pp = MM.decode_png_pixels(
                MM.encode_png_palette_subbyte(w, h, depth)
            )
            assert (Wp, Hp, cp) == (w, h, 3)
            i0 = (0 + 0) % mod
            assert list(pp[0:3]) == [i0, 2 * i0, 3 * i0]


def test_png_invalid_depth_color_combos_are_value_errors():
    """Spec-invalid combinations are malformed data (quarantine), not
    missing features: nothing in PNG is stubbed any more."""
    import pytest as _pytest
    import struct as _struct

    for depth, ct in [(2, 2), (4, 6), (16, 3), (3, 0), (2, 4)]:
        ihdr = _struct.pack(">IIBBBBB", 2, 2, depth, ct, 0, 0, 0)
        payload = (
            MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr)
            + MM._png_chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError):
            MM.decode_png_pixels(payload)


def test_wav_decode_float32_and_stereo():
    import struct as _struct

    # IEEE float mono (format 3, 32-bit)
    vals = [0.0, -1.0, 0.5, 0.25]
    body = _struct.pack("<4f", *vals)
    fmt = _struct.pack("<HHIIHH", 3, 1, 16000, 64000, 4, 32)
    p = (
        b"RIFF" + _struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16) + fmt
        + b"data" + _struct.pack("<I", len(body)) + body
    )
    d = MM.decode_wav_samples(p)
    assert d["format"] == 3 and d["bits"] == 32 and d["channels"] == 1
    assert d["samples"] == vals

    # stereo 16-bit integer PCM, interleaved L/R
    sv = [100, -100, 200, -200]
    body = _struct.pack("<4h", *sv)
    fmt = _struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    p = (
        b"RIFF" + _struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16) + fmt
        + b"data" + _struct.pack("<I", len(body)) + body
    )
    d = MM.decode_wav_samples(p)
    assert d["channels"] == 2 and d["samples"] == sv


# --------------------------------------------------------------------------
# Property-based decode fuzz: random rasters through a generic
# test-side encoder across the full (depth x color type x interlace)
# support matrix, with random per-row filter types.
# --------------------------------------------------------------------------
def _encode_png_raw(w, h, depth, ct, samples, interlace, filt_of_row):
    """Test-side generic encoder: raw per-pixel samples -> spec PNG.
    samples: flat list, w*h*channels values (palette: indices)."""
    import struct as _struct
    import zlib as _zlib

    chans = MM._PNG_CHANNELS[ct]
    bpp = max(1, chans * (depth // 8))

    def pix_bytes(x, y):
        base = (y * w + x) * chans
        vals = samples[base : base + chans]
        if depth == 16:
            return b"".join(_struct.pack(">H", v) for v in vals)
        return bytes(vals)  # 8-bit (sub-byte handled separately)

    raw = bytearray()
    row_idx = 0
    passes = (
        MM._adam7_pass_dims(w, h) if interlace else [(0, 0, 1, 1, w, h)]
    )
    for x0, y0, dx, dy, pw, ph in passes:
        if pw == 0 or ph == 0:
            continue
        if depth < 8:
            prwb = (pw * depth + 7) // 8
            prev = bytes(prwb)
            for j in range(ph):
                yy = y0 + j * dy
                line = MM._pack_bits(
                    [samples[yy * w + (x0 + i * dx)] for i in range(pw)],
                    depth,
                )
                raw += MM._filter_scanline(
                    filt_of_row(row_idx), line, prev, 1
                )
                prev = line
                row_idx += 1
        else:
            prev = bytes(pw * bpp)
            for j in range(ph):
                yy = y0 + j * dy
                line = b"".join(
                    pix_bytes(x0 + i * dx, yy) for i in range(pw)
                )
                raw += MM._filter_scanline(
                    filt_of_row(row_idx), line, prev, bpp
                )
                prev = line
                row_idx += 1
    ihdr = _struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, 1 if interlace else 0)
    chunks = MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr)
    if ct == 3:
        n_pal = 1 << depth if depth < 8 else 256
        plte = b"".join(
            bytes(((3 * i) & 0xFF, (5 * i) & 0xFF, (7 * i) & 0xFF))
            for i in range(n_pal)
        )
        chunks += MM._png_chunk(b"PLTE", plte)
    chunks += MM._png_chunk(b"IDAT", _zlib.compress(bytes(raw), 6))
    return chunks + MM._png_chunk(b"IEND", b"")


def test_png_decode_fuzz_full_matrix():
    """Random rasters with random per-row filters across every
    supported (depth, color type, interlace) combination round-trip
    exactly — 8/16-bit gray/RGB/GA/RGBA and sub-byte gray/palette,
    sequential and Adam7."""
    import random

    rng = random.Random(0xC0FFEE)
    combos = (
        [(d, 0) for d in (1, 2, 4, 8, 16)]
        + [(d, 3) for d in (1, 2, 4, 8)]
        + [(d, ct) for d in (8, 16) for ct in (2, 4, 6)]
    )
    for depth, ct in combos:
        chans = MM._PNG_CHANNELS[ct]
        for interlace in (0, 1):
            for _ in range(3):
                w, h = rng.randint(1, 21), rng.randint(1, 19)
                hi = (1 << min(depth, 16)) - 1
                if ct == 3:
                    hi = (1 << depth) - 1 if depth < 8 else 255
                samples = [
                    rng.randint(0, hi) for _ in range(w * h * chans)
                ]
                payload = _encode_png_raw(
                    w, h, depth, ct, samples, interlace,
                    lambda r: rng.randint(0, 4),
                )
                W, H, C, px = MM.decode_png_pixels(payload)
                if ct == 3:
                    assert (W, H, C) == (w, h, 3)
                    want = []
                    for i in samples:
                        want += [(3 * i) & 0xFF, (5 * i) & 0xFF, (7 * i) & 0xFF]
                    assert list(px) == want, (depth, ct, interlace, w, h)
                else:
                    assert (W, H, C) == (w, h, chans)
                    assert list(px) == samples, (depth, ct, interlace, w, h)


def test_y4m_roundtrip_and_chroma_sizing():
    """Real Y4M decode: gradient clips round-trip; 420 chroma planes
    are skipped by exact size; junk and exotic chroma fail correctly."""
    import pytest as _pytest

    p = MM.encode_y4m_mono(5, 4, 3, 100)
    d = MM.decode_y4m_frames(p)
    assert (d["width"], d["height"], d["n_frames"]) == (5, 4, 3)
    for k, fr in enumerate(d["frames"]):
        assert all(
            fr[y * 5 + x] == 100 + x + y + k
            for y in range(4) for x in range(5)
        )

    hdr = b"YUV4MPEG2 W4 H4 F30:1 C420jpeg\n"
    frame = b"FRAME\n" + bytes(range(16)) + bytes(8)
    d2 = MM.decode_y4m_frames(hdr + frame + frame)
    assert d2["n_frames"] == 2 and d2["fps_num"] == 30
    assert list(d2["frames"][1]) == list(range(16))

    with _pytest.raises(ValueError):
        MM.decode_y4m_frames(b"JUNK")
    with _pytest.raises(ValueError):  # truncated final frame
        MM.decode_y4m_frames(hdr + frame + frame[:10])
    # 411 decodes for real since r8; >8-bit taggings stay the boundary
    assert MM.decode_y4m_frames(b"YUV4MPEG2 W2 H2 C411\n")["n_frames"] == 0
    with _pytest.raises(NotImplementedError):
        MM.decode_y4m_frames(b"YUV4MPEG2 W2 H2 C420p10\n")


def test_wav_silence_trim():
    p = MM.encode_wav_padded(dur_ms=10, base=50, lead_ms=3, tail_ms=2)
    d = MM.decode_wav_samples(p)
    lead, sig, tail = MM.trim_silence(d["samples"])
    assert (lead, sig, tail) == (24, 80, 16)  # samples at 8/ms
    # all-silence clip
    assert MM.trim_silence([128] * 40) == (40, 0, 0)
    # no silence at all
    assert MM.trim_silence([50, 51] * 8) == (0, 16, 0)


def _reference_ima_decode(payload: bytes) -> list[int]:
    """Independent straight-from-spec IMA-ADPCM decoder (tables typed
    in separately from the package's): RIFF walk, per-block header,
    low-nibble-first, fact-chunk trim. Kept deliberately naive."""
    import struct as st

    steps = []
    s = 7.0
    # IMA step table is ~1.1-geometric but only the published integer
    # table is authoritative — type the first/last entries and verify
    table = [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ]
    idx_adj = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    (fmt_len,) = st.unpack("<I", payload[16:20])
    fmt = st.unpack("<HHIIHH", payload[20:36])
    assert fmt[0] == 17 and fmt[1] == 1
    block_align = fmt[4]
    pos = 20 + fmt_len
    fact = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = st.unpack("<I", payload[pos + 4 : pos + 8])
        if tag == b"fact":
            (fact,) = st.unpack("<I", payload[pos + 8 : pos + 12])
        if tag == b"data":
            data = payload[pos + 8 : pos + 8 + size]
            break
        pos += 8 + size + (size & 1)
    out = []
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        pred = st.unpack("<h", block[0:2])[0]
        index = block[2]
        out.append(pred)
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                step = table[index]
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + idx_adj[nib]))
                out.append(pred)
    return out[:fact] if fact is not None else out


def test_wav_adpcm_square_wave_is_bit_exact():
    """The +/-1 square wave quantizes exactly under IMA (nibbles 1/9
    at step index 0 hold the index and reproduce the alternation) —
    the property the oracled query's closed form relies on."""
    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_ima_adpcm,
    )

    for base, n in ((0, 8), (57, 1009), (199, 3000)):
        src = [base + (i & 1) for i in range(n)]
        d = decode_wav_samples(encode_wav_ima_adpcm(src))
        assert d["format"] == 17 and d["bits"] == 4 and d["channels"] == 1
        assert d["samples"] == src


def test_wav_adpcm_fuzz_vs_reference_decoder():
    """200 random sample streams (mixed ramps, jumps, noise, lengths
    straddling block boundaries) encode with the package encoder, then
    decode with BOTH the package decoder and the independent
    spec-typed reference: streams must agree bit-for-bit, and the
    decoded signal must track slowly-varying sources."""
    import random

    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_ima_adpcm,
    )

    rng = random.Random(42)
    for trial in range(200):
        kind = trial % 4
        n = rng.choice([1, 2, 504, 505, 506, 1010, rng.randint(3, 2000)])
        if kind == 0:
            src = [rng.randint(-32768, 32767) for _ in range(n)]
        elif kind == 1:  # slow ramp: small diffs, decodable closely
            x, src = rng.randint(-500, 500), []
            for _ in range(n):
                x += rng.randint(-4, 4)
                src.append(max(-32768, min(32767, x)))
        elif kind == 2:  # step function with big jumps
            src = [(-20000 if (i // 100) % 2 else 20000) for i in range(n)]
        else:  # sine-ish via integer triangle
            src = [((i % 200) - 100) * 300 for i in range(n)]
        wav = encode_wav_ima_adpcm(src)
        got = decode_wav_samples(wav)["samples"]
        ref = _reference_ima_decode(wav)
        assert got == ref, (trial, kind, n)
        assert len(got) == n
        if kind == 1:
            # slow signals reconstruct within the minimum step granule
            worst = max(abs(a - b) for a, b in zip(src, got))
            assert worst <= 16, (trial, worst)


def test_wav_adpcm_malformed_payloads_raise_value_errors():
    import struct as st

    import pytest

    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_ima_adpcm,
    )

    wav = bytearray(encode_wav_ima_adpcm([0, 1] * 600))
    # corrupt the step index of the first block past the table bound
    data_at = wav.index(b"data") + 8
    wav[data_at + 2] = 99
    with pytest.raises(ValueError, match="step index"):
        decode_wav_samples(bytes(wav))
    # fact chunk claiming more samples than blocks decode
    wav2 = bytearray(encode_wav_ima_adpcm([0, 1] * 10))
    fact_at = wav2.index(b"fact") + 8
    wav2[fact_at : fact_at + 4] = st.pack("<I", 10**6)
    with pytest.raises(ValueError, match="fact chunk"):
        decode_wav_samples(bytes(wav2))
    # perceptual codecs stay the documented honest boundary (A-law,
    # mu-law, MS-ADPCM and stereo IMA all decode for real as of r7)
    hdr = bytearray(encode_wav_ima_adpcm([0, 1, 0, 1]))
    fmt_at = hdr.index(b"fmt ") + 8
    hdr[fmt_at : fmt_at + 2] = st.pack("<H", 85)  # mp3-in-wav
    with pytest.raises(NotImplementedError, match="format 85"):
        decode_wav_samples(bytes(hdr))


def test_wav_adpcm_stereo_word_interleave_roundtrip():
    """Stereo IMA-ADPCM (two channel headers + alternating 4-byte
    channel words): exact-decodable signals round-trip bit-for-bit,
    per-channel state stays independent, and frame counts straddling
    block boundaries trim correctly via the per-channel fact count."""
    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_ima_adpcm,
    )

    for frames in (1, 2, 248, 249, 250, 498, 1000):
        inter = []
        for i in range(frames):
            inter += [100 + (i & 1), 40]  # L alternates, R constant
        d = decode_wav_samples(encode_wav_ima_adpcm(inter, channels=2))
        assert d["channels"] == 2 and d["format"] == 17
        assert d["samples"] == inter, frames
    # lossy random stereo still yields exact length + decoder parity
    import random

    rng = random.Random(11)
    inter = [rng.randint(-32768, 32767) for _ in range(2 * 777)]
    d = decode_wav_samples(encode_wav_ima_adpcm(inter, channels=2))
    assert len(d["samples"]) == len(inter)
    # channels decode independently: right channel of an
    # (exact-L, exact-R) signal equals its mono decode
    left = [10 + (i & 1) for i in range(500)]
    right = [90 + (i & 1) for i in range(500)]
    inter = [s for pair in zip(left, right) for s in pair]
    d = decode_wav_samples(encode_wav_ima_adpcm(inter, channels=2))
    assert d["samples"][0::2] == left and d["samples"][1::2] == right


def test_wav_g711_decode_vs_reference_tables():
    """The arithmetic G.711 decoders vs independently-typed reference
    values: all 256 code points of both laws match the classic
    conversion-table identities (complement/xor symmetry, segment
    doubling, canonical endpoints), plus a WAV container roundtrip
    through decode_wav_samples for both formats, mono and stereo."""
    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_g711,
        g711_alaw_to_linear,
        g711_ulaw_to_linear,
    )

    # canonical endpoints from the published conversion tables
    assert g711_ulaw_to_linear(0x00) == -32124
    assert g711_ulaw_to_linear(0x80) == 32124
    assert g711_ulaw_to_linear(0xFF) == 0
    assert g711_alaw_to_linear(0xAA) == 32256
    assert g711_alaw_to_linear(0x2A) == -32256
    assert g711_alaw_to_linear(0xD5) == 8
    assert g711_alaw_to_linear(0x55) == -8
    for b in range(256):
        u = g711_ulaw_to_linear(b)
        a = g711_alaw_to_linear(b)
        # sign symmetry: flipping the sign bit negates the sample
        assert g711_ulaw_to_linear(b ^ 0x80) == -u
        assert g711_alaw_to_linear(b ^ 0x80) == -a
        assert abs(u) <= 32124 and abs(a) <= 32256
    # mu-law: within a segment, steps are uniform; across segments
    # they double (the companding property)
    def ustep(seg):
        lo = g711_ulaw_to_linear(~(seg << 4) & 0xFF)
        hi = g711_ulaw_to_linear(~((seg << 4) | 1) & 0xFF)
        return abs(hi - lo)

    for seg in range(7):
        assert ustep(seg + 1) == 2 * ustep(seg)
    # container roundtrip, both laws, mono + stereo
    data = bytes(range(256))
    for law, fn in (("ulaw", g711_ulaw_to_linear),
                    ("alaw", g711_alaw_to_linear)):
        d = decode_wav_samples(encode_wav_g711(data, law))
        assert d["samples"] == [fn(b) for b in data]
        d2 = decode_wav_samples(encode_wav_g711(data, law, channels=2))
        assert d2["channels"] == 2
        assert d2["samples"] == [fn(b) for b in data]


def _reference_ms_adpcm_decode(payload: bytes) -> list[int]:
    """Independent straight-from-spec MS-ADPCM decoder (constants
    typed in separately): RIFF walk, per-block channel headers,
    high-nibble-first, per-channel coefficient prediction + adaptive
    delta, fact trim."""
    import struct as st

    coeffs = [(256, 0), (512, -256), (0, 0), (192, 64),
              (240, 0), (460, -208), (392, -232)]
    adapt = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]
    (fmt_len,) = st.unpack("<I", payload[16:20])
    fmt = st.unpack("<HHIIHH", payload[20:36])
    assert fmt[0] == 2
    channels, block_align = fmt[1], fmt[4]
    pos = 20 + fmt_len
    fact = data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = st.unpack("<I", payload[pos + 4 : pos + 8])
        if tag == b"fact":
            (fact,) = st.unpack("<I", payload[pos + 8 : pos + 12])
        if tag == b"data":
            data = payload[pos + 8 : pos + 8 + size]
            break
        pos += 8 + size + (size & 1)
    out = []
    for off in range(0, len(data), block_align):
        blk = data[off : off + block_align]
        st_ = []
        for c in range(channels):
            pidx = blk[c]
            (dl,) = st.unpack("<h", blk[channels + 2 * c: channels + 2 * c + 2])
            (a,) = st.unpack("<h", blk[3 * channels + 2 * c: 3 * channels + 2 * c + 2])
            (b,) = st.unpack("<h", blk[5 * channels + 2 * c: 5 * channels + 2 * c + 2])
            st_.append([coeffs[pidx], dl, a, b])
        for c in range(channels):
            out.append(st_[c][3])
        for c in range(channels):
            out.append(st_[c][2])
        i = 0
        for byte in blk[7 * channels:]:
            for nib in (byte >> 4, byte & 0x0F):
                (c1, c2), dl, s1, s2 = st_[i % channels]
                sv = nib - 16 if nib >= 8 else nib
                # C-style /256 truncates toward zero (ffmpeg,
                # libsndfile); >>8 would floor and drift on negative
                # predictions under the c2 != 0 predictors
                acc = s1 * c1 + s2 * c2
                pred = (acc // 256 if acc >= 0 else -((-acc) // 256)) + sv * dl
                pred = max(-32768, min(32767, pred))
                dl = max(16, (adapt[nib] * dl) >> 8)
                st_[i % channels] = [(c1, c2), dl, pred, s1]
                out.append(pred)
                i += 1
    return out[: fact * channels] if fact is not None else out


def test_wav_ms_adpcm_square_exact_and_fuzz_vs_reference():
    """Amplitude-16 squares decode bit-exactly (delta pins at its 16
    floor under the adaption table); 150 random streams (all 7
    predictors, mono + stereo, block-straddling lengths) decode
    identically through the package decoder and the independent
    spec-typed reference."""
    import random

    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_ms_adpcm,
    )

    for base, n in ((0, 8), (57, 1009), (199, 2001)):
        src = [base + 16 * (i & 1) for i in range(n)]
        d = decode_wav_samples(encode_wav_ms_adpcm(src))
        assert d["format"] == 2 and d["samples"] == src
    inter = []
    for i in range(500):
        inter += [100 + 16 * (i & 1), 40]
    d = decode_wav_samples(encode_wav_ms_adpcm(inter, channels=2))
    assert d["channels"] == 2 and d["samples"] == inter

    rng = random.Random(99)
    for trial in range(150):
        channels = 1 + (trial % 2)
        frames = rng.choice([2, 3, 498, 500, 502, rng.randint(4, 1500)])
        src = [rng.randint(-32768, 32767) for _ in range(frames * channels)]
        wav = encode_wav_ms_adpcm(
            src, channels=channels, predictor=trial % 7,
            initial_delta=rng.randint(16, 400),
        )
        got = decode_wav_samples(wav)["samples"]
        ref = _reference_ms_adpcm_decode(wav)
        assert got == ref, (trial, channels, frames)
        assert len(got) == len(src)


def test_wav_ms_adpcm_malformed_payloads():
    import struct as st

    import pytest

    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_wav_samples,
        encode_wav_ms_adpcm,
    )

    wav = bytearray(encode_wav_ms_adpcm([0, 16] * 600))
    data_at = wav.index(b"data") + 8
    wav[data_at] = 9  # predictor index out of range
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav_samples(bytes(wav))
    wav2 = bytearray(encode_wav_ms_adpcm([0, 16] * 10))
    fact_at = wav2.index(b"fact") + 8
    wav2[fact_at : fact_at + 4] = st.pack("<I", 10**6)
    with pytest.raises(ValueError, match="fact chunk"):
        decode_wav_samples(bytes(wav2))


def _reference_jpeg_decode(payload: bytes):
    """Independent minimal baseline-grayscale JPEG decoder, typed in
    separately from functions/jpeg.py: same T.81 spec, different
    structure (single flat bit loop, dict-free huffman walk)."""
    import math as m
    import struct as st

    zig = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    pos = 2
    q = {}
    huff = {}
    w = h = None
    scan = None
    td = ta = cq = None
    while True:
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = st.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                tq = body[i] & 15
                q[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC0:
            _, h, w, _ = st.unpack(">BHHB", body[:6])
            cq = body[8]
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tcth = body[i]
                bits = list(body[i + 1 : i + 17])
                vals = list(body[i + 17 : i + 17 + sum(bits)])
                codes = {}
                code, k = 0, 0
                for L in range(1, 17):
                    for _ in range(bits[L - 1]):
                        codes[(L, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[tcth] = codes
                i += 17 + sum(bits)
        elif marker == 0xDA:
            td, ta = body[2] >> 4, body[2] & 15
            scan = payload[pos + 2 + ln :]
            break
        pos += 2 + ln
    # de-stuff the scan up to EOI
    raw = bytearray()
    i = 0
    while i < len(scan):
        b = scan[i]
        if b == 0xFF:
            if scan[i + 1] == 0x00:
                raw.append(0xFF)
                i += 2
                continue
            break
        raw.append(b)
        i += 1
    bitpos = 0

    def bit():
        nonlocal bitpos
        b = (raw[bitpos // 8] >> (7 - bitpos % 8)) & 1
        bitpos += 1
        return b

    def sym(codes):
        code = 0
        for L in range(1, 17):
            code = (code << 1) | bit()
            if (L, code) in codes:
                return codes[(L, code)]
        raise ValueError("bad code")

    def bits_val(n):
        v = 0
        for _ in range(n):
            v = (v << 1) | bit()
        return v

    def extend(v, n):
        return v if n == 0 or v >= (1 << (n - 1)) else v - (1 << n) + 1

    cosv = [[m.cos((2 * x + 1) * u * m.pi / 16) for u in range(8)]
            for x in range(8)]
    cf = [1 / m.sqrt(2)] + [1.0] * 7
    bh2, bw2 = (h + 7) // 8, (w + 7) // 8
    out = [[0] * (bw2 * 8) for _ in range(bh2 * 8)]
    dc = 0
    for by in range(bh2):
        for bx in range(bw2):
            zz = [0] * 64
            s = sym(huff[td])
            dc += extend(bits_val(s), s)
            zz[0] = dc
            k = 1
            while k < 64:
                rs = sym(huff[0x10 | ta])
                if rs == 0:
                    break
                if rs == 0xF0:
                    k += 16
                    continue
                k += rs >> 4
                zz[k] = extend(bits_val(rs & 15), rs & 15)
                k += 1
            coef = [[0.0] * 8 for _ in range(8)]
            for k in range(64):
                coef[zig[k] // 8][zig[k] % 8] = zz[k] * q[cq][k]
            for x in range(8):
                for y in range(8):
                    s2 = 0.0
                    for u in range(8):
                        for v in range(8):
                            s2 += (cf[u] * cf[v] * coef[u][v]
                                   * cosv[x][u] * cosv[y][v])
                    out[by * 8 + x][bx * 8 + y] = max(
                        0, min(255, int(round(s2 / 4)) + 128)
                    )
    return [row[:w] for row in out[:h]]


def test_jpeg_roundtrip_flat_and_fuzz_vs_reference():
    """Blockwise-constant images decode bit-exactly (even DC offsets,
    zero AC); 40 random images — gradients, noise, edge dims not on
    block boundaries — decode bit-identically through the package
    decoder and the independent reference; smooth images stay within
    quantization error."""
    import random

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    img = [[128 + 2 * ((b % 49) - 24) for b in range(3) for _ in range(8)]
           for _ in range(8)]
    d = decode_jpeg_gray(encode_jpeg_gray(img))
    assert d["pixels"] == img
    rng = random.Random(21)
    for trial in range(40):
        w = rng.randint(1, 40)
        h = rng.randint(1, 40)
        kind = trial % 3
        if kind == 0:
            img = [[min(255, x * 3 + y * 2) for x in range(w)]
                   for y in range(h)]
        elif kind == 1:
            img = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        else:
            img = [[128 + (50 if (x // 8 + y // 8) % 2 else -50)
                    for x in range(w)] for y in range(h)]
        enc = encode_jpeg_gray(img)
        got = decode_jpeg_gray(enc)
        assert got["width"] == w and got["height"] == h
        ref = _reference_jpeg_decode(enc)
        assert got["pixels"] == ref, (trial, kind, w, h)
        if kind == 0:
            err = max(abs(a - b) for ra, rb in zip(img, got["pixels"])
                      for a, b in zip(ra, rb))
            assert err <= 8, (trial, err)


def test_jpeg_unsupported_features_raise_cleanly():
    import pytest

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    enc = bytearray(encode_jpeg_gray([[100] * 8] * 8))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"\x00\x00" + bytes(enc[2:]))
    # flip SOF0 -> SOF9 (arithmetic sequential): clean
    # NotImplementedError (progressive SOF2 decodes for real now)
    sof_at = enc.index(b"\xff\xc0")
    enc2 = bytearray(enc)
    enc2[sof_at + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF9"):
        decode_jpeg_gray(bytes(enc2))
    # truncate mid-scan: entropy exhaustion is a ValueError
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(enc[: len(enc) - 12]) )
    # r9 advisor: a fill-byte run that consumes the payload tail must
    # keep the ValueError contract, not IndexError past the end
    from falcon_metrics_etl_spark.functions.jpeg import decode_jpeg

    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(b"\xff\xd8" + b"\xff" * 4)
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8" + b"\xff\xdb\x00")  # header cut short


def test_jpeg_420_subsampled_decode():
    """4:2:0 MCU geometry: four raster-ordered luma blocks + one
    half-resolution Cb/Cr per MCU, nearest chroma upsample. Constant
    YCbCr decodes exactly; odd (non-16-aligned) dimensions trim
    correctly; a varying-chroma image decodes with the chroma of
    each 2x2 cell shared (the subsampling property itself)."""
    import math

    from falcon_metrics_etl_spark.functions.jpeg import (
        STD_QUANT,
        decode_jpeg,
        encode_jpeg_ycbcr_420,
    )

    def clamp8(x):
        return max(0, min(255, math.floor(x + 0.5)))

    Y, Cb, Cr = 128 + 20, 128 - 28, 128 + 16
    for (h, w) in ((32, 48), (19, 21), (16, 16), (1, 1)):
        ch, cw = (h + 1) // 2, (w + 1) // 2
        enc = encode_jpeg_ycbcr_420(
            [[Y] * w] * h, [[Cb] * cw] * ch, [[Cr] * cw] * ch,
            STD_QUANT, STD_QUANT,
        )
        d = decode_jpeg(enc)
        assert (d["width"], d["height"]) == (w, h)
        exp = (
            clamp8(Y + 1.402 * (Cr - 128)),
            clamp8(Y - 0.344136 * (Cb - 128) - 0.714136 * (Cr - 128)),
            clamp8(Y + 1.772 * (Cb - 128)),
        )
        assert {p for row in d["rgb"] for p in row} == {exp}, (h, w)
    # chroma varies per half-res BLOCK (DC-only, so exact): every
    # 16x16 pixel region reads its own chroma block's constant
    h = w = 32
    cb_vals = [[128 + 2 * (4 * i + j - 4) for j in range(2)]
               for i in range(2)]
    cb_half = [[cb_vals[i // 8][j // 8] for j in range(16)]
               for i in range(16)]
    cr_half = [[128] * 16 for _ in range(16)]
    enc = encode_jpeg_ycbcr_420(
        [[128] * w] * h, cb_half, cr_half, STD_QUANT, STD_QUANT
    )
    d = decode_jpeg(enc)
    for x in range(h):
        for y in range(w):
            cb = cb_vals[x // 16][y // 16] - 128
            assert d["rgb"][x][y][2] == clamp8(128 + 1.772 * cb), (x, y)


def test_jpeg_progressive_differential_fuzz():
    """Progressive (SOF2) decode: successive approximation over all
    six scans reconstructs the quantized coefficients EXACTLY, so the
    progressive decode of an image must be bit-identical to the
    baseline decode of the same image (whose own correctness is
    fuzz-pinned against the independent reference decoder above).
    120 random images — noise, gradients, sparse spikes (deep ZRL +
    EOB-run paths), checkerboards — across edge dimensions and
    restart intervals, grayscale and 4:4:4 color."""
    import random

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
        encode_jpeg_ycbcr,
        encode_jpeg_ycbcr_progressive,
    )

    rng = random.Random(4242)
    for trial in range(80):
        w = rng.randint(1, 40)
        h = rng.randint(1, 40)
        kind = trial % 4
        if kind == 0:
            img = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        elif kind == 1:
            img = [[min(255, x * 3 + y * 2) for x in range(w)]
                   for y in range(h)]
        elif kind == 2:
            # sparse spikes on a flat field: long zero runs -> ZRL and
            # EOB-run machinery, including runs > 1 via the EOBn codes
            img = [[128] * w for _ in range(h)]
            for _ in range(max(1, (w * h) // 40)):
                img[rng.randrange(h)][rng.randrange(w)] = rng.choice((0, 255))
        else:
            img = [[128 + (50 if (x // 8 + y // 8) % 2 else -50)
                    for x in range(w)] for y in range(h)]
        ri = rng.choice([0, 0, 1, 3, 7])
        base = decode_jpeg(encode_jpeg_gray(img))
        prog = decode_jpeg(
            encode_jpeg_gray_progressive(img, restart_interval=ri)
        )
        assert prog["ncomp"] == 1
        assert prog["pixels"] == base["pixels"], (trial, kind, w, h, ri)
    for trial in range(40):
        w = rng.randint(1, 24)
        h = rng.randint(1, 24)
        mk = (lambda: [[rng.randrange(256) for _ in range(w)]
                       for _ in range(h)])
        yp, cb, cr = mk(), mk(), mk()
        ri = rng.choice([0, 2, 5])
        base = decode_jpeg(encode_jpeg_ycbcr(yp, cb, cr))
        prog = decode_jpeg(
            encode_jpeg_ycbcr_progressive(yp, cb, cr, restart_interval=ri)
        )
        assert prog["rgb"] == base["rgb"], (trial, w, h, ri)


def test_jpeg_progressive_structure_and_guards():
    """The progressive payload really is multi-scan SOF2 (six SOS
    segments, RSTn present when asked), and malformed progressive
    streams fail with clean errors: multi-component AC scan, bad
    spectral band, truncated entropy data."""
    import struct as st

    import pytest

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray_progressive,
        encode_jpeg_ycbcr_progressive,
    )

    img = [[(x * 7 + y * 3) % 256 for x in range(24)] for y in range(17)]
    enc = encode_jpeg_gray_progressive(img, restart_interval=3)
    assert enc.count(b"\xff\xc2") >= 1
    assert enc.count(b"\xff\xda") == 6
    assert any(bytes((0xFF, 0xD0 + i)) in enc for i in range(8))
    decode_jpeg(enc)  # sanity

    color = encode_jpeg_ycbcr_progressive(
        [[100] * 16] * 16, [[120] * 16] * 16, [[140] * 16] * 16
    )
    # corrupt the FIRST AC scan's SOS to cover 3 components: the DC
    # scan SOS has ns=3, AC scans ns=1 — find the second SOS
    pos = color.index(b"\xff\xda")
    pos2 = color.index(b"\xff\xda", pos + 2)
    bad = bytearray(color)
    (seg_len,) = st.unpack(">H", color[pos2 + 2 : pos2 + 4])
    # rewrite ns=1 scan header to claim Ss>0 with 3 components by
    # editing the DC scan instead: set its Ss byte to 1
    dc_body_at = pos + 4
    ns = color[dc_body_at]
    ss_at = dc_body_at + 1 + 2 * ns
    bad[ss_at] = 1
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg(bytes(bad))
    bad2 = bytearray(color)
    ac_body_at = pos2 + 4
    ns2 = color[ac_body_at]
    se_at = ac_body_at + 1 + 2 * ns2 + 1
    bad2[se_at] = 70  # Se > 63
    with pytest.raises(ValueError, match="spectral"):
        decode_jpeg(bytes(bad2))
    with pytest.raises(ValueError):
        decode_jpeg(enc[: len(enc) // 2])


def test_y4m_chroma_space_strides():
    """422/411/444/420-siting clips decode with correct per-space
    frame strides: the luma frames equal the mono encoding's (a
    one-byte stride error shears every frame after the first);
    unknown/16-bit taggings still raise the honest boundary error."""
    import pytest

    from falcon_metrics_etl_spark.functions.multimodal import (
        decode_y4m_frames,
        encode_y4m_chroma,
        encode_y4m_mono,
    )

    for cs in ("444", "422", "411", "420mpeg2", "420paldv", "420jpeg"):
        for (w, h, n) in ((5, 3, 4), (1, 1, 2), (16, 9, 3)):
            mono = decode_y4m_frames(encode_y4m_mono(w, h, n, 50))
            got = decode_y4m_frames(encode_y4m_chroma(w, h, n, 50, cs))
            assert got["n_frames"] == n, (cs, w, h)
            assert got["frames"] == mono["frames"], (cs, w, h, n)
    # truncated chroma tail -> clean error, not a sheared decode
    enc = encode_y4m_chroma(6, 4, 2, 10, "422")
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m_frames(enc[:-3])
    with pytest.raises(NotImplementedError, match="420p16"):
        decode_y4m_frames(
            b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420p16\nFRAME\n" + bytes(48)
        )


def test_jpeg_progressive_420_differential_fuzz():
    """Progressive 4:2:0 (SOF2 + subsampling — the real-world photo
    layout): decode must equal the baseline 4:2:0 decode of the same
    planes, across odd (non-MCU-aligned) dims and restart intervals.
    Covers the interleaved-DC-over-padding-blocks predictor chain and
    the per-component non-interleaved AC grids."""
    import random

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_ycbcr_420,
        encode_jpeg_ycbcr_420_progressive,
    )

    rng = random.Random(777)
    for trial in range(30):
        h = rng.choice([16, 17, 19, 31, 32, 1, 8, 47])
        w = rng.choice([16, 18, 23, 33, 48, 2, 9])
        ch, cw = (h + 1) // 2, (w + 1) // 2
        yp = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        cb = [[rng.randrange(256) for _ in range(cw)] for _ in range(ch)]
        cr = [[rng.randrange(256) for _ in range(cw)] for _ in range(ch)]
        ri = rng.choice([0, 0, 2, 3, 7])
        base = decode_jpeg(encode_jpeg_ycbcr_420(yp, cb, cr))
        prog = decode_jpeg(
            encode_jpeg_ycbcr_420_progressive(yp, cb, cr, restart_interval=ri)
        )
        assert prog["rgb"] == base["rgb"], (trial, h, w, ri)


def test_jpeg_progressive_partial_progression_dc_only():
    """A progressive file whose progression stops after the DC scans
    (no AC scans at all) is VALID per T.81 — decoders render what has
    arrived. Hand-crafted 2-scan file (DC first Al=1 + DC refinement);
    for blockwise-constant images DC-only IS the full image, so the
    decode must equal the payload exactly."""
    from falcon_metrics_etl_spark.functions.jpeg import (
        _BitWriter,
        _build_codes,
        _enc_dc_first,
        _enc_dc_refine,
        _fdct_quant,
        _prog_headers,
        _sos,
        STD_DC_BITS,
        STD_DC_VALS,
        STD_QUANT,
        decode_jpeg,
    )

    img = [
        [128 + 2 * (((3 + (y // 8) * 2 + (x // 8)) % 49) - 24)
         for x in range(16)]
        for y in range(24)
    ]
    blocks = []
    for by in range(3):
        row = []
        for bx in range(2):
            blk = [[img[by * 8 + x][bx * 8 + y] for y in range(8)]
                   for x in range(8)]
            row.append(_fdct_quant(blk, STD_QUANT))
        blocks.append(row)
    dc_codes = _build_codes(STD_DC_BITS, STD_DC_VALS)
    out = bytearray(_prog_headers(24, 16, [(1, 0x11, 0)],
                                  {0: STD_QUANT}, 0))
    for ah, al in ((0, 1), (1, 0)):
        writer = _BitWriter()
        prev = 0
        for row in blocks:
            for zz in row:
                if ah == 0:
                    prev = _enc_dc_first(writer, zz, prev, al, dc_codes)
                else:
                    _enc_dc_refine(writer, zz, al)
        out += _sos([(1, 0, 0)], 0, 0, ah, al) + writer.flush()
    out += b"\xff\xd9"
    d = decode_jpeg(bytes(out))
    assert d["pixels"] == img
    # the HALF progression (first DC scan only, Al=1) must also decode
    # cleanly — values within the 2x quantization of the dropped bit
    half = bytearray(_prog_headers(24, 16, [(1, 0x11, 0)],
                                   {0: STD_QUANT}, 0))
    writer = _BitWriter()
    prev = 0
    for row in blocks:
        for zz in row:
            prev = _enc_dc_first(writer, zz, prev, 1, dc_codes)
    half += _sos([(1, 0, 0)], 0, 0, 0, 1) + writer.flush()
    half += b"\xff\xd9"
    d2 = decode_jpeg(bytes(half))
    err = max(
        abs(a - b)
        for ra, rb in zip(img, d2["pixels"])
        for a, b in zip(ra, rb)
    )
    assert err <= 2 * STD_QUANT[0] // 8 + 2


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: any marker may be preceded by a run of 0xFF fill
    bytes. Decode must be bit-identical with fill runs inserted before
    every SOS and before EOI — including between a progressive scan's
    entropy data and the next SOS header, where the r9 advisor found
    the fill byte misread as the marker id (seg_len then parsed from
    entropy garbage)."""
    import random

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    rng = random.Random(9)
    img = [[rng.randrange(256) for _ in range(13)] for _ in range(11)]

    for enc_fn in (encode_jpeg_gray, encode_jpeg_gray_progressive):
        enc = enc_fn(img)
        base = decode_jpeg(enc)
        # 0xFF never precedes a marker id inside entropy data (only
        # 0x00 stuffing / RSTn follow 0xFF there), so these rewrites
        # touch exactly the real SOS/EOI markers
        padded = enc.replace(b"\xff\xda", b"\xff\xff\xff\xff\xda")
        padded = padded.replace(b"\xff\xd9", b"\xff\xff\xff\xff\xd9")
        assert len(padded) > len(enc)
        d = decode_jpeg(padded)
        assert d["pixels"] == base["pixels"]
        assert (d["width"], d["height"]) == (base["width"], base["height"])


def test_png_filter_unfilter_fuzz_roundtrip_all_bpp():
    """Vectorization regression guard (r12): random rasters forward-
    filtered row-by-row with a SPEC-LITERAL scalar reference (written
    here, independent of the vectorized _filter_scanline) must decode
    back exactly through _unfilter_scanlines at every pixel stride —
    and _filter_scanline must produce the same filtered bytes as the
    reference."""
    import random

    def ref_filter(ft, line, prev, bpp):
        out = bytearray([ft])
        for x in range(len(line)):
            a = line[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((line[x] - pred) & 0xFF)
        return bytes(out)

    rng = random.Random(42)
    for trial in range(60):
        bpp = rng.choice([1, 2, 3, 4, 6, 8])
        w = rng.randint(1, 24)
        h = rng.randint(1, 16)
        rows = [
            bytes(rng.randrange(256) for _ in range(w * bpp))
            for _ in range(h)
        ]
        raw = bytearray()
        prev = bytes(w * bpp)
        for y, r in enumerate(rows):
            ft = rng.randrange(5)
            expect = ref_filter(ft, r, prev, bpp)
            assert MM._filter_scanline(ft, r, prev, bpp) == expect, (
                trial, y, ft, bpp,
            )
            raw += expect
            prev = r
        out, end = MM._unfilter_scanlines(bytes(raw), 0, w * bpp, h, bpp)
        assert end == len(raw)
        assert bytes(out) == b"".join(rows), (trial, bpp, w, h)


def test_png_unpack_rows_matches_scalar_unpack_bits():
    """The vectorized sub-byte unpack must agree with the in-tree
    scalar _unpack_bits on every depth, width and padding shape."""
    import random

    rng = random.Random(7)
    for trial in range(80):
        depth = rng.choice([1, 2, 4])
        w = rng.randint(1, 40)
        h = rng.randint(1, 12)
        rwb = (w * depth + 7) // 8
        packed = bytes(rng.randrange(256) for _ in range(rwb * h))
        vec = MM._unpack_rows(packed, rwb, w, h, depth)
        for y in range(h):
            ref = MM._unpack_bits(packed[y * rwb : (y + 1) * rwb], w, depth)
            assert list(vec[y]) == list(ref), (trial, depth, w, y)


def test_jpeg_baseline_restart_segments_decode_identically():
    """The r13 segment reader: a baseline scan split at RSTn markers
    decodes to pixels IDENTICAL to the unsegmented encode of the same
    image, for every restart interval (segments are independently
    decodable — the within-payload fan-out contract); a corrupted
    restart marker raises the expected-RSTn ValueError."""
    import random

    import pytest as _pytest

    from falcon_metrics_etl_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = random.Random(1313)
    for trial in range(30):
        w = rng.randint(8, 48)
        h = rng.randint(8, 48)
        img = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        ref = decode_jpeg(encode_jpeg_gray(img))["pixels"]
        for ri in (1, 2, 3, 5):
            seg = decode_jpeg(encode_jpeg_gray(img, restart_interval=ri))
            assert seg["pixels"] == ref, (trial, ri)

    img = [[rng.randrange(256) for _ in range(32)] for _ in range(32)]
    enc = bytearray(encode_jpeg_gray(img, restart_interval=1))
    # flip the first RST0 marker (FF D0) to RST3 (FF D3): the reader
    # must reject the out-of-sequence marker
    i = enc.find(bytes((0xFF, 0xD0)))
    assert i > 0
    enc[i + 1] = 0xD3
    with _pytest.raises(ValueError, match="expected restart marker RST0"):
        decode_jpeg(bytes(enc))


def test_ima_adpcm_batch_decode_matches_scalar():
    """The r13 block-batch IMA decode (numpy recursion across
    independent blocks) is bit-identical to the per-block scalar
    state machine on long random streams, and short streams keep the
    scalar path."""
    import random

    from falcon_metrics_etl_spark.functions import multimodal as MM

    rng = random.Random(4321)
    for trial in range(6):
        n = rng.randint(MM.ADPCM_BLOCK_ALIGN * 8, 12000)
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        wav = MM.encode_wav_ima_adpcm(samples)
        (_, _, _, ba, _, fact, body) = MM._wav_walk(wav)
        scalar = []
        for off in range(0, len(body), ba):
            scalar.extend(MM._ima_decode_block(body[off : off + ba]))
        if fact is not None:
            scalar = scalar[:fact]
        assert MM.decode_wav_samples(wav)["samples"] == scalar, trial
    # short stream (< IMA_BATCH_MIN_BLOCKS full blocks): same values
    short = [rng.randint(-32768, 32767) for _ in range(1000)]
    wav = MM.encode_wav_ima_adpcm(short)
    d = MM.decode_wav_samples(wav)
    assert len(d["samples"]) == 1000


def test_ms_adpcm_batch_decode_matches_scalar():
    """The r14 block-batch MS-ADPCM decode (numpy recursion across
    independent per-header blocks, mono AND stereo) is bit-identical
    to the per-block scalar state machine on long random streams —
    including the C-style truncate-toward-zero /256 prediction under
    the negative-product c2 != 0 predictors — and chunked batching
    (bounded peak allocation) splits exactly on block boundaries."""
    import random

    from falcon_metrics_etl_spark.functions import multimodal as MM

    rng = random.Random(1414)
    for channels in (1, 2):
        for trial in range(4):
            n = rng.randint(4000, 12000) * channels
            if channels == 2 and n % 2:
                n += 1
            samples = [rng.randint(-32768, 32767) for _ in range(n)]
            wav = MM.encode_wav_ms_adpcm(
                samples, channels=channels, predictor=rng.randrange(7)
            )
            (_, ch, _, ba, _, fact, body) = MM._wav_walk(wav)
            assert ch == channels
            scalar = []
            for off in range(0, len(body), ba):
                scalar.extend(
                    MM._ms_decode_block(body[off : off + ba], channels)
                )
            if fact is not None:
                scalar = scalar[: fact * channels]
            assert MM.decode_wav_samples(wav)["samples"] == scalar, (
                channels,
                trial,
            )
    # chunked batching is exact: force tiny chunks over a long stream
    samples = [rng.randint(-32768, 32767) for _ in range(9000)]
    wav = MM.encode_wav_ms_adpcm(samples, channels=1)
    full = MM.decode_wav_samples(wav)["samples"]
    orig = MM.ADPCM_BATCH_CHUNK_BLOCKS
    try:
        MM.ADPCM_BATCH_CHUNK_BLOCKS = 3
        assert MM.decode_wav_samples(wav)["samples"] == full
    finally:
        MM.ADPCM_BATCH_CHUNK_BLOCKS = orig
