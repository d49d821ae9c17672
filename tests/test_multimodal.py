"""Multimodal plumbing: binary payload columns through the mapInPandas
decode/feature pass. Header decode (PNG/JPEG/GIF width/height) is REAL
pure-Python parsing, and PNG pixel decode (IDAT inflate + un-filtering +
exact pixel stats) is REAL stdlib-zlib code — both tested against crafted
byte fixtures with known pixels. JPEG/GIF pixel decode still needs a codec
(absent here) and stays the deterministic digest stand-in."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bravewebcrawler_spark.operators.multimodal import (
    decode_png_pixels,
    extract_media_features,
    media_table_from_documents,
    parse_image_header,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
    ]
)


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\xf7\x00\x00"


def _jpeg(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + b"\x03" + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return len(data).to_bytes(4, "big") + typ + data + zlib.crc32(typ + data).to_bytes(4, "big")


def _encode_png(pixels, color_type: int, filters=None, bit_depth: int = 8, interlace: int = 0) -> bytes:
    """Reference PNG encoder for the fixtures: applies the REQUESTED filter
    type per scanline (the inverse of the decoder's un-filtering), deflates,
    and wraps in real chunks with CRCs — a spec-faithful stream any PNG
    reader would accept. ``pixels`` is rows of per-pixel sample tuples."""
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    w, h = len(pixels[0]), len(pixels)
    raw = bytearray()
    prev = bytearray(w * channels)
    for y in range(h):
        line = bytearray()
        for px in pixels[y]:
            line += bytes(px)
        ft = filters[y] if filters else 0
        raw.append(ft)
        for x in range(len(line)):
            a = line[x - channels] if x >= channels else 0
            up = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (a + up) >> 1
            else:  # Paeth
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
            raw.append((line[x] - pred) & 0xFF)
        prev = line
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([bit_depth, color_type, 0, 0, interlace])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _expected_stats(pixels, channels: int) -> list[float]:
    samples = [s for row in pixels for px in row for s in px]
    return [
        round(sum(samples) / len(samples) / 255.0, 6),
        round(min(samples) / 255.0, 6),
        round(max(samples) / 255.0, 6),
        round(channels / 4.0, 6),
    ]


def test_png_pixel_decode_gray_exact_stats():
    pixels = [[(0,), (255,)], [(100,), (55,)]]
    got = decode_png_pixels(_encode_png(pixels, color_type=0))
    assert got == (2, 2, _expected_stats(pixels, 1))


def test_png_pixel_decode_all_filter_types():
    # 5 rows x 3 px RGB, one scanline per PNG filter type 0-4 — the decoder
    # must invert every filter exactly to reproduce the known pixel stats
    pixels = [
        [(y * 40 + x * 13 % 7, (y * 53 + x * 29) % 256, (x * 91 + y * 17) % 256) for x in range(3)]
        for y in range(5)
    ]
    png = _encode_png(pixels, color_type=2, filters=[0, 1, 2, 3, 4])
    got = decode_png_pixels(png)
    assert got == (3, 5, _expected_stats(pixels, 3))


def test_png_pixel_decode_rgba_and_gray_alpha():
    rgba = [[(10, 20, 30, 255), (200, 150, 100, 128)], [(0, 0, 0, 0), (255, 255, 255, 255)]]
    assert decode_png_pixels(_encode_png(rgba, color_type=6, filters=[4, 1])) == (
        2, 2, _expected_stats(rgba, 4),
    )
    ga = [[(7, 250), (128, 3)]]
    assert decode_png_pixels(_encode_png(ga, color_type=4, filters=[2])) == (
        2, 1, _expected_stats(ga, 2),
    )


def test_png_pixel_decode_out_of_scope_falls_back():
    pixels = [[(1,), (2,)]]
    # palette / 16-bit / interlaced / corrupt IDAT -> None (digest fallback)
    gray = bytearray(_encode_png(pixels, color_type=0))
    gray[25] = 3  # color-type byte at its fixed IHDR offset -> palette
    assert decode_png_pixels(bytes(gray)) is None
    assert decode_png_pixels(_encode_png(pixels, color_type=0, bit_depth=16)) is None
    assert decode_png_pixels(_encode_png(pixels, color_type=0, interlace=1)) is None
    ok = _encode_png(pixels, color_type=0)
    corrupt = ok.replace(b"IDAT", b"IDAX")  # IDAT missing -> empty stream
    assert decode_png_pixels(corrupt) is None
    assert decode_png_pixels(b"not a png at all") is None
    assert decode_png_pixels(None) is None
    # header-only fixture (no IDAT): geometry parses, pixels do not
    assert decode_png_pixels(_png(640, 480)) is None
    assert parse_image_header(ok) == (2, 1)


def test_real_png_pixels_through_mapinpandas(spark):
    pixels = [[(0, 0, 0), (255, 255, 255)], [(30, 60, 90), (120, 150, 180)]]
    png = _encode_png(pixels, color_type=2, filters=[0, 4])
    media = spark.createDataFrame(
        [("m-real", png, "image/png", len(png))], MEDIA_SCHEMA
    )
    row = extract_media_features(media).collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    expect = _expected_stats(pixels, 3)
    assert [round(float(v), 6) for v in row["feature"]] == expect


def test_parse_image_header_fixtures():
    assert parse_image_header(_png(640, 480)) == (640, 480)
    assert parse_image_header(_gif(320, 200)) == (320, 200)
    assert parse_image_header(_jpeg(1024, 768)) == (1024, 768)
    # progressive JPEG (SOF2) and a restart-marker-led stream
    prog = _jpeg(99, 77).replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_image_header(prog) == (99, 77)
    # negatives: text bytes, truncated PNG, empty, EOI-before-SOF jpeg
    assert parse_image_header(b"hello world, not an image") is None
    assert parse_image_header(_png(640, 480)[:15]) is None
    assert parse_image_header(None) is None
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None


def test_real_headers_through_mapinpandas(spark):
    media = spark.createDataFrame(
        [
            ("m-png", _png(640, 480), "image/png", 33),
            ("m-gif", _gif(320, 200), "image/gif", 13),
            ("m-jpg", _jpeg(1024, 768), "image/jpeg", 43),
            ("m-txt", b"just some text bytes here", "text/plain", 25),
            ("m-null", None, "image/png", None),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert (out["m-png"]["width"], out["m-png"]["height"]) == (640, 480)
    assert (out["m-gif"]["width"], out["m-gif"]["height"]) == (320, 200)
    assert (out["m-jpg"]["width"], out["m-jpg"]["height"]) == (1024, 768)
    # non-image bytes fall back to the deterministic digest stand-in
    assert 64 <= out["m-txt"]["width"] <= 255
    assert out["m-null"]["width"] is None and out["m-null"]["feature"] is None
    # feature vector is present for all non-null payloads (digest stand-in)
    assert len(out["m-png"]["feature"]) == 4


def test_media_feature_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = media_table_from_documents(docs)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r["media_id"].startswith("media-")
    assert 64 <= r["width"] <= 255 and 64 <= r["height"] <= 255
    assert len(r["feature"]) == 4
    assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # deterministic: same payload -> same feature
    again = {x["media_id"]: x["feature"] for x in extract_media_features(media).collect()}
    assert again[r["media_id"]] == r["feature"]
    # mime partitioning stats line up with payload sizes
    stats = media.groupBy("mime").agg(F.count("*").alias("n")).collect()
    assert sum(s["n"] for s in stats) == len(rows)
