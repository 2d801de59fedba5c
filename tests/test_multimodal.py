"""Multimodal plumbing: schema, determinism, stub gating (SURVEY.md extras)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsclust_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_fake_media,
    decode_image,
    extract_features,
    resize_media,
    sample_frames,
)


def test_decode_stub_gated():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00", 4, 4, fake_decode=False)
    px = decode_image(b"\x00", 4, 4, fake_decode=True)
    assert px.shape == (4, 4) and px.dtype == np.uint8
    # deterministic: same payload -> same pixels
    np.testing.assert_array_equal(px, decode_image(b"\x00", 4, 4, fake_decode=True))


@pytest.mark.spark
def test_feature_extraction_shape_and_determinism(spark):
    docs = spark.range(20).select(F.col("id").cast("string").alias("doc_id"))
    media = attach_fake_media(docs)
    feats1 = {r.doc_id: r.feature for r in extract_features(media).collect()}
    feats2 = {r.doc_id: r.feature for r in extract_features(media).collect()}
    assert len(feats1) == 20
    for k, v in feats1.items():
        assert len(v) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in v)
        assert v == feats2[k]


@pytest.mark.spark
def test_fake_media_with_jpeg_magic_uses_the_fake_decoder(spark):
    """md5("37784") starts with ffd8, JPEG's magic: the fake media of
    that id must still decode through the fake decoder, not the JPEG
    parser (which raised "no SOS marker found")."""
    import hashlib

    from tsclust_spark.operators.multimodal import _fake_pixels

    payload = hashlib.md5(b"37784").digest() * 4
    assert payload[:2] == b"\xff\xd8"
    docs = spark.createDataFrame([("37784",)], "doc_id string")
    media = attach_fake_media(docs)
    (row,) = extract_features(media).collect()
    px = _fake_pixels(payload, 32, 32)
    g = int(np.sqrt(FEATURE_DIM))
    want = (px.reshape(g, 32 // g, g, 32 // g).mean(axis=(1, 3)).ravel() / 255.0)
    np.testing.assert_allclose(row.feature, want.astype(np.float32))
    (small,) = resize_media(media, 8, 8).collect()
    assert small.payload == px[:: 32 // 8, :: 32 // 8].tobytes()


@pytest.mark.spark
def test_resize_dimensions(spark):
    docs = spark.range(5).select(F.col("id").cast("string").alias("doc_id"))
    media = attach_fake_media(docs, width=32, height=32)
    out = resize_media(media, out_width=8, out_height=4).collect()
    for r in out:
        assert r.width == 8 and r.height == 4
        assert len(r.payload) == 8 * 4


@pytest.mark.spark
def test_frame_sampling_indices(spark):
    docs = spark.range(1).select(F.col("id").cast("string").alias("doc_id"))
    media = attach_fake_media(docs).withColumn(
        "media",
        F.col("media").withField("n_frames", F.lit(10)),
    )
    idx = sorted(r.frame_idx for r in sample_frames(media, every_n=3).collect())
    assert idx == [0, 3, 6, 9]


def test_bmp_roundtrip_and_padding():
    """encode_bmp -> decode_bmp is exact for grayscale, including widths
    whose rows need 4-byte padding (w=3 -> 9+3 pad, w=5 -> 15+1 pad)."""
    import numpy as np

    from tsclust_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.RandomState(3)
    for h, w in [(4, 4), (3, 3), (7, 5), (1, 1), (2, 13)]:
        px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        got = decode_bmp(encode_bmp(px))
        assert got.shape == (h, w)
        assert np.array_equal(got, px)


def test_bmp_rgb_luma_and_topdown():
    import struct

    import numpy as np

    from tsclust_spark.operators.multimodal import decode_bmp, encode_bmp

    # pure-channel pixels -> integer ITU-R 601 luma
    rgb = np.zeros((1, 3, 3), dtype=np.uint8)
    rgb[0, 0] = [255, 0, 0]
    rgb[0, 1] = [0, 255, 0]
    rgb[0, 2] = [0, 0, 255]
    got = decode_bmp(encode_bmp(rgb))
    assert got.tolist() == [[255 * 299 // 1000, 255 * 587 // 1000,
                             255 * 114 // 1000]]

    # top-down variant: flip the height sign, drop the bottom-up row flip
    px = np.arange(12, dtype=np.uint8).reshape(2, 6)
    bottom_up = bytearray(encode_bmp(px))
    h = struct.unpack_from("<i", bottom_up, 22)[0]
    struct.pack_into("<i", bottom_up, 22, -h)
    data = bottom_up[54:]
    rows = [bytes(data[i : i + 20]) for i in range(0, len(data), 20)]
    flipped = bytes(bottom_up[:54]) + b"".join(reversed(rows))
    assert np.array_equal(decode_bmp(flipped), px)


def test_decode_image_sniffs_bmp_magic():
    import numpy as np
    import pytest as _pytest

    from tsclust_spark.operators.multimodal import decode_image, encode_bmp

    px = np.full((4, 4), 7, dtype=np.uint8)
    # BMP decodes for real even with fake_decode left off
    assert np.array_equal(decode_image(encode_bmp(px), 4, 4), px)
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG1234", 4, 4)


@pytest.mark.spark
def test_extract_features_real_bmp_end_to_end(spark):
    """Real BMP bytes through the full Spark mapInPandas feature stage:
    a constant-gray image must produce a constant feature vector equal
    to gray/255."""
    import numpy as np
    from pyspark.sql import functions as F

    from tsclust_spark.operators.multimodal import (
        FEATURE_DIM,
        encode_bmp,
        extract_features,
    )

    rows = []
    for doc, gray in [("b1", 0), ("b2", 128), ("b3", 255)]:
        px = np.full((16, 16), gray, dtype=np.uint8)
        rows.append((doc, bytearray(encode_bmp(px))))
    df = spark.createDataFrame(rows, "doc_id string, payload binary").select(
        "doc_id",
        F.struct(
            F.col("payload").alias("payload"),
            F.lit("image/bmp").alias("mime"),
            F.lit(16).alias("width"),
            F.lit(16).alias("height"),
            F.lit(1).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ).alias("media"),
    )
    out = {r.doc_id: r.feature
           for r in extract_features(df, fake_decode=False).collect()}
    for doc, gray in [("b1", 0), ("b2", 128), ("b3", 255)]:
        feat = out[doc]
        assert len(feat) == FEATURE_DIM
        assert all(abs(f - gray / 255.0) < 1e-6 for f in feat)


def test_png_roundtrip_gray_and_rgb():
    import numpy as np

    from tsclust_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.RandomState(5)
    for h, w in [(1, 1), (4, 4), (7, 3), (2, 13)]:
        px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px)
    rgb = rng.randint(0, 256, size=(5, 6, 3)).astype(np.uint8)
    want = (
        299 * rgb[:, :, 0].astype(np.uint32)
        + 587 * rgb[:, :, 1].astype(np.uint32)
        + 114 * rgb[:, :, 2].astype(np.uint32)
    ) // 1000
    assert np.array_equal(decode_png(encode_png(rgb)), want.astype(np.uint8))


def _png_with_filters(px: np.ndarray, filters: list) -> bytes:
    """Assemble a real PNG whose scanlines use the GIVEN filter types,
    by forward-filtering the pixels independently of the decoder."""
    import struct
    import zlib

    h, w = px.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = px[y].astype(np.int32)
        line = np.empty(w, dtype=np.int32)
        for x in range(w):
            left = int(cur[x - 1]) if x >= 1 else 0
            up = int(prev[x])
            ul = int(prev[x - 1]) if x >= 1 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else up if pb <= pc else ul
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw += bytes([f]) + line.astype(np.uint8).tobytes()
        prev = cur

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_png_all_filter_types_unfilter_correctly():
    import numpy as np

    from tsclust_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, size=(10, 8)).astype(np.uint8)
    # each filter alone, then a mix cycling through all five
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        payload = _png_with_filters(px, filters)
        assert np.array_equal(decode_png(payload), px), filters


def test_png_palette_and_rgba():
    import struct
    import zlib

    import numpy as np

    from tsclust_spark.operators.multimodal import decode_png, encode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # palette: 2x2 of indices into a 3-color palette
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = decode_png(payload)
    lum = [255 * 299 // 1000, 255 * 587 // 1000, 255 * 114 // 1000]
    assert got.tolist() == [[lum[0], lum[1]], [lum[2], lum[0]]]

    # RGBA: alpha ignored, color collapses to luma
    rgba = np.zeros((1, 2, 4), dtype=np.uint8)
    rgba[0, 0] = [100, 100, 100, 7]
    rgba[0, 1] = [255, 0, 0, 200]
    raw = b"\x00" + rgba[0].tobytes()
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(payload).tolist() == [[100, 255 * 299 // 1000]]


def test_decode_image_sniffs_png_magic():
    import numpy as np

    from tsclust_spark.operators.multimodal import decode_image, encode_png

    px = np.full((4, 4), 42, dtype=np.uint8)
    assert np.array_equal(decode_image(encode_png(px), 4, 4), px)
