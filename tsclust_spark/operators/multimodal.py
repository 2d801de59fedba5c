"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media are opaque ``binary`` columns with a typed metadata struct:

    media STRUCT<payload: BINARY, mime: STRING, width: INT, height: INT,
                 n_frames: INT, sample_rate: INT>

The Spark-side machinery — schema, Arrow batch shape, ``mapInPandas``
signatures, partition sizing — is real and tested. Decoding:

- **BMP and PNG are decoded for real** (:func:`decode_bmp`:
  dependency-free parser for uncompressed BI_RGB 24-bit and
  8-bit-palette bitmaps, bottom-up or top-down, 4-byte row padding;
  :func:`decode_png`: stdlib-zlib inflate + full None/Sub/Up/Average/
  Paeth unfiltering for 8-bit non-interlaced gray/RGB/palette/alpha) —
  ``decode_image`` sniffs the magic bytes and routes there
  automatically, so real bytes flow end-to-end through
  ``extract_features``/``resize_media``. :func:`encode_bmp` /
  :func:`encode_png` are the matching writers (test fixtures
  round-trip).
- **Baseline JPEG is decoded for real too** (operators/jpeg.py: a
  from-scratch ITU-T T.81 baseline sequential codec — marker parse,
  canonical Huffman, dequant, IDCT, 4:4:4/4:2:2/4:2:0 chroma
  upsampling — numpy + stdlib only, with a matching encoder for
  round-trip fixtures).  Progressive/arithmetic JPEG and audio/video
  remain STUBBED (no media libraries in this container):
  :func:`decode_image` raises ``NotImplementedError`` unless
  ``fake_decode=True``, in which case a deterministic fake decoder
  (seeded by the payload's md5) produces stable pseudo-pixels so
  downstream plumbing is exercised end-to-end with verifiable outputs.

Scale notes: media rows are large (MBs) — the Arrow batch cap
(session.py ARROW_MAX_RECORDS_PER_BATCH) matters more here than
anywhere; real deployments should also set
``spark.sql.files.maxPartitionBytes`` low enough that a partition of
payloads fits in a Python worker.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "payload binary, mime string, width int, height int, "
    "n_frames int, sample_rate int"
)

FEATURE_DIM = 64


def attach_fake_media(
    df: DataFrame, id_col: str = "doc_id", width: int = 32, height: int = 32
) -> DataFrame:
    """Wrap rows with a deterministic fake media struct (payload = the
    md5 bytes of the id, repeated) — the test fixture generator."""
    payload = F.unhex(
        F.repeat(F.md5(F.col(id_col).cast("string")), 4)
    )
    return df.withColumn(
        "media",
        F.struct(
            payload.alias("payload"),
            F.lit("image/fake").alias("mime"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(1).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ),
    )


def _fake_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic pseudo-decode: seed an RNG from md5(payload)."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width), dtype=np.uint8)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Write a 24-bit uncompressed (BI_RGB) bottom-up BMP.

    ``pixels``: (H, W) grayscale or (H, W, 3) RGB uint8. Rows are padded
    to 4 bytes per the format. Round-trips through :func:`decode_bmp`.
    """
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px, px, px], axis=-1)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    data_size = (row_bytes + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    out = bytearray(header)
    bgr = px[:, :, ::-1]  # BMP stores BGR
    for y in range(h - 1, -1, -1):  # bottom-up
        out += bgr[y].tobytes() + b"\x00" * pad
    return bytes(out)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Dependency-free BMP decoder -> grayscale uint8 (H, W).

    Supports uncompressed (BI_RGB) 24-bit and 8-bit-palette bitmaps,
    bottom-up (positive height) and top-down (negative height), with the
    format's 4-byte row padding. Grayscale via integer ITU-R 601 luma
    ((299 r + 587 g + 114 b) // 1000) — deterministic, no float."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} unsupported")
    if bpp not in (8, 24):
        raise NotImplementedError(f"BMP bpp {bpp} unsupported")
    top_down = h_signed < 0
    h = abs(h_signed)
    row_bytes = (w * (bpp // 8) + 3) & ~3
    raw = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)
    if not top_down:
        raw = raw[::-1]
    if bpp == 24:
        bgr = raw[:, : w * 3].reshape(h, w, 3).astype(np.uint32)
        gray = (
            299 * bgr[:, :, 2] + 587 * bgr[:, :, 1] + 114 * bgr[:, :, 0]
        ) // 1000
        return gray.astype(np.uint8)
    # 8-bit: palette of BGRA entries right after the DIB header
    n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
    pal = np.frombuffer(
        payload, dtype=np.uint8, count=n_colors * 4, offset=14 + dib_size
    ).reshape(n_colors, 4).astype(np.uint32)
    pal_gray = (
        (299 * pal[:, 2] + 587 * pal[:, 1] + 114 * pal[:, 0]) // 1000
    ).astype(np.uint8)
    return pal_gray[raw[:, :w]]


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels: np.ndarray) -> bytes:
    """Write an 8-bit non-interlaced PNG (grayscale or RGB) with stdlib
    zlib only — filter type 0 on every scanline. Round-trips through
    :func:`decode_png`."""
    import struct
    import zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color_type, channels = 0, 1
        px = px[:, :, None]
    else:
        color_type, channels = 2, 3
    h, w, _ = px.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(
        b"\x00" + px[y].tobytes() for y in range(h)
    )
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Dependency-free PNG decoder -> grayscale uint8 (H, W).

    Stdlib ``zlib`` inflate + full scanline unfiltering (None/Sub/Up/
    Average/Paeth). Supports 8-bit non-interlaced grayscale (0), RGB
    (2), palette (3), gray+alpha (4) and RGBA (6); alpha is ignored and
    color collapses through the same integer ITU-R 601 luma as
    :func:`decode_bmp`."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, plte = 8, [], None
    w = h = bit_depth = color_type = interlace = None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IEND":
            break
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} unsupported")
    if interlace != 0:
        raise NotImplementedError("interlaced PNG unsupported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color_type} unsupported")

    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        cur = np.empty(stride, dtype=np.int32)
        if f == 0:  # None
            cur = line.copy()
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the left neighbor: scan
            for x in range(stride):
                left = cur[x - channels] if x >= channels else 0
                up = prev[x]
                ul = prev[x - channels] if x >= channels else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                elif f == 4:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = (
                        left if pa <= pb and pa <= pc else up if pb <= pc else ul
                    )
                else:
                    raise ValueError(f"bad PNG filter {f}")
                cur[x] = (line[x] + pred) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur

    px = out.reshape(h, w, channels).astype(np.uint32)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        rgb = plte[px[:, :, 0]].astype(np.uint32)
        return (
            (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2])
            // 1000
        ).astype(np.uint8)
    if channels == 1 or color_type == 4:
        return px[:, :, 0].astype(np.uint8)
    return (
        (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
    ).astype(np.uint8)


def decode_image(payload: bytes, width: int, height: int, fake_decode: bool = False):
    """Decode a media payload to a grayscale pixel grid.

    BMP payloads are decoded FOR REAL via :func:`decode_bmp` — sniffed
    by the ``BM`` magic AND the header's file-size field matching
    ``len(payload)``, so a random (fake) payload that happens to start
    with 0x42 0x4D can't mis-route into the parser. Other formats need
    PIL/opencv (not in this container): they raise unless
    ``fake_decode=True``, which routes to the deterministic md5-seeded
    fake decoder."""
    if payload[:2] == b"BM" and len(payload) >= 14:
        import struct

        if struct.unpack_from("<I", payload, 2)[0] == len(payload):
            return decode_bmp(payload)
    if payload[:8] == _PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from tsclust_spark.operators.jpeg import decode_jpeg

        px = decode_jpeg(payload)
        if px.ndim == 3:  # RGB -> same integer ITU-R 601 luma as BMP/PNG
            px32 = px.astype(np.uint32)
            px = (
                (299 * px32[:, :, 0] + 587 * px32[:, :, 1] + 114 * px32[:, :, 2])
                // 1000
            ).astype(np.uint8)
        return px
    if not fake_decode:
        raise NotImplementedError(
            "only BMP/PNG/baseline-JPEG decode without PIL/opencv; pass "
            "fake_decode=True for the deterministic test decoder"
        )
    return _fake_pixels(payload, width, height)


def _decode_media(m, fake_decode: bool) -> np.ndarray:
    """Decode one media struct. ``image/fake`` media (from
    :func:`attach_fake_media`) go to the fake decoder before any magic
    sniffing: their md5 payload starts with a format's magic bytes now
    and then (JPEG's ``ffd8`` for doc_id 37784, say)."""
    payload, width, height = bytes(m["payload"]), int(m["width"]), int(m["height"])
    if fake_decode and m["mime"] == "image/fake":
        return _fake_pixels(payload, width, height)
    return decode_image(payload, width, height, fake_decode=fake_decode)


def extract_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    fake_decode: bool = True,
) -> DataFrame:
    """media -> fixed-dim feature vector via mapInPandas (Arrow batches).

    Feature = per-block mean of the decoded (fake) pixel grid, flattened
    to FEATURE_DIM floats — a stand-in with the exact plumbing a real
    CNN/CLIP embedding stage would use (binary in, array<float> out).
    """

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = []
            for m in pdf[media_col]:
                px = _decode_media(m, fake_decode)
                g = int(np.sqrt(FEATURE_DIM))
                h, w = px.shape
                blocks = px[: h - h % g, : w - w % g].reshape(
                    g, h // g, g, w // g
                ).mean(axis=(1, 3))
                feats.append((blocks.ravel() / 255.0).astype(np.float32).tolist())
            yield pd.DataFrame({"doc_id": pdf[id_col], "feature": feats})

    return df.mapInPandas(
        compute, schema="doc_id string, feature array<float>"
    )


def resize_media(
    df: DataFrame,
    out_width: int,
    out_height: int,
    media_col: str = "media",
    id_col: str = "doc_id",
    fake_decode: bool = True,
) -> DataFrame:
    """Nearest-neighbor resize of the decoded grid; returns new payload
    bytes + updated metadata (shape-preserving media transform stage)."""

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            outs = []
            for m in pdf[media_col]:
                px = _decode_media(m, fake_decode)
                ys = (np.arange(out_height) * px.shape[0] // out_height)
                xs = (np.arange(out_width) * px.shape[1] // out_width)
                outs.append(px[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": outs,
                    "width": np.int32(out_width),
                    "height": np.int32(out_height),
                }
            )

    return df.mapInPandas(
        compute,
        schema="doc_id string, payload binary, width int, height int",
    )


def sample_frames(
    df: DataFrame,
    every_n: int = 2,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame-sampling plumbing: one output row per kept frame index.

    Real video decode is stubbed; the index arithmetic (the part Spark
    owns) is exact: frames 0, every_n, 2*every_n, ... < n_frames.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col(f"{media_col}.n_frames") - 1, F.lit(0)),
                F.lit(every_n),
            )
        ).alias("frame_idx"),
    )
