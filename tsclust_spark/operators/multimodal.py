"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media are opaque ``binary`` columns with a typed metadata struct:

    media STRUCT<payload: BINARY, mime: STRING, width: INT, height: INT,
                 n_frames: INT, sample_rate: INT>

The Spark-side machinery — schema, Arrow batch shape, ``mapInPandas``
signatures, partition sizing — is real and tested. Decoding is not:
``extract_features`` and ``resize_media`` decode only ``image/fake``
media, the rows :func:`attach_fake_media` builds, through a
deterministic fake decoder (pixels from an RNG seeded by the payload's
md5), so the plumbing runs end to end with verifiable outputs. A row
with any other mime raises ``NotImplementedError`` naming that mime.

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


def _decode_media(m) -> np.ndarray:
    """Decode one media struct to a grayscale (H, W) uint8 grid.

    Only ``image/fake`` media (from :func:`attach_fake_media`) decode;
    any other mime raises ``NotImplementedError`` naming it."""
    if m["mime"] != "image/fake":
        raise NotImplementedError(
            f"no decoder for mime {m['mime']!r}: only 'image/fake' media decode"
        )
    return _fake_pixels(bytes(m["payload"]), int(m["width"]), int(m["height"]))


def extract_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
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
                px = _decode_media(m)
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
) -> DataFrame:
    """Nearest-neighbor resize of the decoded grid; returns new payload
    bytes + updated metadata (shape-preserving media transform stage)."""

    def compute(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            outs = []
            for m in pdf[media_col]:
                px = _decode_media(m)
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
