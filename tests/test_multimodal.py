"""Multimodal plumbing: schema, determinism, fake-only decode (SURVEY.md extras)."""

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from tsclust_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_fake_media,
    extract_features,
    resize_media,
    sample_frames,
)


@pytest.mark.spark
def test_extract_features_rejects_non_fake_mime(spark):
    """Only ``image/fake`` media decode; any other mime fails the stage
    with an error that names the mime."""
    docs = spark.range(2).select(F.col("id").cast("string").alias("doc_id"))
    media = attach_fake_media(docs).withColumn(
        "media", F.col("media").withField("mime", F.lit("image/png"))
    )
    with pytest.raises(PythonException, match="NotImplementedError.*'image/png'"):
        extract_features(media).collect()


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
    """md5("37784") starts with ffd8, JPEG's magic: the mime, not the
    payload's leading bytes, picks the decoder, so the fake media of that
    id decode through the fake decoder."""
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
