"""Codec kernels: bit-exact round-trip gate (SURVEY.md C23-C25)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsclust_spark.kernels.codec import (
    decode_dod,
    decode_dod_batch,
    decode_xor,
    decode_xor_batch,
    encode_dod,
    encode_xor,
)


def rt_dod(ts):
    ts = np.asarray(ts, dtype=np.int64)
    out = decode_dod(encode_dod(ts))
    np.testing.assert_array_equal(out, ts)


def rt_xor(vals):
    vals = np.asarray(vals)
    out = decode_xor(encode_xor(vals))
    np.testing.assert_array_equal(out, vals)
    assert out.dtype == (np.float64 if vals.dtype == np.float64 else np.int64)


def test_dod_empty_single():
    rt_dod([])
    rt_dod([0])
    rt_dod([1704067200])
    rt_dod([-5])


def test_dod_regular_grid():
    # the engine's own time model: constant step -> dod all zero
    rt_dod(1704067200 + np.arange(5000, dtype=np.int64))
    blob = encode_dod(1704067200 + np.arange(5000, dtype=np.int64))
    # 4 header + 8 first + ~1 bucket + ~5000 zero bits -> well under raw
    assert len(blob) < 5000 * 8 / 8


def test_dod_all_buckets():
    # deltas exercising every bucket boundary
    deltas = np.array(
        [1, 1, 65, 2, -61, 258, -253, 2050, -2045, 10**9, -(10**9) + 7, 0, 0, 1]
    )
    ts = np.concatenate(([0], np.cumsum(deltas)))
    rt_dod(ts)


def test_dod_int64_wrapping_inputs():
    # inputs whose delta/dod arithmetic wraps int64: the encoder's
    # np.diff wraps modulo 2^64, and the decoder must mirror that
    # (it used to OverflowError on out[i] = prev with unbounded ints)
    rt_dod(np.array([2**62, -(2**62), 0, 2**62], dtype=np.int64))
    rt_dod(np.array([2**63 - 1, -(2**63), 2**63 - 1], dtype=np.int64))
    rt_dod(np.array([0, 2**63 - 1, 0, -(2**63), 5], dtype=np.int64))


def test_dod_bucket_edges():
    for dod in [-63, 64, -64, 65, -255, 256, -256, 257, -2047, 2048, -2048, 2049]:
        rt_dod(np.array([0, 10, 10 + 10 + dod], dtype=np.int64))


def test_xor_empty_single():
    rt_xor(np.array([], dtype=np.int64))
    rt_xor(np.array([42], dtype=np.int64))
    rt_xor(np.array([0.0]))


def test_xor_int_patterns():
    rt_xor(np.array([0, 0, 0, 0], dtype=np.int64))
    rt_xor(np.array([1, 1, 2, 2, 3, 3], dtype=np.int64))
    rt_xor(np.array([2**62, -(2**62), -1, 0, 1], dtype=np.int64))
    rt_xor(np.arange(0, 50257, 7, dtype=np.int64))


def test_xor_floats():
    rt_xor(np.array([1.5, 1.5, 2.25, -0.0, 0.0, np.pi, np.inf, -np.inf]))
    # NaN bit pattern preserved exactly
    v = np.array([np.nan, 1.0, np.nan])
    out = decode_xor(encode_xor(v))
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=200
    )
)
def test_dod_roundtrip_property(xs):
    rt_dod(np.array(xs, dtype=np.int64))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=200,
    )
)
def test_xor_int_roundtrip_property(xs):
    rt_xor(np.array(xs, dtype=np.int64))


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, width=64), min_size=0, max_size=100
    )
)
def test_xor_float_roundtrip_property(xs):
    rt_xor(np.array(xs, dtype=np.float64))


def test_token_walk_roundtrip_and_ratio():
    rng = np.random.default_rng(42)
    vals = np.clip(np.cumsum(rng.integers(-3, 4, 4096)) + 1000, 0, 50257)
    rt_xor(vals.astype(np.int64))
    blob = encode_xor(vals.astype(np.int64))
    # small-step walk: XOR codes must beat raw 8B/value comfortably
    assert len(blob) < 4096 * 8 * 0.6


@pytest.mark.spark
def _dod_edge_arrays():
    rng = np.random.default_rng(3)
    return [
        np.empty(0, dtype=np.int64),
        np.array([0], dtype=np.int64),
        np.array([-5], dtype=np.int64),
        1704067200 + np.arange(700, dtype=np.int64),  # all-zero dods
        np.concatenate(
            (
                [0],
                np.cumsum(
                    [1, 1, 65, 2, -61, 258, -253, 2050, -2045, 10**9,
                     -(10**9) + 7, 0, 0, 1]
                ),
            )
        ).astype(np.int64),  # every bucket
        np.array([2**62, -(2**62), 0, 2**62], dtype=np.int64),  # wrapping
        np.array([2**63 - 1, -(2**63), 2**63 - 1], dtype=np.int64),
        rng.integers(-(2**40), 2**40, size=333).astype(np.int64),
        np.cumsum(rng.integers(-3, 4, size=1009)).astype(np.int64),
    ]


def _xor_edge_arrays():
    rng = np.random.default_rng(5)
    return [
        np.empty(0, dtype=np.int64),
        np.array([7], dtype=np.int64),
        np.array([3.5], dtype=np.float64),
        np.zeros(64, dtype=np.int64),  # all-zero xors
        np.array([0, -1, 0, -1], dtype=np.int64),  # 64 meaningful bits
        np.array([1, 2, 4, 8, 2**62, 1], dtype=np.int64),
        rng.integers(0, 2**16, size=501).astype(np.int64),  # token-like
        rng.normal(size=257),  # float64 walk
        np.cumsum(rng.integers(-2, 3, size=999)).astype(np.int64),
        np.empty(0, dtype=np.float64),
    ]


def test_decode_dod_batch_bit_equals_scalar():
    """The batch decoder must reproduce the scalar reference
    decoder bit-for-bit across every edge class at once (mixed lengths,
    wrapping, empties, every bucket)."""
    arrays = _dod_edge_arrays()
    blobs = [encode_dod(a) for a in arrays]
    got = decode_dod_batch(blobs)
    assert len(got) == len(arrays)
    for g, a in zip(got, arrays):
        assert g.dtype == np.int64
        np.testing.assert_array_equal(g, a)
        np.testing.assert_array_equal(g, decode_dod(encode_dod(a)))


def test_decode_xor_batch_bit_equals_scalar():
    arrays = _xor_edge_arrays()
    blobs = [encode_xor(a) for a in arrays]
    got = decode_xor_batch(blobs)
    for g, a in zip(got, arrays):
        expect_dtype = (
            np.float64 if a.dtype == np.float64 else np.int64
        )
        assert g.dtype == expect_dtype
        np.testing.assert_array_equal(g, a)


def test_decode_batch_short_row_with_densest_payload():
    """Regression (round-4 bench crash): a row with FEWER points than
    the chunk max but the LARGEST payload used to get a phantom decode
    step after its stream ended (searchsorted side off-by-one), whose
    window gather ran past the padded word matrix.  Short-but-dense next
    to long-but-sparse reproduces it deterministically."""
    rng = np.random.default_rng(21)
    sparse_long = np.zeros(300, dtype=np.int64)  # tiny payload, max n
    dense_short = rng.integers(
        -(2**62), 2**62, size=250
    ).astype(np.int64)  # max payload, smaller n
    arrays = [sparse_long, dense_short, np.zeros(5, dtype=np.int64)]
    got = decode_xor_batch([encode_xor(a) for a in arrays])
    for g, a in zip(got, arrays):
        np.testing.assert_array_equal(g, a)
    ts = [
        np.zeros(300, dtype=np.int64),
        np.cumsum(rng.integers(-(2**40), 2**40, size=250)).astype(np.int64),
    ]
    for g, a in zip(decode_dod_batch([encode_dod(t) for t in ts]), ts):
        np.testing.assert_array_equal(g, a)


def test_decode_batch_chunking():
    """Tiny chunk_elems forces many row-chunks; results identical."""
    arrays = _xor_edge_arrays()
    blobs = [encode_xor(a) for a in arrays]
    got = decode_xor_batch(blobs, chunk_elems=16)
    for g, a in zip(got, arrays):
        np.testing.assert_array_equal(g, a)
    d_arrays = _dod_edge_arrays()
    d_blobs = [encode_dod(a) for a in d_arrays]
    for g, a in zip(decode_dod_batch(d_blobs, chunk_elems=16), d_arrays):
        np.testing.assert_array_equal(g, a)


@settings(deadline=None, max_examples=25)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            max_size=80,
        ),
        max_size=12,
    )
)
def test_decode_xor_batch_property(rows):
    arrays = [np.array(r, dtype=np.int64) for r in rows]
    got = decode_xor_batch([encode_xor(a) for a in arrays])
    for g, a in zip(got, arrays):
        np.testing.assert_array_equal(g, a)


@settings(deadline=None, max_examples=25)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            max_size=80,
        ),
        max_size=12,
    )
)
def test_decode_dod_batch_property(rows):
    arrays = [np.array(r, dtype=np.int64) for r in rows]
    got = decode_dod_batch([encode_dod(a) for a in arrays])
    assert len(got) == len(arrays)
    for g, a in zip(got, arrays):
        assert g.dtype == np.int64
        np.testing.assert_array_equal(g, a)


def test_decode_xor_batch_mixed_with_long_blocks():
    """Empty, 1-point, float and 64-meaningful-bit blocks sharing one
    batch with 4,096-point blocks: every block decodes to its input and
    to the scalar oracle, whatever its neighbours' lengths."""
    rng = np.random.default_rng(17)
    arrays = [
        np.clip(np.cumsum(rng.integers(-3, 4, 4096)) + 1000, 0, 50257).astype(
            np.int64
        ),
        np.empty(0, dtype=np.int64),
        np.array([11], dtype=np.int64),
        rng.normal(size=4096),
        np.array([0, -1, 0, -1, 0], dtype=np.int64),
        np.array([2.5], dtype=np.float64),
        rng.integers(-(2**63), 2**63 - 1, size=4096, dtype=np.int64),
        np.empty(0, dtype=np.float64),
        rng.integers(0, 50257, size=4096).astype(np.int64),
    ]
    blobs = [encode_xor(a) for a in arrays]
    got = decode_xor_batch(blobs)
    assert len(got) == len(arrays)
    for g, a, b in zip(got, arrays, blobs):
        assert g.dtype == a.dtype
        np.testing.assert_array_equal(g.view(np.uint64), a.view(np.uint64))
        np.testing.assert_array_equal(g.view(np.uint64), decode_xor(b).view(np.uint64))


def test_decode_batch_rejects_count_beyond_stream():
    """A block whose count header claims more points than its bit stream
    holds raises instead of reading its neighbour's bits."""
    good = encode_xor(np.array([1, 2, 3], dtype=np.int64))
    bad = np.uint32(1000).tobytes() + good[4:]
    with pytest.raises(ValueError, match="fewer codewords"):
        decode_xor_batch([bad, good])
    dod = encode_dod(np.array([10, 20, 30], dtype=np.int64))
    with pytest.raises(ValueError, match="fewer codewords"):
        decode_dod_batch([np.uint32(1000).tobytes() + dod[4:]])


def test_spark_roundtrip_gate(spark):
    from tsclust_spark.kernels.codec import compress_sequences, roundtrip_ok
    from tsclust_spark.sources.datagen import read_sequences

    seq = read_sequences(spark, "smoke")
    res = roundtrip_ok(seq)
    assert res.count() == 1000
    from pyspark.sql import functions as F

    assert res.filter(~F.col("ok")).count() == 0

    blocks = compress_sequences(seq.limit(100))
    rows = blocks.collect()
    assert len(rows) == 100
    # compression actually compresses on the token walk
    import numpy as np

    tot_raw = sum(r.n * 8 for r in rows)
    tot_xor = sum(len(r.xor) for r in rows)
    assert tot_xor < tot_raw


def test_xor_batch_byte_identical_to_per_row():
    """encode_xor_batch must produce byte-identical blobs to per-row
    encode_xor, across empty/single/constant/wrapping/float rows."""
    from tsclust_spark.kernels.codec import encode_xor_batch

    rng = np.random.default_rng(3)
    rows = [
        rng.integers(0, 50257, int(ln)).astype(np.int64)
        for ln in rng.integers(0, 300, 100)
    ]
    rows += [
        np.array([], dtype=np.int64),
        np.array([7], dtype=np.int64),
        np.full(50, 42, dtype=np.int64),
        np.array([2**62, -(2**62), 0, 2**63 - 1, -(2**63)], dtype=np.int64),
    ]
    nonempty = [r for r in rows if r.size]
    flat = np.concatenate(nonempty) if nonempty else np.empty(0, np.int64)
    lengths = np.array([r.size for r in rows])
    got = encode_xor_batch(flat, lengths)
    assert got == [encode_xor(r) for r in rows]

    frows = [
        rng.normal(size=int(ln)).astype(np.float64)
        for ln in rng.integers(0, 80, 60)
    ]
    fne = [r for r in frows if r.size]
    fflat = np.concatenate(fne) if fne else np.empty(0, np.float64)
    got = encode_xor_batch(fflat, np.array([r.size for r in frows]))
    assert got == [encode_xor(r) for r in frows]


@pytest.mark.spark
def test_decompress_blocks_roundtrip(spark):
    """compress -> decompress through Spark reproduces every token
    array bit-exactly (the raw-tier write+read paths compose to
    identity)."""
    from tsclust_spark.kernels.codec import (
        compress_sequences,
        decompress_blocks,
    )
    from tsclust_spark.sources.datagen import read_sequences

    seq = read_sequences(spark, "smoke").limit(300)
    blocks = compress_sequences(seq)
    back = decompress_blocks(blocks)
    orig = {r["doc_id"]: r["tokens"] for r in seq.collect()}
    got = {r["doc_id"]: r["tokens"] for r in back.collect()}
    assert set(got) == set(orig)
    for doc_id, toks in orig.items():
        assert got[doc_id] == toks, doc_id


def test_compress_plan_is_map_only(spark):
    """Raw-tier compression must add no Exchange: one scan, one
    mapInArrow, straight to the sink."""
    from tsclust_spark.kernels.codec import compress_sequences
    from tsclust_spark.sources.datagen import read_sequences

    seq = read_sequences(spark, "smoke")
    plan = (
        compress_sequences(seq)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "MapInArrow" in plan
