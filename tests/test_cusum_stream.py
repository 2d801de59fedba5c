"""Streaming CUSUM == batch CUSUM bit-for-bit, state carried across
micro-batches (including an alarm that fires mid-stream)."""

import datetime as dt
import os
import time

import numpy as np
from pyspark.sql import types as T

from tsclust_spark.operators.cusum import cusum
from tsclust_spark.streaming.cusum_stream import cusum_stream

T0 = dt.datetime(2024, 8, 1)
RNG = np.random.default_rng(61)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _rows(users, n, t_off=0, shift=0.0):
    return [
        (u, T0 + dt.timedelta(seconds=60 * (i + t_off)),
         float(RNG.normal(shift, 1.0)))
        for u in users
        for i in range(n)
    ]


def test_stream_equals_batch_and_alarms(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    # batch 1 in-control; batch 2 carries a +1 sigma shift, so the
    # alarm can only fire if state crossed the micro-batch boundary
    batch1 = _rows([1, 2], 30, t_off=0)
    batch2 = _rows([1, 2], 30, t_off=30, shift=1.0)
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    now = time.time()
    newest = max(
        (os.path.join(in_dir, f) for f in os.listdir(in_dir)
         if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    os.utime(newest, (now + 5, now + 5))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        cusum_stream(stream, mu=0.0, k=0.25, h=6.0)
        .writeStream.format("memory")
        .queryName("cusum_mem")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], int(r["ts"].timestamp())): (
            r["cusum_hi"], r["cusum_lo"], r["alarm"]
        )
        for r in spark.sql("SELECT * FROM cusum_mem").collect()
    }
    batch_df = spark.createDataFrame(batch1 + batch2, SCHEMA)
    expect = {
        (r["user_id"], int(r["ts"].timestamp())): (
            r["cusum_hi"], r["cusum_lo"], r["alarm"]
        )
        for r in cusum(batch_df, mu=0.0, k=0.25, h=6.0).collect()
    }
    assert set(got) == set(expect)
    for key in expect:
        assert got[key] == expect[key], key  # bit-identical + same alarms
    # the shift really alarmed, and only in the second batch's range
    alarms = [k for k, v in got.items() if v[2]]
    assert alarms
    t_shift = int((T0 + dt.timedelta(seconds=60 * 30)).timestamp())
    assert all(ts >= t_shift for _, ts in alarms)
    late = [r for r in spark.sql("SELECT * FROM cusum_mem").collect() if r["late"]]
    assert late == []


def test_nan_same_on_every_path(spark, tmp_path):
    """A NaN value makes the rest of its series NaN identically on the
    point-by-point path (series alone in its batch), the lockstep path
    (batched with 20 short series), the Spark operator and the stream."""
    from tsclust_spark.kernels import recurrence
    from tsclust_spark.operators.cusum import CusumSpec, _cusum_scalar

    x = np.array([1.0, 5.0, np.nan, 7.0, 9.0])
    spec = CusumSpec(mu=1.0, k=0.5, h=25.0)
    alone = recurrence.scalar(spec, x, np.array([0]))
    np.testing.assert_array_equal(alone[0], [0.0, 3.5, np.nan, np.nan, np.nan])
    np.testing.assert_array_equal(alone[1], [0.0, 0.0, np.nan, np.nan, np.nan])

    short = [RNG.normal(1.0, 1.0, 4) for _ in range(20)]
    flat = np.concatenate([x, *short])
    starts = np.cumsum([0, x.size] + [s.size for s in short[:-1]])
    batched = [o[: x.size] for o in recurrence.lockstep(spec, flat, starts)]
    oracle = _cusum_scalar(x, 1.0, 0.5)

    rows = [(1, T0 + dt.timedelta(seconds=60 * i), float(v)) for i, v in enumerate(x)]
    in_dir = str(tmp_path / "nan_in")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(in_dir)
    q = (
        cusum_stream(
            spark.readStream.schema(SCHEMA).parquet(in_dir), mu=1.0, k=0.5, h=25.0
        )
        .writeStream.format("memory")
        .queryName("cusum_nan_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nan_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ("cusum_hi", "cusum_lo", "alarm")
    streamed = sorted(spark.sql("SELECT * FROM cusum_nan_mem").collect(), key=lambda r: r["ts"])
    in_batch = sorted(
        cusum(spark.createDataFrame(rows, SCHEMA), mu=1.0, k=0.5, h=25.0).collect(),
        key=lambda r: r["ts"],
    )
    for other in (
        batched,
        [*oracle, alone[2]],
        # Spark returns the engine's NaN as NULL
        [np.array([np.nan if r[c] is None else r[c] for r in streamed]) for c in cols],
        [np.array([np.nan if r[c] is None else r[c] for r in in_batch]) for c in cols],
    ):
        for a, b in zip(alone, other):
            np.testing.assert_array_equal(a, b)
