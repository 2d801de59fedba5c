"""Late-row policy shared by the four recurrence streams: a row older
than the state's ``last_ts`` is flagged ``late``, folded as if it were
current, and does not move ``last_ts`` back."""

import datetime as dt
import os
import time

import numpy as np
import pytest
from pyspark.sql import types as T

from tsclust_spark.operators.cusum import cusum
from tsclust_spark.operators.ewma import ewma
from tsclust_spark.operators.holt import holt
from tsclust_spark.operators.holtwinters import holt_winters
from tsclust_spark.streaming.cusum_stream import cusum_stream
from tsclust_spark.streaming.ewma_stream import ewma_stream
from tsclust_spark.streaming.holt_stream import holt_stream
from tsclust_spark.streaming.holtwinters_stream import holt_winters_stream

T0 = dt.datetime(2024, 11, 1)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# (stream, batch operator, shared kwargs, output columns)
CASES = {
    "ewma": (ewma_stream, ewma, {"alpha": 0.3}, ("ewma_value",)),
    "holt": (holt_stream, holt, {"alpha": 0.3, "beta": 0.2},
             ("level_value", "trend_value")),
    "holtwinters": (
        holt_winters_stream, holt_winters,
        {"alpha": 0.5, "beta": 0.25, "gamma": 0.5, "period": 4},
        ("level_value", "trend_value", "seasonal_value"),
    ),
    "cusum": (cusum_stream, cusum, {"mu": 0.0, "k": 0.25, "h": 3.0},
              ("cusum_hi", "cusum_lo", "alarm")),
}


def _at(minute):
    return T0 + dt.timedelta(minutes=minute)


@pytest.mark.parametrize("name", list(CASES))
def test_late_row_flagged_folded_and_last_ts_kept(spark, tmp_path, name):
    stream_fn, batch_fn, kwargs, out_cols = CASES[name]
    rng = np.random.default_rng(97)
    # micro-batch 0: minutes 0..9; 1: ONE row at minute 5, older than
    # the state's last_ts (minute 9); 2: minutes 10..12
    minutes = [list(range(10)), [5], [10, 11, 12]]
    batches = [
        [(1, _at(m), float(rng.normal(1.0, 2.0))) for m in ms] for ms in minutes
    ]
    late_row = batches[1][0]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    for j, rows in enumerate(batches):
        tmp = str(tmp_path / f"tmp{j}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = str(in_dir / f"batch-{j}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + 10 * j, now + 10 * j))  # discovery order

    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stream_fn(stream, **kwargs)
        .writeStream.format("memory")
        .queryName(f"late_{name}")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(f"SELECT * FROM late_{name}").collect()

    # only the older row is late
    late = [(r["ts"], r["value"]) for r in out if r["late"]]
    assert late == [late_row[1:]]

    # folded as if current: every output equals the batch operator over
    # the values in ARRIVAL order (the late row steps right after
    # minute 9, then minutes 10..12 continue from it)
    arrival = [r for rows in batches for r in rows]
    in_order = spark.createDataFrame(
        [(1, T0 + dt.timedelta(seconds=i), v) for i, (_, _, v) in enumerate(arrival)],
        SCHEMA,
    )
    want = {
        arrival[int((r["ts"] - T0).total_seconds())][1:]: tuple(r[c] for c in out_cols)
        for r in batch_fn(in_order, **kwargs).collect()
    }
    got = {(r["ts"], r["value"]): tuple(r[c] for c in out_cols) for r in out}
    assert len(got) == len(arrival)
    assert got == want  # bit-identical

    # last_ts does not move back: after micro-batch 1 it is still minute 9
    state = (
        spark.read.format("statestore").option("batchId", 1).load(ckpt)
        .collect()
    )
    assert [r["value"]["groupState"]["last_ts"] for r in state] == [
        _at(9).replace(tzinfo=dt.timezone.utc).timestamp()
    ]
