"""Per-partition checkpoint manifest: resume + lineage + throughput
(SURVEY.md C4; BASELINE.json:6 "resumable from a per-partition checkpoint
manifest with lineage + throughput metrics").

The manifest is an append-only parquet directory of work-unit records.
A work unit is a deterministic horizontal slice of the input (default:
``pmod(hash(doc_id), n_units)`` — on Iceberg this becomes the
``bucket(doc_id, N)`` partition transform so unit filters prune files;
on raw parquet the hash filter still prunes row groups when the input
is doc_id-sorted).

Appending a record starts no Spark job: the driver serializes the
one-row record with pyarrow (the column names and types of
``MANIFEST_SCHEMA``), writes the bytes through the Hadoop
``FileSystem`` API under a hidden ``_part-<uuid>.parquet.tmp`` name,
then renames it to ``part-<uuid>.parquet``. Spark's file listing skips
``_``/``.`` names, so a reader never sees a partial record, and a
crashed append leaves at most an ignored temp file. Records appended by
a Spark write job have the same on-disk format, so manifests holding
both kinds resolve latest-record-wins as one table.

Resume = ``left_anti`` join of the unit list against completed records
(SURVEY.md C12 shape) — no driver-side bookkeeping files beyond the
manifest itself, so a killed job resumes from exactly the completed set.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsclust_spark import hadoopfs

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("unit_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("points", T.LongType(), True),
        T.StructField("wall_ms", T.DoubleType(), True),
        T.StructField("points_per_sec", T.DoubleType(), True),
        T.StructField("lineage", T.StringType(), True),
        T.StructField("updated_at", T.DoubleType(), False),
    ]
)


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _fs_root(self):
        return hadoopfs.fs_path(self.spark, self.path)

    def _exists(self) -> bool:
        fs, root = self._fs_root()
        return fs.exists(root)

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def completed_units(self) -> DataFrame:
        """Latest-record-wins: a unit is complete iff its most recent
        record says done (re-runs may append newer records)."""
        m = self.read()
        latest = m.groupBy("unit_id").agg(
            F.max_by("status", "updated_at").alias("status")
        )
        return latest.filter(F.col("status") == "done").select("unit_id")

    def pending_units(self, all_units: list[str]) -> list[str]:
        done = {r.unit_id for r in self.completed_units().collect()}
        return [u for u in all_units if u not in done]

    def record(
        self,
        unit_id: str,
        status: str,
        rows: int = 0,
        points: int = 0,
        wall_ms: float = 0.0,
        lineage: dict | None = None,
    ) -> None:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        pps = (points / (wall_ms / 1000.0)) if wall_ms > 0 else 0.0
        rec = {
            "unit_id": unit_id,
            "status": status,
            "rows": int(rows),
            "points": int(points),
            "wall_ms": float(wall_ms),
            "points_per_sec": float(pps),
            "lineage": json.dumps(lineage or {}, sort_keys=True),
            "updated_at": time.time(),
        }
        buf = pa.BufferOutputStream()
        pq.write_table(
            pa.Table.from_pylist([rec], schema=to_arrow_schema(MANIFEST_SCHEMA)),
            buf,
        )
        # write under a hidden name, then rename: Spark never lists a
        # partial file
        fs, root = self._fs_root()
        Path = hadoopfs.jvm_class(self.spark, "org.apache.hadoop.fs.Path")
        name = f"part-{uuid.uuid4().hex}.parquet"
        final, tmp = Path(root, name), Path(root, f"_{name}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(buf.getvalue().to_pybytes()))
        finally:
            out.close()
        if not fs.rename(tmp, final):
            fs.delete(tmp, False)
            raise OSError(f"manifest append: rename {tmp} -> {final} failed")

    def metrics(self) -> DataFrame:
        """Per-unit throughput table (lineage + points/sec)."""
        return self.read().orderBy("updated_at")
