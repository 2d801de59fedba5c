"""Incremental tier sink: MERGE-equivalent upsert (SURVEY.md C3).

On a cluster with an Iceberg catalog this is literally::

    MERGE INTO tier t USING updates u
    ON t.doc_id = u.doc_id AND t.bucket_ts = u.bucket_ts
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *

(:func:`iceberg_merge_sql` emits exactly that statement). The sandbox
has no catalog, so the fallback implements the same semantics on
partitioned parquet with Iceberg's file-level replace as the commit
model: the updates are written once to a hidden staging directory
(under the target, or one directory staging the partitions of several
targets, committed one target at a time); which target partitions
they touch comes from filesystem metadata (the staged and the target
partition directories), not from a scan; only those partitions are
read back and merged row-wise (anti-join out the replaced keys, union
the updates) into a second staging directory; and each touched
partition directory is then swapped in by Hadoop FS renames. Unchanged partitions are never read or
rewritten, which is the property that matters at 100 TB. A failed
rename undoes the swap's earlier renames, so each partition holds its
old rows or its new rows, never both and never neither.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from tsclust_spark import hadoopfs


def iceberg_merge_sql(target: str, source_view: str, key_cols: list[str]) -> str:
    on = " AND ".join(f"t.{k} = u.{k}" for k in key_cols)
    return (
        f"MERGE INTO {target} t USING {source_view} u ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def merge_into(
    spark: SparkSession,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    parquet_path: str | None = None,
    iceberg_table: str | None = None,
) -> str:
    """Route the tier upsert to the best available sink; returns which
    path executed (``"iceberg"`` or ``"parquet"``).

    When ``iceberg_table`` is given AND the Iceberg runtime is on the
    classpath (:func:`tsclust_spark.session.iceberg_available`), the
    real ``MERGE INTO`` statement from :func:`iceberg_merge_sql` is
    executed via ``spark.sql``. Otherwise the partitioned-parquet
    fallback (:func:`upsert_partitioned`) runs with identical upsert
    semantics.
    """
    from tsclust_spark.session import iceberg_available

    if iceberg_table and iceberg_available(spark):
        updates.createOrReplaceTempView("_merge_updates")
        spark.sql(iceberg_merge_sql(iceberg_table, "_merge_updates", key_cols))
        return "iceberg"
    if parquet_path is None:
        raise ValueError(
            "no Iceberg runtime on the classpath and no parquet_path fallback"
        )
    upsert_partitioned(spark, parquet_path, updates, key_cols, partition_cols)
    return "parquet"


def _unescape_partition_value(name: str) -> str:
    """Invert Hive's path escaping (%XX for special chars)."""
    from urllib.parse import unquote

    return unquote(name)


def _partition_dirs(spark: SparkSession, path: str, n_levels: int) -> dict:
    """{partition-value tuple (Hive-unescaped): hadoop Path} for every
    ``col=val`` directory ``n_levels`` deep under ``path`` — a pure
    filesystem-metadata walk, no Spark job. Hidden ``_staging-*``
    directories have no ``=`` in their name and are never listed. The
    Iceberg analogue is the partitions metadata table."""
    fs, root = hadoopfs.fs_path(spark, path)
    if not fs.exists(root):
        return {}
    out: dict = {}
    stack = [(root, ())]
    while stack:
        p, vals = stack.pop()
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if not status.isDirectory() or "=" not in name:
                continue
            nvals = vals + (
                _unescape_partition_value(name.split("=", 1)[1]),
            )
            if len(nvals) == n_levels:
                out[nvals] = status.getPath()
            else:
                stack.append((status.getPath(), nvals))
    return out


def _write_partitioned(df: DataFrame, partition_cols: list[str], path: str) -> None:
    (
        df.repartition(*partition_cols)
        .write.partitionBy(*partition_cols)
        .parquet(path)
    )


def _read_dirs(spark: SparkSession, schema, base: str, dirs) -> DataFrame:
    """Read partition directories by explicit path with a known schema:
    Spark then runs no schema-inference job, and lists up to
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    paths on the driver, without a listing job."""
    return (
        spark.read.schema(schema)
        .option("basePath", base)
        .parquet(*(str(d) for d in dirs))
    )


def _rel(path, n_levels: int) -> str:
    """The last ``n_levels`` components of a Hadoop path
    (``col=val/col=val``)."""
    names = []
    for _ in range(n_levels):
        names.append(path.getName())
        path = path.getParent()
    return "/".join(reversed(names))


class _SwapNotUndone(RuntimeError):
    """A failed swap whose undo failed too: the replaced partitions are
    still in the staging directory, which must not be deleted."""


def _swap(
    spark: SparkSession, target_path: str, new_dirs: dict, old_dirs: dict, aside: str
) -> None:
    """Commit partition directories by Hadoop FS renames, partition by
    partition: the old directory (if any) moves under ``aside``, then
    the new one (if any) moves into its place under ``target_path``.
    On a failure every rename done so far is undone in reverse, so each
    partition holds its old rows again, and the error is re-raised."""
    Path = hadoopfs.jvm_class(spark, "org.apache.hadoop.fs.Path")
    fs, _ = hadoopfs.fs_path(spark, target_path)
    done = []
    try:
        for vals in sorted(old_dirs.keys() | new_dirs.keys()):
            moves = ((old_dirs.get(vals), aside), (new_dirs.get(vals), target_path))
            for src, base in moves:
                if src is None:
                    continue
                dst = Path(f"{base}/{_rel(src, len(vals))}")
                fs.mkdirs(dst.getParent())
                hadoopfs.rename(fs, src, dst)
                done.append((src, dst))
    except Exception:
        try:
            for src, dst in reversed(done):
                hadoopfs.rename(fs, dst, src)
        except Exception as undo:
            raise _SwapNotUndone(
                f"partition swap under {target_path} failed and could not "
                f"be undone; replaced partitions are kept in {aside}"
            ) from undo
        raise


@contextmanager
def staged_write(
    spark: SparkSession, base: str, updates: DataFrame, partition_cols: list[str]
) -> Iterator[str]:
    """Write ``updates`` once, partitioned by ``partition_cols``, to a
    hidden ``{base}/_staging-<uuid>`` directory and yield its path for
    :func:`commit_staged`. The directory is deleted on leaving, unless
    a swap that could not be undone keeps replaced partitions in it."""
    staging = f"{base}/_staging-{uuid.uuid4().hex}"
    try:
        _write_partitioned(updates, partition_cols, staging)
        yield staging
    except _SwapNotUndone:
        staging = None  # it holds the replaced partitions
        raise
    finally:
        if staging is not None:
            _delete(spark, staging)


def _delete(spark: SparkSession, path: str) -> None:
    fs, hpath = hadoopfs.fs_path(spark, path)
    fs.delete(hpath, True)


def _prune_prefix(partition_cols: list[str], prune_cols: list[str] | None) -> list[str]:
    if prune_cols is None:
        return partition_cols
    if partition_cols[: len(prune_cols)] != prune_cols:
        raise ValueError("prune_cols must be a prefix of partition_cols")
    return prune_cols


def commit_staged(
    spark: SparkSession,
    target_path: str,
    staged: str,
    schema,
    key_cols: list[str],
    partition_cols: list[str],
    prune_cols: list[str] | None = None,
) -> None:
    """MERGE the partition directories staged under ``staged`` (a
    partitioned parquet write of rows with ``schema``, partition
    columns included) into ``target_path``: see
    :func:`upsert_partitioned`, which stages and then calls this. A
    staged directory that does not exist commits nothing. Replaced
    partitions move aside under ``{staged}/_replaced``, so the caller
    deletes ``staged`` afterwards, as :func:`staged_write` does."""
    prune_cols = _prune_prefix(partition_cols, prune_cols)
    n, k = len(partition_cols), len(prune_cols)
    merged = None
    try:
        new_dirs = _partition_dirs(spark, staged, n)
        prefixes = {t[:k] for t in new_dirs}
        old_dirs = {
            t: p
            for t, p in _partition_dirs(spark, target_path, n).items()
            if t[:k] in prefixes
        }
        if old_dirs:
            old = _read_dirs(spark, schema, target_path, old_dirs.values())
            new = _read_dirs(spark, schema, staged, new_dirs.values())
            keep = old.join(new.select(*key_cols).distinct(), key_cols, "left_anti")
            merged = f"{target_path}/_staging-{uuid.uuid4().hex}"
            _write_partitioned(keep.unionByName(new), partition_cols, merged)
            new_dirs = _partition_dirs(spark, merged, n)
        _swap(spark, target_path, new_dirs, old_dirs, f"{staged}/_replaced")
    except _SwapNotUndone:
        merged = None  # keep every staged row next to the replaced ones
        raise
    finally:
        if merged is not None:
            _delete(spark, merged)


def upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    prune_cols: list[str] | None = None,
) -> None:
    """Parquet MERGE fallback: stage, then swap partition directories.

    ``updates`` must contain the partition columns. It is evaluated
    once, by a partitioned write to a hidden ``_staging-<uuid>``
    directory under the target (:func:`staged_write`), which
    :func:`commit_staged` then commits. Two metadata walks (staging and
    target) give the affected target partitions: those sharing a
    ``prune_cols`` prefix with a staged partition. Directory names are
    compared with directory names, so nulls, booleans and escaped
    values need no canonicalization.

    - No affected partition (a new unit or date): the staged partition
      directories are renamed into place.
    - Otherwise the affected target directories and the staged ones are
      read back by explicit path, the replaced keys are anti-joined
      out, the updates unioned in, and the result written to a second
      staging directory. Each affected partition is then swapped by
      renames; an affected partition absent from the merged output (a
      re-keyed row's old home) is vacated: moved aside and deleted, as
      Iceberg's file-level replace drops its files.

    Unaffected partitions are never read or rewritten. If a rename of
    the swap fails, the renames done so far are undone, so every
    partition holds its old rows, and the error is re-raised; the
    staging directories are deleted either way. A reader listing the
    table during the swap can miss a partition for the moment between
    its two renames.

    ``prune_cols`` (default: ``partition_cols``) limits which partition
    columns the read-back is pruned on. IMPORTANT: when a partition
    column is NOT a pure function of the key columns (e.g. a
    data-derived ``bucket_date`` under a ``doc_id`` key), full-tuple
    pruning would miss a key's old row sitting in a different partition
    and leave a stale duplicate — pass the key-determined prefix (e.g.
    ``["unit"]``) so every partition the key could live in is merged.
    """
    _prune_prefix(partition_cols, prune_cols)
    with staged_write(spark, target_path, updates, partition_cols) as staged:
        commit_staged(
            spark, target_path, staged, updates.schema, key_cols,
            partition_cols, prune_cols,
        )
