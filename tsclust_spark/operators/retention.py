"""Retention policy enforcement: age out finer tiers, keep coarser ones.

The retention model (north-star "retention tiers raw -> 1m -> 1h ->
1d"): raw blocks are kept ``raw_days``, 1m aggregates ``m1_days``, 1h
``h1_days``, 1d forever (or ``d1_days``). Enforcement = dropping whole
``bucket_date=...`` partitions past the cutoff — an O(#partitions)
metadata operation, never a row-level delete (on Iceberg this is
``DELETE FROM t WHERE bucket_date < cutoff``, which drops partitions
metadata-only for partition-aligned predicates; the parquet fallback
removes partition directories).

``now`` is always injected (no wall-clock reads) so enforcement is
deterministic and testable.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from tsclust_spark.hadoopfs import fs_path

DEFAULT_POLICY = {"raw": 7, "1m": 30, "1h": 365, "1d": None}  # days, None=keep


def list_date_partitions(spark: SparkSession, table_path: str) -> list[str]:
    """bucket_date values present as partition directories (recursive
    one level past optional unit=... dirs)."""
    fs, root = fs_path(spark, table_path)
    if not fs.exists(root):
        return []
    out = set()
    stack = [root]
    while stack:
        p = stack.pop()
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if not status.isDirectory():
                continue
            if name.startswith("bucket_date="):
                out.add(name.split("=", 1)[1])
            elif "=" in name:  # other partition level (unit=...)
                stack.append(status.getPath())
    return sorted(out)


def enforce_retention(
    spark: SparkSession,
    out_dir: str,
    now: dt.date,
    policy: dict[str, int | None] | None = None,
    dry_run: bool = False,
) -> dict[str, list[str]]:
    """Drop expired bucket_date partitions per tier; returns what was
    (or would be) dropped. Tier dirs follow the rollup job layout:
    ``{out_dir}/raw`` and ``{out_dir}/agg_{tier}``."""
    policy = policy or DEFAULT_POLICY
    dropped: dict[str, list[str]] = {}
    for tier, keep_days in policy.items():
        if keep_days is None:
            continue
        table = f"{out_dir}/raw" if tier == "raw" else f"{out_dir}/agg_{tier}"
        cutoff = (now - dt.timedelta(days=keep_days)).isoformat()
        parts = list_date_partitions(spark, table)
        fs, root = fs_path(spark, table)
        if not parts and fs.exists(root):
            # a policy tier with data but no bucket_date=... partitions
            # can never expire anything — that's a layout bug upstream
            # (the round-1 raw tier hit exactly this), not "nothing to do"
            import warnings

            warnings.warn(
                f"retention: tier '{tier}' at {table} has no bucket_date="
                "partitions; the policy cannot be enforced on it",
                stacklevel=2,
            )
        doomed = [d for d in parts if d < cutoff]
        dropped[tier] = doomed
        if dry_run:
            continue
        fs, root = fs_path(spark, table)
        if not fs.exists(root):
            continue
        # remove every matching partition dir (possibly under unit=...)
        stack = [root]
        while stack:
            p = stack.pop()
            for status in fs.listStatus(p):
                name = status.getPath().getName()
                if not status.isDirectory():
                    continue
                if name.startswith("bucket_date="):
                    if name.split("=", 1)[1] < cutoff:
                        fs.delete(status.getPath(), True)
                elif "=" in name:
                    stack.append(status.getPath())
    return dropped


def iceberg_retention_sql(table: str, cutoff_date: str) -> str:
    """The cluster-side equivalent (partition-aligned metadata delete)."""
    return f"DELETE FROM {table} WHERE bucket_date < DATE '{cutoff_date}'"
