"""spark-submit entry: compact small files in a rollup output dir.

    spark-submit --py-files engine.zip jobs/compact.py \
        --output /data/tiers --target-mb 128 [--tiers 1m,1h,1d] [--dry-run]

Tier layouts written by the rollup job are partitioned one level deep
(``bucket_date=...``); the raw tier is two levels (``unit=/bucket_date=``).
On Iceberg, use ``CALL rewrite_data_files`` instead — this is the
parquet-fallback twin.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# every tier the rollup job writes is two partition levels deep:
# unit=<bucket(doc_id)>/bucket_date=<day>
TIER_LEVELS = {"raw": 2, "agg_1m": 2, "agg_1h": 2, "agg_1d": 2}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="tsclust_spark tier compaction")
    p.add_argument("--output", required=True, help="rollup output dir")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument(
        "--tiers", default="raw,1m,1h,1d",
        help="comma list among raw,1m,1h,1d",
    )
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from tsclust_spark.plans.compact import compact, plan_compaction
    from tsclust_spark.hadoopfs import exists
    from tsclust_spark.session import get_spark

    spark = get_spark("tsclust-compact", cores=args.cores)
    target = args.target_mb * 1024 * 1024
    summary = {}
    for t in args.tiers.split(","):
        sub = t if t == "raw" else f"agg_{t}"
        path = f"{args.output}/{sub}"
        if sub not in TIER_LEVELS or not exists(spark, path):
            continue
        if args.dry_run:
            plans = plan_compaction(spark, path, TIER_LEVELS[sub], target)
            summary[sub] = {
                "partitions_compacted": len(plans),
                "files_before": sum(pl["n_files"] for pl in plans),
                "files_after": sum(pl["target_n"] for pl in plans),
                "dry_run": True,
            }
        else:
            summary[sub] = compact(spark, path, TIER_LEVELS[sub], target)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
