#!/usr/bin/env python3
"""spark-submit entry point for incremental recrawl extraction.

Given the previous snapshot's pages, the new snapshot's pages, and the
previous run's extracted output, re-extracts ONLY added/changed pages and
carries unchanged rows forward (webx.lineage.incremental_extract), then
writes the merged result and prints a one-line JSON funnel report.

Usage (cluster):
    spark-submit --py-files webx.zip jobs/incremental.py \
        --old s3://…/pages@snap1 --new s3://…/pages@snap2 \
        --prev-output s3://…/extracted_snap1 --output s3://…/extracted_snap2

With Iceberg inputs, pass the two snapshots as time-travel reads of the
same table (`…/pages` with `option("snapshot-id", …)` via --old-format /
--new-format iceberg paths); the diff stage is storage-agnostic either way.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description="webx incremental extraction")
    p.add_argument("--old", required=True, help="previous snapshot pages table")
    p.add_argument("--new", required=True, help="new snapshot pages table")
    p.add_argument("--prev-output", required=True,
                   help="extracted output of the previous run")
    p.add_argument("--output", required=True)
    p.add_argument("--format", default="parquet",
                   help="input/output table format (parquet | iceberg)")
    p.add_argument("--config", default=None,
                   help="JSON file of ExtractConfig fields")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession, functions as F

    from webx.config import ExtractConfig
    from webx.lineage import incremental_extract

    # AQE on by default: runtime re-planning (skew-join splitting,
    # post-shuffle coalescing) is the 1000-executor safety net; the
    # explicit salting/bucketing paths remain for the deterministic
    # cases AQE cannot see. A builder .config beats spark-submit --conf
    # for the same key, so set only what the job needs.
    spark = (
        SparkSession.builder.appName("webx-incremental")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    old_pages = spark.read.format(args.format).load(args.old)
    new_pages = spark.read.format(args.format).load(args.new)
    prev = spark.read.format(args.format).load(args.prev_output)

    if args.config:
        with open(args.config) as f:
            cfg = ExtractConfig.from_dict(json.load(f))
    else:
        cfg = ExtractConfig()

    t0 = time.time()
    result, diff = incremental_extract(old_pages, new_pages, prev, cfg)
    out = result
    if "spans" in out.columns:
        out = out.withColumn("spans_json", F.to_json("spans")).drop("spans")
    if "meta" in out.columns:
        out = out.drop("meta")
    out.write.format(args.format).mode("overwrite").save(args.output)
    funnel = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    written = spark.read.format(args.format).load(args.output).count()
    print(json.dumps({
        "out_rows": written,
        "reextracted": funnel.get("added", 0) + funnel.get("changed", 0),
        "carried": funnel.get("unchanged", 0),
        "deleted": funnel.get("deleted", 0),
        "funnel": funnel,
        "sec": round(time.time() - t0, 3),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
