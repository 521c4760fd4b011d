#!/usr/bin/env python3
"""spark-submit entry point for the checkpointed extraction job.

Usage (cluster):
    spark-submit --py-files webx.zip jobs/extract.py \
        --input s3://…/pages --input-format iceberg \
        --output s3://…/extracted --checkpoint s3://…/lineage \
        --run-id nightly-2026-08-17 --snapshot-id 1234567890 \
        --n-partitions 16384 --chunk-size 256 --repartition 4096

Usage (sandbox smoke):
    spark-submit --master 'local[8]' --py-files /tmp/webx.zip jobs/extract.py \
        --synth /root/testdata/sf0.001 --output /tmp/out \
        --checkpoint /tmp/ckpt --run-id smoke --snapshot-id sfsmall

The config → seeded source → staged computation → per-partition lineage →
resumable re-run skeleton mirrors the reference's train-loop driver
(SURVEY.md §3.2, tools/train.py)."""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description="webx checkpointed extraction")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="input table path (url, warc_ts, html, text, lang)")
    src.add_argument("--synth", help="synthesize pages from this testdata sf dir")
    p.add_argument("--input-format", default="parquet",
                   help="parquet | iceberg | warc | binaryFile")
    p.add_argument("--output", required=True)
    p.add_argument("--output-format", default="parquet")
    p.add_argument("--checkpoint", required=True, help="lineage/checkpoint table path")
    p.add_argument("--run-id", required=True)
    p.add_argument("--snapshot-id", default=None,
                   help="input snapshot identity for lineage/resume; on "
                        "Iceberg pass currentSnapshot().snapshotId(). "
                        "Default: derived from the local input's data-file "
                        "listing (lineage.snapshot_id_for_path) so a "
                        "regenerated input reads as a NEW snapshot")
    p.add_argument("--n-partitions", type=int, default=64)
    p.add_argument("--chunk-size", type=int, default=16)
    p.add_argument("--max-chunks", type=int, default=None)
    p.add_argument("--repartition", type=int, default=None,
                   help="explicit url-hash+salt exchange width (skew mitigation)")
    p.add_argument("--size-gears", action=argparse.BooleanOptionalAction,
                   default=None,
                   help="add log2(html size) bucket to the partition key; "
                        "DEFAULT ON for WARC input (giant pages are the "
                        "rule in raw crawl containers — PLANS.md 'WARC "
                        "size gears'), off otherwise; --no-size-gears "
                        "forces off")
    p.add_argument("--limit-side-len", type=int, default=4_000_000)
    p.add_argument("--routed", action="store_true",
                   help="mixed-corpus mode: route each capture by magic "
                        "bytes (html/pdf/image/audio/video) instead of "
                        "assuming html — webx.route.extract_mixed")
    p.add_argument("--http-charset", action="store_true",
                   help="WARC input only: surface the HTTP Content-Type "
                        "charset and give it WHATWG precedence over the "
                        "in-document meta during extraction")
    p.add_argument("--config", default=None,
                   help="JSON file of ExtractConfig fields (overrides the "
                        "individual CLI knobs; goldens are reproducible "
                        "from this file alone)")
    return p.parse_args(argv)


def effective_size_gears(args) -> bool:
    """size_gears policy: explicit flag wins; unset defaults ON for WARC
    input (raw crawl containers carry the giant-page tail that skews
    uniform url-hash partitions — PLANS.md 'WARC size gears'), off for
    already-columnar inputs."""
    if args.size_gears is not None:
        return args.size_gears
    return args.input_format == "warc"


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if args.snapshot_id is None:
        import os

        from webx.lineage import snapshot_id_for_path

        src_path = args.input or args.synth
        if src_path and os.path.exists(src_path):
            args.snapshot_id = snapshot_id_for_path(src_path)
        else:  # remote store (s3://…): snapshot identity must be explicit
            raise SystemExit(
                "--snapshot-id is required for non-local inputs "
                "(pass the Iceberg snapshot id)"
            )

    from pyspark.sql import SparkSession

    from webx import synth
    from webx.config import ExtractConfig
    from webx.lineage import CheckpointStore, run_checkpointed_extraction

    # AQE on by default: runtime re-planning (skew-join splitting,
    # post-shuffle coalescing) is the 1000-executor safety net; the
    # explicit salting/bucketing paths remain for the deterministic
    # cases AQE cannot see. A builder .config beats spark-submit --conf
    # for the same key, so set only what the job needs.
    spark = (
        SparkSession.builder.appName(f"webx-extract-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        pages = synth.synth_pages(spark, args.synth)
    elif args.input_format == "warc":
        from webx.sources import read_warc

        pages = read_warc(spark, args.input, with_charset=args.http_charset)
    elif args.input_format == "binaryFile":
        from webx.sources import read_binary_files

        pages = read_binary_files(spark, args.input)
    else:
        pages = spark.read.format(args.input_format).load(args.input)

    if args.config:
        with open(args.config) as f:
            cfg = ExtractConfig.from_dict(json.load(f))
    else:
        cfg = ExtractConfig(
            repartition=args.repartition,
            size_gears=effective_size_gears(args),
            limit_side_len=args.limit_side_len,
        )
    store = CheckpointStore(args.checkpoint)
    extract_fn = None
    if args.routed:
        from webx.route import checkpointed_routed_extract_fn

        extract_fn = checkpointed_routed_extract_fn
    elif args.http_charset and args.input_format == "warc":
        from webx.pipeline import run_extraction

        def extract_fn(subset, cfg, passthrough=()):
            return run_extraction(
                subset, cfg, passthrough, charset_col="http_charset"
            )

    t0 = time.time()
    processed = run_checkpointed_extraction(
        spark,
        pages,
        args.output,
        store,
        args.run_id,
        args.snapshot_id,
        cfg,
        n_partitions=args.n_partitions,
        chunk_size=args.chunk_size,
        max_chunks=args.max_chunks,
        output_fmt=args.output_format,
        extract_fn=extract_fn,
    )
    dt = time.time() - t0
    lineage = store.read(spark)
    from pyspark.sql import functions as F

    agg = (
        lineage.filter(
            (F.col("run_id") == args.run_id)
            & (F.col("input_snapshot_id") == args.snapshot_id)
        )
        .agg(
            F.sum("row_count").alias("rows"),
            F.sum("bytes_in").alias("bytes"),
            F.sum("err_count").alias("errs"),
        )
        .first()
    )
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "partitions_processed": len(processed),
                "wall_sec": round(dt, 2),
                "rows_total": agg["rows"],
                "bytes_in_total": agg["bytes"],
                "err_total": agg["errs"],
                "docs_per_sec": round((agg["rows"] or 0) / dt, 1) if processed else 0.0,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
