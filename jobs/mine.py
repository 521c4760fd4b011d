#!/usr/bin/env python3
"""spark-submit entry point for the multimodal/specialist mining job.

One pass over a pages table fans out into the mining lanes that feed
non-text corpora — each an independent output table under --output:

    captions/     image-caption pairs (urls.image_captions)
    interleaved/  MMC4/OBELICS-style text+image sequences (run_interleave)
    contexts/     per-image nearest text before/after (image_contexts)
    media/        audio/video source lists (urls.media_sources)
    code/         verbatim code blocks (metadata.code_blocks)
    math/         MathML/TeX spans (metadata.math_spans)
    bitext/       mutually-confirmed hreflang pairs (urls.bitext_pairs)
    tables/       data-table cells, exact lane (tables.run_table_extraction)
    comments/     main vs user-comment text split (comments.split_comments)

The interleaved, contexts, tables and comments lanes each run one Arrow
mapInPandas over the page scan; the other lanes are pure whole-stage
codegen and fuse into it. Each lane writes independently, so a failed
lane re-runs alone (outputs are keyed by lane directory, overwrite is
idempotent).
The scan is shared via an explicit .cache() only when --cache-pages is
set — at crawl scale re-scanning parquet is usually cheaper than
materializing pages in memory, so the default is re-scan (each lane's
column pruning then reads only url+html).

Usage (cluster):
    spark-submit --py-files webx.zip jobs/mine.py \
        --input s3://…/pages --input-format iceberg \
        --output s3://…/mined --lanes captions,interleaved,code

Usage (sandbox smoke):
    python3 jobs/mine.py --synth /root/testdata/sf0.001 \
        --output /tmp/mined --lanes all
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# local-mode smoke: python workers inherit the env, not sys.path; on a
# cluster --py-files ships the package and this is a no-op
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

ALL_LANES = (
    "captions", "interleaved", "contexts", "media", "code", "math",
    "bitext", "tables", "comments",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description="webx multimodal mining")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages table path (url, html, …)")
    src.add_argument("--synth", help="synthesize pages from this testdata sf dir")
    p.add_argument("--input-format", default="parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--output-format", default="parquet")
    p.add_argument("--lanes", default="all",
                   help=f"comma list of {','.join(ALL_LANES)} or 'all'")
    p.add_argument("--cache-pages", action="store_true",
                   help="materialize pages once instead of re-scanning per lane")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    lanes = ALL_LANES if args.lanes == "all" else tuple(args.lanes.split(","))
    unknown = set(lanes) - set(ALL_LANES)
    if unknown:
        raise SystemExit(f"unknown lanes {sorted(unknown)}; expected {ALL_LANES}")

    from pyspark.sql import SparkSession

    from webx import synth

    # AQE on by default: runtime re-planning (skew-join splitting,
    # post-shuffle coalescing) is the 1000-executor safety net; the
    # explicit salting/bucketing paths remain for the deterministic
    # cases AQE cannot see. A builder .config beats spark-submit --conf
    # for the same key, so set only what the job needs.
    spark = (
        SparkSession.builder.appName("webx-mine")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    if args.synth:
        pages = synth.synth_pages(spark, args.synth)
    else:
        pages = spark.read.format(args.input_format).load(args.input)
    if args.cache_pages:
        pages = pages.cache()

    # the per-row HTTP-header charset (read_warc(with_charset=True))
    # reaches every HTML lane's document front
    hint = "http_charset" if "http_charset" in pages.columns else None
    counts = {}
    t0 = time.time()
    for lane in lanes:
        out = f"{args.output}/{lane}"
        if lane == "captions":
            from webx.urls import image_captions

            df = image_captions(pages)
        elif lane == "interleaved":
            from webx.pipeline import run_interleave

            df = run_interleave(pages, charset_col=hint)
        elif lane == "contexts":
            from webx.pipeline import image_contexts, run_interleave

            df = image_contexts(run_interleave(pages, charset_col=hint))
        elif lane == "media":
            from webx.urls import media_sources

            df = media_sources(pages)
        elif lane == "code":
            from webx.metadata import code_blocks

            df = code_blocks(pages)
        elif lane == "math":
            from webx.metadata import math_spans

            df = math_spans(pages)
        elif lane == "tables":
            from webx.tables import run_table_extraction

            # the exact lane (nesting, implicit closures, data/layout
            # classifier) — one Arrow mapInPandas like interleaved
            df = run_table_extraction(pages, charset_col=hint)
        elif lane == "comments":
            from webx.comments import split_comments

            # main text vs user-comment text (trafilatura's comments
            # field analog) — one Arrow mapInPandas
            df = split_comments(pages, charset_col=hint)
        else:  # bitext
            from pyspark.sql import functions as F

            from webx.urls import bitext_pairs, hreflang_alternates

            # page language: the input table's lang column when present
            # (the input_hint schema carries one), else language-ID over
            # its text column, else 'und'
            if "lang" in pages.columns:
                page_lang = pages.select("url", "lang")
            elif "text" in pages.columns:
                from webx.textstats import lang_pred

                page_lang = pages.select(
                    "url", lang_pred(F.col("text")).alias("lang")
                )
            else:
                page_lang = pages.select("url", F.lit("und").alias("lang"))
            df = bitext_pairs(hreflang_alternates(pages), page_lang)
        df.write.format(args.output_format).mode("overwrite").save(out)
        counts[lane] = spark.read.format(args.output_format).load(out).count()
    print(json.dumps({"lanes": counts, "sec": round(time.time() - t0, 2)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
