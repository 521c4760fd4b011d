#!/usr/bin/env python3
"""spark-submit entry point for the corpus-curation cascade — the stage
order published web-text pipelines run (C4 / CCNet / Gopher /
RefinedWeb / FineWeb): line cleaning, document quality gates, language
selection, URL + exact + near-dup + substring dedup, test-set
decontamination, host caps, optional LM-perplexity gating and sequence
packing. Each stage is one of the library operators (webx/curate.py,
webx/dedup.py, webx/textstats.py) or, for the row-local gates, the
column expressions those operators are built from — this job only
sequences them and reports the funnel.

Usage (cluster):
    spark-submit --py-files webx.zip jobs/curate.py \
        --input s3://…/extracted --output s3://…/curated \
        --report s3://…/curated/_funnel.json \
        --langs en,de --max-per-host 10000 \
        --benchmark s3://…/evalsets --minhash-threshold 0.6

Usage (sandbox smoke):
    python3 jobs/curate.py --synth /root/testdata/sf0.001 \
        --output /tmp/curated --report /tmp/funnel.json --funnel

Stages run in the RefinedWeb order (cheap row-local gates first so the
shuffling stages see the smallest surviving set); every stage is
optional via its flag. The row-local gates (C4 lines, Gopher quality,
duplicate lines, language) filter the frame in place, and URL and exact
dedup are windows, so the default cascade reads its input once; only
the near-dup, substring, decontamination, perplexity and packing stages
join a per-document result back by doc_id. ``--funnel`` materializes
per-stage survivor counts (one count action per stage, each on a
persisted boundary); without it the cascade stays one lazy plan into
the final write.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# runnable both via spark-submit --py-files webx.zip and directly from a
# repo checkout (the sandbox smoke path)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def parse_args(argv):
    p = argparse.ArgumentParser(description="webx curation cascade")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="extracted-docs parquet (url, text[, lang])")
    src.add_argument("--synth", help="synthesize docs from this testdata sf dir")
    p.add_argument("--output", required=True)
    p.add_argument("--report", default=None, help="funnel-report JSON path")
    p.add_argument("--funnel", action="store_true",
                   help="materialize per-stage survivor counts")
    # stage knobs (None/absent disables the stage)
    p.add_argument("--no-c4", action="store_true", help="skip C4 line cleaning")
    p.add_argument("--no-quality", action="store_true", help="skip Gopher gates")
    p.add_argument("--min-tokens", type=int, default=50)
    p.add_argument("--max-rep-line-frac", type=float, default=0.3)
    p.add_argument("--langs", default=None, help="comma list; absent = keep all")
    p.add_argument("--no-url-dedup", action="store_true")
    p.add_argument("--no-exact-dedup", action="store_true")
    p.add_argument("--minhash-threshold", type=float, default=None,
                   help="enable MinHash near-dup keep-list at this Jaccard")
    p.add_argument("--max-dup-frac", type=float, default=None,
                   help="drop docs whose fraction of suffix positions "
                        "starting a >=20-char substring duplicated "
                        "elsewhere exceeds this (suffix-array profile, "
                        "webx/suffix.py dup_profile)")
    p.add_argument("--dup-span-k", type=int, default=None,
                   help="enable ExactSubstr span removal at this window size")
    p.add_argument("--benchmark", default=None,
                   help="parquet of eval-set text → 13-gram decontamination")
    p.add_argument("--max-per-host", type=int, default=None)
    p.add_argument("--ppl-train", default=None,
                   help="parquet of clean text → bigram-LM perplexity gate")
    p.add_argument("--max-ppl", type=float, default=None)
    p.add_argument("--pack-max-tokens", type=int, default=None,
                   help="emit greedy sequence-packing bin assignments")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    # AQE on by default: runtime re-planning (skew-join splitting,
    # post-shuffle coalescing) is the 1000-executor safety net; the
    # explicit salting/bucketing paths remain for the deterministic
    # cases AQE cannot see. A builder .config beats spark-submit --conf
    # for the same key, so set only what the job needs.
    spark = (
        SparkSession.builder.appName("webx-curate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    t_all = time.time()
    docs, funnel = cascade(spark, args)
    docs.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    report = {
        "stages": funnel,
        "output_rows": n_out,
        "wall_sec": round(time.time() - t_all, 3),
        "args": {k: v for k, v in vars(args).items()},
    }
    line = json.dumps(report)
    print(line)
    if args.report:
        with open(args.report, "w") as f:
            f.write(line)
    return 0


def cascade(spark, args) -> tuple:
    """(docs, funnel): the curated frame, lazy unless ``--funnel``
    materialized its stages, and the per-stage survivor counts (empty
    without ``--funnel``)."""
    from pyspark.sql import Window

    from webx import synth
    from webx.curate import (
        c4_cols,
        cap_per_host,
        contaminated_ids,
        lm_perplexity,
        pack_sequences,
    )
    from webx.dedup import keep_list, minhash_neardup, remove_duplicate_spans
    from webx.textstats import dup_line_frac, fingerprint_col, lang_pred, quality_cols
    from webx.urls import host, normalize_url

    if args.synth:
        # synth documents carry no url column; derive the deterministic
        # flagship url (same construction as the gate queries)
        docs = synth.load_documents(spark, args.synth).select(
            "doc_id",
            F.concat(
                F.lit("https://h"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
    else:
        docs = spark.read.parquet(args.input)
        if "doc_id" not in docs.columns:
            # deterministic id: same input → same ids across reruns/resumes
            docs = docs.withColumn("doc_id", F.xxhash64("url"))
        docs = docs.select("doc_id", "url", "text")

    funnel: list[dict] = []
    prev_persisted = None

    def stage(name, df):
        nonlocal prev_persisted
        if not args.funnel:
            return df
        df = df.persist()
        n = df.count()
        funnel.append({"stage": name, "survivors": n})
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = df
        return df

    docs = stage("input", docs)

    # row-local gates filter the frame they gate: joining per-document
    # flags back by doc_id would scan the input once more per gate
    if not args.no_c4:
        c4 = c4_cols()
        docs = docs.filter(c4["keep"]).withColumn("text", c4["text"])
        docs = stage("c4_clean", docs)

    if not args.no_quality:
        docs = docs.filter(quality_cols(min_tokens=args.min_tokens)["keep"])
        docs = stage("gopher_quality", docs)
        docs = docs.filter(dup_line_frac() <= args.max_rep_line_frac)
        docs = stage("repetition", docs)

    if args.langs:
        keep_langs = [x.strip() for x in args.langs.split(",") if x.strip()]
        docs = docs.filter(lang_pred(F.col("text")).isin(keep_langs))
        docs = stage("lang_id", docs)

    def first_per(df, key):
        # the lowest-doc_id row of each key value
        w = Window.partitionBy(key).orderBy("doc_id")
        rk = F.row_number().over(w)
        return df.withColumn("_rk", rk).filter("_rk = 1").drop("_rk")

    if not args.no_url_dedup:
        docs = stage("url_dedup", first_per(docs, normalize_url(F.col("url"))))

    if not args.no_exact_dedup:
        docs = stage("exact_dedup", first_per(docs, fingerprint_col()))

    if args.minhash_threshold is not None:
        pairs = minhash_neardup(docs, threshold=args.minhash_threshold)
        kl = keep_list(docs, pairs)
        docs = docs.join(kl.filter("keep").select("doc_id"), "doc_id", "left_semi")
        docs = stage("minhash_neardup", docs)

    if args.dup_span_k:
        rebuilt = remove_duplicate_spans(docs, k=args.dup_span_k)
        docs = docs.drop("text").join(
            rebuilt.filter(F.col("n_tokens") > F.col("n_removed")).select(
                "doc_id", "text"
            ),
            "doc_id",
        )
        docs = stage("dup_span_removal", docs)

    if args.max_dup_frac is not None:
        from webx.suffix import dup_profile

        prof = dup_profile(docs.select("doc_id", "text"))
        ok = prof.filter(
            F.col("n_dup") <= args.max_dup_frac * F.col("n_pos")
        ).select("doc_id")
        docs = docs.join(ok, "doc_id", "left_semi")
        docs = stage("dup_profile", docs)

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark).select("text")
        bad = contaminated_ids(docs, bench)
        docs = docs.join(bad, "doc_id", "left_anti")
        docs = stage("decontaminate", docs)

    if args.max_per_host:
        docs = cap_per_host(
            docs.withColumn("host", host(F.col("url"))),
            max_per_host=args.max_per_host,
        ).drop("host")
        docs = stage("host_cap", docs)

    if args.ppl_train and args.max_ppl is not None:
        train = spark.read.parquet(args.ppl_train).select("text")
        scored = lm_perplexity(docs, train)
        docs = docs.join(
            scored.filter(F.col("ppl") <= args.max_ppl).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        docs = stage("lm_perplexity", docs)

    if args.pack_max_tokens:
        packed = pack_sequences(
            docs.withColumn("lang", F.lit("all")),
            max_tokens=args.pack_max_tokens,
            group_col="lang",
        ).select("doc_id", "n_tokens", "bin")
        docs = docs.join(packed, "doc_id")

    return docs, funnel

if __name__ == "__main__":
    raise SystemExit(main())
