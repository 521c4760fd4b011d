#!/usr/bin/env python3
"""spark-submit entry point for offline evaluation of saved extraction
results against golden labels — the ``tools/eval.py`` /
``tools/infer/text/res_eval.py`` analog (reference: load saved pred
file + gt file → RecMetric/DetMetric → print perf dict).

Usage:
    spark-submit --py-files webx.zip jobs/evaluate.py \
        --pred /path/to/extracted_output \
        --golden-text /path/to/golden_text.tsv \
        --golden-labels /path/to/golden_labels.txt

Inputs:
* ``--pred``: parquet written by jobs/extract.py (url, text, spans_json, …).
* ``--golden-text``: TSV lines ``url\\ttext`` — exact-match + normalized
  edit distance (RecMetric analog).
* ``--golden-labels``: the det_labels format ``url\\tJSON-span-array``
  (webx/convert.py) — interval-IoU precision/recall/F1 (DetMetric).

Either golden input may be omitted; the perf dict contains whichever
metrics were computable. Output: ONE JSON line on stdout (the
reference's printed perf dict).

Multi-fixture sweep (the tools/benchmarking/multi_dataset_eval.py
analog — reference iterates dataset dirs in one run and prints one
perf row each): pass ``--manifest fixtures.json`` instead of --pred,
where the manifest is a JSON list of
``{"name": …, "pred": …, "golden_text": …, "golden_labels": …}``
entries. Each fixture evaluates independently in the SAME Spark
session (one JVM spin-up for the whole sweep); the stdout line becomes
``{"fixtures": {name: perf…}, "n_fixtures": N}`` and a failed fixture
records ``{"error": …}`` without aborting the rest — the sweep always
reports every dataset, like the reference's per-dataset loop."""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="webx offline evaluation")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pred", help="extracted output parquet")
    src.add_argument("--manifest",
                     help="JSON list of fixtures for a multi-dataset sweep")
    p.add_argument("--golden-text", help="TSV url\\ttext golden transcripts")
    p.add_argument("--golden-labels", help="url\\tJSON-spans golden label file")
    p.add_argument("--iou-thresh", type=float, default=0.5)
    p.add_argument("--master", default=None)
    return p.parse_args(argv)


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from webx.convert import convert
    from webx.metrics import det_metrics, rec_metrics

    pred = spark.read.parquet(args.pred)
    perf: dict = {"n_pred": pred.count()}

    if args.golden_text:
        from webx.convert import read_url_tsv

        golden = read_url_tsv(spark, args.golden_text, "text")
        n_golden_text = golden.count()
        # Dedupe predictions on url: duplicate urls would multiply rows in
        # the rec_metrics join and drive missing_pred negative.
        pred_text = pred.select("url", "text").dropDuplicates(["url"])
        row = rec_metrics(pred_text, golden).first()
        perf.update(
            n_golden_text=n_golden_text,
            n_docs=row["n_docs"],
            # golden docs with NO prediction row are invisible to the
            # inner metrics join — surface them so a broken pipeline
            # cannot overstate quality
            missing_pred=n_golden_text - row["n_docs"],
            n_correct=row["n_correct"],
            acc=row["acc"],
            norm_edit=row["norm_edit"],
        )

    if args.golden_labels:
        golden_spans = convert(spark, "det_labels", args.golden_labels)
        pred_spans = pred.select(
            "url", F.from_json("spans_json", golden_spans.schema["spans"].dataType).alias("spans")
        )
        row = det_metrics(pred_spans, golden_spans, iou_thresh=args.iou_thresh).first()
        perf.update(
            n_golden=row["n_golden"],
            tp=row["tp"],
            precision=row["precision"],
            recall=row["recall"],
            f1=row["f1"],
        )
    return perf


def run_sweep(spark, args) -> dict:
    """Iterate the manifest's fixture sets in one session → one perf
    row per fixture under "fixtures", never aborting the sweep on a
    single bad fixture."""
    import time

    with open(args.manifest) as f:
        entries = json.load(f)
    out: dict = {"n_fixtures": len(entries), "fixtures": {}}
    for i, e in enumerate(entries):
        name = e.get("name") or f"fixture{i}"
        sub = argparse.Namespace(
            pred=e["pred"],
            golden_text=e.get("golden_text"),
            golden_labels=e.get("golden_labels"),
            iou_thresh=e.get("iou_thresh", args.iou_thresh),
        )
        t0 = time.time()
        try:
            perf = run(spark, sub)
        except Exception as ex:  # report, keep sweeping
            perf = {"error": f"{type(ex).__name__}: {ex}"}
        perf["elapsed_sec"] = round(time.time() - t0, 3)
        out["fixtures"][name] = perf
    return out


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    from pyspark.sql import SparkSession

    # AQE on by default: runtime re-planning (skew-join splitting,
    # post-shuffle coalescing) is the 1000-executor safety net; the
    # explicit salting/bucketing paths remain for the deterministic
    # cases AQE cannot see. A builder .config beats spark-submit --conf
    # for the same key, so set only what the job needs.
    b = (SparkSession.builder.appName("webx-evaluate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true"))
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    perf = run_sweep(spark, args) if args.manifest else run(spark, args)
    print(json.dumps(perf))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
