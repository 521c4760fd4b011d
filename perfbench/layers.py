"""Per-layer metrics of the traced run.

Three kinds of measurement, each named after the webx module it times:

* ``pipeline``: the Spark side of ``webx.pipeline.run_extraction``, from
  differential ``noop`` actions on the workload's pages. A cost is per
  core: wall time x cores / documents.
* ``extract``, ``charset``, ``stage1``, ``stage2``: ``extract_batch`` run
  in this process on one core over a sample of the pages, with spans
  around every name ``webx.extract`` calls into another module.
* ``lineage``: one checkpointed run (the crawl_job action) over the
  workload's pages, and ``dedup``/``curate`` (curate): spans in the driver
  around the calls they make, plus Spark job counts.

A metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager

from perfbench import spans, workloads
from perfbench.workloads import noop

SAMPLE_DOCS = 2000
PIPELINE_DOCS = 16_000
PIPELINE_REPS = 3
KERNEL_REPS = 5

# name -> (unit, better); every traced run reports all of them.
METRICS = {
    "pipeline.scan_us_per_doc": ("us", "lower"),
    "pipeline.arrow_us_per_doc": ("us", "lower"),
    "pipeline.udf_us_per_doc": ("us", "lower"),
    "pipeline.arrow_out_us_per_doc": ("us", "lower"),
    "pipeline.e2e_us_per_doc": ("us", "lower"),
    "pipeline.layer_sum_over_e2e": ("ratio", "higher"),
    "pipeline.task_max_over_median": ("ratio", "lower"),
    "pipeline.scaling_1_to_4": ("ratio", "higher"),
    "pipeline.scaling_1_to_4_calibrated": ("ratio", "higher"),
    "extract.batch_us_per_doc": ("us", "lower"),
    "extract.self_us_per_doc": ("us", "lower"),
    "charset.normalize_us_per_doc": ("us", "lower"),
    "charset.sniff_us_per_doc": ("us", "lower"),
    "charset.decode_us_per_doc": ("us", "lower"),
    "charset.fallback_ratio": ("ratio", "lower"),
    "stage1.c_us_per_doc": ("us", "lower"),
    "stage1.py_finalize_us_per_doc": ("us", "lower"),
    "stage1.c_final_ratio": ("ratio", "higher"),
    "stage1.doc_p50_us": ("us", "lower"),
    "stage1.doc_p99_us": ("us", "lower"),
    "stage2.c_us_per_doc": ("us", "lower"),
    "stage2.py_us_per_doc": ("us", "lower"),
    "stage2.pre_regions_us_per_doc": ("us", "lower"),
    "stage2.probe_us_per_doc": ("us", "lower"),
    "stage2.c_done_ratio": ("ratio", "higher"),
    "trace.overhead_us_per_doc": ("us", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "lineage.write_s": ("s", "lower"),
    "lineage.append_s": ("s", "lower"),
    "lineage.resume_s": ("s", "lower"),
    "lineage.spark_jobs_per_chunk": ("count", "lower"),
    "lineage.bytes_out_per_doc": ("B", "lower"),
    "dedup.eager_s": ("s", "lower"),
    "dedup.spark_jobs": ("count", "lower"),
    "curate.final_s": ("s", "lower"),
    "curate.survivor_ratio": ("ratio", "higher"),
}


def _identity(batches):
    yield from batches


def _median(xs):
    return statistics.median(xs)


@contextmanager
def job_group(sc, group: str):
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _task_durations(sc, group: str) -> list:
    """Task wall times (ms) of every stage the group's jobs ran, from the
    local Spark UI's REST API."""
    tracker = sc.statusTracker()
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}/stages"
    out = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            want = info.numCompletedTasks if info else 0
            tasks = []
            for _ in range(50):  # the status store is updated asynchronously
                url = f"{base}/{sid}/{info.currentAttemptId}/taskList?length=100000"
                with urllib.request.urlopen(url, timeout=10) as resp:
                    tasks = [t for t in json.load(resp) if t.get("status") == "SUCCESS"]
                if len(tasks) >= want:
                    break
                time.sleep(0.1)
            out.extend(t["duration"] for t in tasks)
    return out


def pipeline_layers(spark, wl, cores: int, cpu_capacity) -> dict:
    """Differential ``noop`` runs on the workload's pages: scan, an
    identity ``mapInPandas``, and ``run_extraction``; then the same
    extraction in one task for the 1 -> N scaling ratio."""
    from webx.config import ExtractConfig
    from webx.pipeline import run_extraction

    pages = spark.read.parquet(wl.pages_path).select("url", "html")
    # the same files read several times over, so that a per-action
    # fixed cost does not swamp the per-document cost of small inputs
    for _ in range(1, min(8, -(-PIPELINE_DOCS // wl.docs))):
        pages = pages.unionByName(spark.read.parquet(wl.pages_path).select("url", "html"))
    docs = pages.count()
    sc = spark.sparkContext
    runs = {
        "scan": lambda: noop(pages),
        "identity": lambda: noop(pages.mapInPandas(_identity, pages.schema)),
        "extract": lambda: noop(run_extraction(pages, ExtractConfig())),
    }
    walls = {k: [] for k in runs}
    runs["extract"]()  # warm
    for rep in range(PIPELINE_REPS):
        for name, fn in runs.items():
            with job_group(sc, f"pb-{name}-{rep}"):
                t0 = time.perf_counter()
                fn()
                walls[name].append(time.perf_counter() - t0)
    per_core = {k: _median(v) * cores / docs * 1e6 for k, v in walls.items()}
    tasks = _task_durations(sc, f"pb-extract-{PIPELINE_REPS - 1}")
    t0 = time.perf_counter()
    noop(run_extraction(pages.coalesce(1), ExtractConfig()))
    one_task = time.perf_counter() - t0
    raw = one_task / (cores * _median(walls["extract"]))
    hw = cpu_capacity(cores, 2_000_000) / (cores * cpu_capacity(1, 2_000_000))
    return {
        "docs": docs,
        "extract_wall_s": _median(walls["extract"]),
        "pipeline.scan_us_per_doc": per_core["scan"],
        "pipeline.arrow_us_per_doc": per_core["identity"] - per_core["scan"],
        "pipeline.udf_us_per_doc": per_core["extract"] - per_core["identity"],
        "pipeline.e2e_us_per_doc": per_core["extract"],
        "pipeline.task_max_over_median": max(tasks) / _median(tasks),
        "pipeline.scaling_1_to_4": raw,
        "pipeline.scaling_1_to_4_calibrated": raw / hw,
        "_tasks": len(tasks),
    }


def _sample(pages_path: str, n: int, batch_rows: int) -> list:
    import pyarrow.dataset as ds

    tbl = ds.dataset(pages_path, format="parquet").head(n, columns=["url", "html"])
    pdf = tbl.to_pandas()
    return [pdf.iloc[i : i + batch_rows].reset_index(drop=True)
            for i in range(0, len(pdf), batch_rows)]


def extract_layers(wl, trace_prefix: str) -> dict:
    """``extract_batch`` on one core over a sample, untraced then traced."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    import webx.extract as ex
    from webx.config import ExtractConfig
    from webx.schema import extracted_schema

    cfg = ExtractConfig()
    batches = _sample(wl.pages_path, SAMPLE_DOCS, wl.batch_rows)
    docs = sum(len(b) for b in batches)

    def run():
        return [ex.extract_batch(b, cfg) for b in batches]

    def wall(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    outs = run()  # warm
    # the collector would run at moments set by the tracer's own
    # allocations and land in whichever span is open; keep it out of both
    gc.collect()
    gc.disable()
    try:
        plain = _median([wall(run) for _ in range(KERNEL_REPS)])
        tr = spans.Tracer()
        tr.calibrate()
        spans.install_extract(tr)
        try:
            traced = _median([wall(run) for _ in range(KERNEL_REPS)])
        finally:
            spans.uninstall(tr)
    finally:
        gc.enable()
    schema = to_arrow_schema(extracted_schema())
    arrow_out = _median([
        wall(lambda: [pa.Table.from_pandas(o, schema=schema, preserve_index=False)
                      for o in outs])
        for _ in range(KERNEL_REPS)
    ])

    reps = KERNEL_REPS
    layer = {}
    for name, ns in tr.self_times_ns().items():
        key = spans.EXTRACT_LAYERS[name]
        layer[key] = layer.get(key, 0) + ns / reps / docs / 1e3
    layer["extract.self"] = plain / docs * 1e6 - sum(
        v for k, v in layer.items() if k != "extract.self"
    )
    doc_us = sorted(d / 1e3 for d in tr.durations_ns("_extract_doc_stage1"))
    c = tr.counts
    calls = tr.calls
    tr.dump(f"{trace_prefix}-extract.json",
            {"layer_us_per_doc": layer, "docs": docs, "reps": reps})
    return {
        "sample_docs": docs,
        "counts": {
            "charset.fallback_ratio": (c["charset.fallback"], calls["decode_bytes"]),
            "stage1.c_final_ratio": (c["stage1.c_final"], calls["detect_final"]),
            "stage2.c_done_ratio": (c["stage2.c_done"], c["stage2.spans_decoded"]),
        },
        "extract.batch_us_per_doc": plain / docs * 1e6,
        "extract.self_us_per_doc": layer.get("extract.self", 0.0),
        "pipeline.arrow_out_us_per_doc": arrow_out / docs * 1e6,
        "charset.normalize_us_per_doc": layer.get("charset.normalize", 0.0),
        "charset.sniff_us_per_doc": layer.get("charset.sniff", 0.0),
        "charset.decode_us_per_doc": layer.get("charset.decode", 0.0),
        "charset.fallback_ratio": c["charset.fallback"] / max(calls["decode_bytes"], 1),
        "stage1.c_us_per_doc": layer.get("stage1.c", 0.0),
        "stage1.py_finalize_us_per_doc": layer.get("stage1.py_finalize", 0.0),
        "stage1.c_final_ratio": c["stage1.c_final"] / max(calls["detect_final"], 1),
        "stage1.doc_p50_us": _quantile(doc_us, 0.5),
        "stage1.doc_p99_us": _quantile(doc_us, 0.99),
        "stage2.c_us_per_doc": layer.get("stage2.c", 0.0),
        "stage2.py_us_per_doc": layer.get("stage2.py", 0.0),
        "stage2.pre_regions_us_per_doc": layer.get("stage2.pre_regions", 0.0),
        "stage2.probe_us_per_doc": layer.get("stage2.probe", 0.0),
        "stage2.c_done_ratio": c["stage2.c_done"] / max(c["stage2.spans_decoded"], 1),
        "trace.overhead_us_per_doc": (traced - plain) / docs * 1e6,
        "trace.overhead_frac": 1 - plain / traced,
    }


def _quantile(sorted_xs: list, q: float) -> float:
    if not sorted_xs:
        return 0.0
    return sorted_xs[min(len(sorted_xs) - 1, int(q * len(sorted_xs)))]


def lineage_layers(spark, wl, trace_prefix: str) -> dict:
    """One checkpointed run over the workload's pages (the crawl_job action)
    with spans around the output write, the lineage append (which reads
    the chunk back) and the resume probe."""
    from pyspark.sql.readwriter import DataFrameWriter

    from webx.lineage import CheckpointStore

    out_dir = os.path.join(wl.work, "trace-lineage")
    shutil.rmtree(out_dir, ignore_errors=True)
    tr = spans.Tracer()
    tr.patch(DataFrameWriter, "save", "save")
    tr.patch(CheckpointStore, "append", "append")
    tr.patch(CheckpointStore, "completed_partitions", "resume")
    sc = spark.sparkContext
    try:
        with job_group(sc, "pb-lineage"):
            out = workloads.checkpointed_run(spark, wl.pages_path, out_dir)
    finally:
        tr.restore()
    chunks = -(-workloads.LINEAGE_PARTITIONS // workloads.LINEAGE_CHUNK)
    by_name = {}
    for name, start, end, parent, _, _ in tr.spans:
        if name == "save" and parent >= 0 and tr.spans[parent][0] == "append":
            continue  # the lineage rows' own write, counted in append
        by_name[name] = by_name.get(name, 0) + (end - start) / 1e9
    out_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(out)
        for f in files
        if f.endswith(".parquet")
    )
    jobs = len(sc.statusTracker().getJobIdsForGroup("pb-lineage"))
    tr.dump(f"{trace_prefix}-lineage.json", {"spark_jobs": jobs, "chunks": chunks})
    return {
        "counts": {
            "lineage.spark_jobs_per_chunk": (jobs, chunks),
            "lineage.bytes_out_per_doc": (out_bytes, wl.docs),
        },
        "lineage.write_s": by_name.get("save", 0.0),
        "lineage.append_s": by_name.get("append", 0.0),
        "lineage.resume_s": by_name.get("resume", 0.0),
        "lineage.spark_jobs_per_chunk": jobs / chunks,
        "lineage.bytes_out_per_doc": out_bytes / wl.docs,
    }


DEDUP_CALLS = ("minhash_neardup", "keep_best", "dedup_clusters", "gated_broadcast")


def curate_layers(spark, wl, trace_prefix: str) -> dict:
    """One funnel run with spans around the ``webx.dedup`` functions it
    calls (their Spark jobs in one job group) and the final action."""
    import webx.dedup as dedup

    sc = spark.sparkContext
    tr = spans.Tracer()

    def grouped(fn):
        def call(*args, **kwargs):
            with job_group(sc, "pb-dedup"):
                return fn(*args, **kwargs)
        return call

    for name in DEDUP_CALLS:
        tr.replace(dedup, name, grouped)
        tr.patch(dedup, name, name)
    wl.reset()
    try:
        df = wl.funnel()
    finally:
        tr.restore()
    t0 = time.perf_counter()
    noop(df)
    final = time.perf_counter() - t0
    eager = sum((e - s) / 1e9 for _, s, e, parent, _, _ in tr.spans if parent < 0)
    jobs = len(sc.statusTracker().getJobIdsForGroup("pb-dedup"))
    tr.dump(f"{trace_prefix}-dedup.json", {"spark_jobs": jobs, "final_s": final})
    return {
        "counts": {
            "dedup.spark_jobs": (jobs, 1),
            "curate.survivor_ratio": (wl.out_rows, wl.docs),
        },
        "dedup.eager_s": eager,
        "dedup.spark_jobs": jobs,
        "curate.final_s": final,
        "curate.survivor_ratio": wl.out_rows / wl.docs,
    }


def measure(spark, wl, cores: int, cpu_capacity, trace_prefix: str) -> tuple:
    """(metrics, detail) for the traced run of one workload; span files go
    to ``<trace_prefix>-<layer>.json``. The curate
    funnel's extraction input is 1.5k small pages, too few for per-document
    Spark costs, so curate reports its own layers only."""
    if wl.name == "curate":
        got = curate_layers(spark, wl, trace_prefix)
    else:
        got = pipeline_layers(spark, wl, cores, cpu_capacity)
        got.update(extract_layers(wl, trace_prefix))
        layer_sum = (
            got["pipeline.scan_us_per_doc"] + got["pipeline.arrow_us_per_doc"]
            + got["extract.batch_us_per_doc"] + got["pipeline.arrow_out_us_per_doc"]
        )
        got["pipeline.layer_sum_over_e2e"] = layer_sum / got["pipeline.e2e_us_per_doc"]
        lin = lineage_layers(spark, wl, trace_prefix)
        got["counts"].update(lin.pop("counts"))
        got.update(lin)
    counts = got.pop("counts")
    metrics = {k: float(got.get(k, 0.0)) for k in METRICS}
    detail = {k: v for k, v in got.items() if k not in METRICS}
    detail["counts"] = {k: {"count": n, "base": b} for k, (n, b) in counts.items()}
    return metrics, detail
