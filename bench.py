#!/usr/bin/env python3
"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run on)
and prints ONE JSON line.

Method mirrors the reference's FPS measurement — wall time over a full
materialization, docs / total_time (tools/infer/text/predict_system.py:174-177)
— but forces computation with a ``noop`` sink so we measure the whole
distributed plan, never a driver-side collect.

Throughput block: the flagship extractor also runs on a replicated page
set (``$SPARK_GRAFT_BENCH_REPL`` copies, default 8) so per-document cost
dominates fixed Spark overhead; reports docs/sec and MB/s of HTML decoded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
REPL = int(os.environ.get("SPARK_GRAFT_BENCH_REPL", "8"))

# Every queries() entry is timed — a query missing from the bench can
# hide a regression. Derived at runtime so new queries are timed the day
# they land; $SPARK_GRAFT_BENCH_ONLY (comma list) narrows for iteration.
def bench_queries(all_names) -> list:
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        return [n for n in only.split(",") if n in all_names]
    return list(all_names)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _host_mops(procs: int) -> int:
    """Host CPU-capacity calibration (scripts/bench_scaling.py
    cpu_capacity): aggregate Mops/s of `procs` spinning processes. The
    denominator that makes a contended driver-window throughput number
    interpretable against the calm-window records in BASELINE.md
    without reading it — the same binary has measured 1.8x apart purely
    with host load."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
    )
    from bench_scaling import cpu_capacity

    return round(cpu_capacity(procs))


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    import __spark_entry__ as E
    from webx import synth
    from webx.config import ExtractConfig
    from webx.pipeline import run_extraction

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("webx-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # NOTE on stragglers: the shared sandbox host occasionally
        # freezes a worker for tens of seconds (observed 60x per-query
        # spikes on code that runs in ~1s warm). On a real cluster the
        # mitigation is spark.speculation=true — but Spark's speculation
        # scheduler only starts under a non-local master
        # (TaskSchedulerImpl.start gates on !isLocal), so setting it
        # here would be dead config; local-mode runs simply eat the
        # host's noise. Bench totals therefore vary with host load.
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    mops_start = _host_mops(int(CPUS))

    queries = E.queries()

    # Warm up JVM + Arrow python workers so per-query numbers are compute,
    # touching each UDF family once (html tokenizer, numpy hash kernels,
    # embedding path) — codegen JIT and worker numpy imports are one-time
    # costs a long-lived production session never re-pays.
    for warm_q in ("q_extract", "q_dedup_minhash", "q_ann_ivf"):
        _noop(queries[warm_q](spark, "/root/testdata/sf0.001"))

    # Best-of-2 per query: the shared sandbox host freezes workers for
    # tens of seconds at random (see straggler note above) — identical
    # code has measured the same query at 1s and 44s minutes apart. Two
    # interleaved passes with a per-query min cuts that noise without
    # hiding real regressions (a slow PLAN is slow in both passes).
    names = bench_queries(queries.keys())
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            t0 = time.perf_counter()
            _noop(queries[name](spark, SF_DIR))
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt

    # ---- flagship throughput: replicated page set, docs/sec + MB/s ----
    pages = synth.synth_pages(spark, SF_DIR)
    if REPL > 1:
        reps = spark.range(REPL).select(F.col("id").alias("rep"))
        pages = pages.crossJoin(reps).withColumn(
            "url", F.concat_ws("#", "url", F.col("rep").cast("string"))
        ).drop("rep")
    pages = pages.repartition(int(CPUS) * 4, "url").cache()
    stats = pages.select(
        F.count("*").alias("n"), F.sum(F.octet_length("html")).alias("b")
    ).first()
    n_docs, n_bytes = int(stats["n"]), int(stats["b"])

    def _best_of(k: int, fn) -> float:
        # Same straggler policy as the query loop: the host freezes
        # workers for tens of seconds at random; a single timed pass
        # has recorded 4x swings on identical code minutes apart. Min
        # over k passes measures the code, not the neighbor's noise.
        best = float("inf")
        for _ in range(k):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    _noop(run_extraction(pages, ExtractConfig()))  # warm the cache
    dt = _best_of(2, lambda: _noop(run_extraction(pages, ExtractConfig())))
    pages.unpersist()

    # ---- larger-page throughput: ~10 KB pages (page_repeat=32), x8 ----
    # The 1.1 KB synth pages above keep round-over-round comparability
    # but are dominated by per-doc fixed cost (Arrow transfer, batch
    # bookkeeping); Common-Crawl HTML averages tens of KB, where the
    # extractor kernels are the cost. Report both.
    big = synth.synth_pages(spark, SF_DIR, page_repeat=32)
    if REPL > 1:
        big = big.crossJoin(reps).withColumn(
            "url", F.concat_ws("#", "url", F.col("rep").cast("string"))
        ).drop("rep")
    big = big.repartition(int(CPUS) * 4, "url").cache()
    bstats = big.select(
        F.count("*").alias("n"), F.sum(F.octet_length("html")).alias("b")
    ).first()
    bn, bb = int(bstats["n"]), int(bstats["b"])
    _noop(run_extraction(big, ExtractConfig()))  # warm
    bdt = _best_of(2, lambda: _noop(run_extraction(big, ExtractConfig())))
    big.unpersist()

    # ---- composed curation pipeline throughput (docs/s through the
    # full funnel: extract → quality → exact+near dedup → decontam →
    # host cap → pack) — the number a 100 TB curation user sizes with
    from __spark_entry__ import _curate_corpus_pages

    n_curate = _curate_corpus_pages(spark, SF_DIR).count()
    curate_dt = _best_of(
        2, lambda: _noop(queries["q_curate_pipeline"](spark, SF_DIR))
    )

    total = round(sum(timings.values()), 3)

    # The driver captures only the last ~2000 chars of stdout; a 185-entry
    # per-query map overflows that (round-3's BENCH_r03.json has
    # "parsed": null). So: full per-query timings go to a detail file in
    # the repo, and the FINAL stdout line is a compact summary guaranteed
    # to fit the tail capture.
    here = os.path.dirname(os.path.abspath(__file__))
    existing = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := __import__("re").match(r"BENCH_r(\d+)\.json$", f))
    ]
    rnd = (max(existing) + 1) if existing else 1
    # A narrowed iteration run must not clobber the round's full record.
    suffix = ".partial" if os.environ.get("SPARK_GRAFT_BENCH_ONLY") else ""
    detail_path = os.path.join(here, f"BENCH_DETAIL_r{rnd:02d}.json{suffix}")
    detail = {
        "metric": "total_headline_queries_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": int(CPUS),
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    summary = {
        "metric": "total_headline_queries_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "mean_query_sec": round(total / max(len(timings), 1), 3),
        "slowest": {k: v for k, v in slowest},
        "queries": {"see": os.path.basename(detail_path)},
        "sf": SF_DIR,
        "cpus": int(CPUS),
        "extract_docs": n_docs,
        "extract_sec": round(dt, 3),
        "extract_docs_per_sec": round(n_docs / dt, 1),
        "extract_mb_per_sec": round(n_bytes / dt / 1e6, 2),
        "extract_big_docs": bn,
        "extract_big_sec": round(bdt, 3),
        "extract_big_docs_per_sec": round(bn / bdt, 1),
        "extract_big_mb_per_sec": round(bb / bdt / 1e6, 2),
        "curate_docs": n_curate,
        "curate_sec": round(curate_dt, 3),
        "curate_docs_per_sec": round(n_curate / curate_dt, 1),
        # host CPU capacity (Mops/s of CPUS spinners) at window start +
        # end: the contention denominator for every number above
        "host_mops": {"start": mops_start, "end": _host_mops(int(CPUS))},
    }
    line = json.dumps(summary)
    assert len(line) <= 1900, f"bench summary line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
