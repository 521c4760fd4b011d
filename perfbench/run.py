#!/usr/bin/env python3
"""Layer-attributed benchmark of the webx HTML extraction engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a webx checkout. One driver process runs Spark at
``local[N]``, N = the CPUs this process may use, and submits one action at
a time. Inputs are generated from ``--seed`` into ``.perfbench_work/``
before any timing. ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` measures the per-layer metrics instead (perfbench/layers.py).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "worker_peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("flagship", "gnarly", "crawl_job", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test runs at 0.02)")
    return p.parse_args(argv)


def start_spark(cores: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_extraction(spark) -> None:
    """One tiny extraction, so Python workers and the kernel are up."""
    from perfbench.inputs import gnarly_fixtures
    from webx.config import ExtractConfig
    from webx.pipeline import run_extraction

    rows = [(f"u{i}", html) for i, (_, html, _) in enumerate(gnarly_fixtures(ROOT)[:8])]
    df = spark.createDataFrame(rows, "url string, html binary")
    run_extraction(df, ExtractConfig()).collect()


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among the PySpark Python workers this process started."""
    parent, cmd = _process_table()
    peak = 0
    for pid in _descendants(parent, os.getpid()):
        if b"pyspark.daemon" in cmd.get(pid, b"") or b"pyspark.worker" in cmd.get(pid, b""):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for row in f:
                        if row.startswith("VmHWM:"):
                            peak = max(peak, int(row.split()[1]))
            except OSError:
                continue
    return peak / 1024


def _descendants(parent: dict, root: int) -> set:
    kids = set()
    for pid in parent:
        p = pid
        while p > 1:
            p = parent.get(p, 0)
            if p == root:
                kids.add(pid)
                break
    return kids


def _process_table() -> tuple:
    """({pid: ppid}, {pid: cmdline}) for every process we can see."""
    parent, cmd = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd[int(pid)] = f.read()
        except OSError:
            continue  # exited while we looked
    return parent, cmd


def stop_spark(spark) -> None:
    """Stop Spark, end its JVM and wait for every process it started."""
    from pyspark import SparkContext

    parent, _ = _process_table()
    kids = _descendants(parent, os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [k for k in kids if os.path.exists(f"/proc/{k}")
                 and open(f"/proc/{k}/stat").read().rsplit(")", 1)[1].split()[0] != "Z"]
        if not alive:
            break
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not (os.path.isdir(os.path.join(ROOT, "webx"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"error: {ROOT} is not a webx checkout (no webx/ package)", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    # Spark's Python workers import webx and perfbench from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path[0:1] = [ROOT, os.path.join(ROOT, "scripts")]

    spark = start_spark(cores, bool(args.trace))
    try:
        import webx.ctokenize as ck

        if not ck.AVAILABLE:
            # a silent Python fallback would measure a different program
            print("error: the C kernel webx.ctokenize did not load", file=sys.stderr)
            return 3
        warm_extraction(spark)
        setup_s = time.perf_counter() - PROCESS_START
        return run(spark, args, cores, setup_s, ck.AVAILABLE)
    finally:
        stop_spark(spark)


def run(spark, args, cores, setup_s, ck_available) -> int:
    import pyarrow
    import pyspark

    from bench_scaling import cpu_capacity
    from perfbench import inputs, workloads

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "holdout_seed": inputs.HOLDOUT_SEED,
        "nproc": cores,
        "master": f"local[{cores}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "ctokenize_available": ck_available,
        "host_mops_start": cpu_capacity(cores, 2_000_000),
    }
    wl = workloads.WORKLOADS[args.workload](spark, ROOT, WORK, args.seed, args.scale)
    wl.prepare()
    inputs.prune(os.path.join(WORK, "inputs"))
    # correctness, outside timing; it is also the workload's warm-up
    attempted, failed = wl.check()

    if args.trace:
        from perfbench import layers

        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        prefix = os.path.join(WORK, "trace", f"{wl.name}-s{args.seed}")
        metrics, detail = layers.measure(spark, wl, cores, cpu_capacity, prefix)
        context["trace_files"] = os.path.relpath(prefix, ROOT) + "-*.json"
        context["layers"] = detail
        units = {k: u for k, (u, _) in layers.METRICS.items()}
    else:
        times = workloads.timed(wl, args.seconds)
        rss = worker_peak_rss_mb()
        wall = statistics.median(times)
        metrics = {
            "docs_per_s": wl.docs / wall,
            "worker_peak_rss_mb": rss,
            "setup_s": setup_s,
        }
        context["actions"] = len(times)
        context["action_s"] = times
        context["docs_per_action"] = wl.docs
        if wl.html_bytes:
            context["html_mb_per_s"] = wl.html_bytes / wall / 1e6
        units = {k: u for k, (u, _) in END_TO_END.items()}
    context["host_mops_end"] = cpu_capacity(cores, 2_000_000)
    context["failed_frac"] = failed / attempted

    print("context " + json.dumps(context))
    for name, value in metrics.items():
        print(f"{wl.name} {name} {value:.6g} {units[name]}")
    print(f"{wl.name} failed_frac {failed / attempted:.6g} ({failed}/{attempted})")
    if "html_mb_per_s" in context:
        print(f"{wl.name} html_mb_per_s {context['html_mb_per_s']:.6g} MB/s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
