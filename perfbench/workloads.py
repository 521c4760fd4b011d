"""The four workloads: input set-up, the timed action, and the check.

Each workload is a closed loop of one driver: it submits one Spark action
at a time and the next only after the previous one finished.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from perfbench import inputs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scaled(n: int, scale: float, floor: int) -> int:
    return max(floor, int(n * scale))


def _count_failed(docs: int, pdf, expected) -> int:
    """Documents whose row is missing, errored, or whose text differs."""
    good = sum(
        1
        for url, text, status in zip(pdf["url"], pdf["text"], pdf["status"])
        if status != "error" and text == expected(url)
    )
    return docs - good


class Extraction:
    """``run_extraction`` over a page table into a ``noop`` sink."""

    min_reps = 3
    # untimed actions after the check: on small pages the JVM is still
    # compiling the scan and Arrow paths for the first few seconds
    warm_reps = 2
    batch_rows = 10_000  # Spark's default Arrow batch

    def __init__(self, spark, root, work, seed, scale):
        self.spark, self.root, self.work = spark, root, work
        self.seed, self.scale = seed, scale
        self.path = os.path.join(work, "inputs", f"{self.name}-s{seed}-x{scale:g}")
        self.pages_path = os.path.join(self.path, "pages")

    def pages(self):
        return self.spark.read.parquet(self.pages_path)

    def reset(self) -> None:
        pass

    def action(self) -> None:
        from webx.config import ExtractConfig
        from webx.pipeline import run_extraction

        noop(run_extraction(self.pages(), ExtractConfig()))

    def check(self):
        """(attempted, failed) for one extraction of the whole input."""
        from webx.config import ExtractConfig
        from webx.pipeline import run_extraction

        out = run_extraction(self.pages(), ExtractConfig())
        pdf = out.select("url", "text", "status").toPandas()
        return self.docs, _count_failed(self.docs, pdf, self.expected)


class Flagship(Extraction):
    name = "flagship"

    def prepare(self):
        info = inputs.synth_page_input(
            self.spark, self.path, self.seed,
            _scaled(inputs.FLAGSHIP_BASE_DOCS, self.scale, 20),
            _scaled(inputs.FLAGSHIP_DOCS, self.scale, 40),
        )
        self.docs, self.html_bytes = info["docs"], info["html_bytes"]
        self.expected = inputs.synth_expected(self.path)


class Gnarly(Extraction):
    name = "gnarly"

    def prepare(self):
        info = inputs.gnarly_input(
            self.root, self.path, self.seed,
            _scaled(inputs.GNARLY_DOCS, self.scale, 100),
        )
        self.docs, self.html_bytes = info["docs"], info["html_bytes"]
        self.expected = inputs.gnarly_expected(self.root)


# logical partitions and chunk size of every checkpointed run: 2 chunks
LINEAGE_PARTITIONS = 8
LINEAGE_CHUNK = 4


def checkpointed_run(spark, pages_path: str, out_dir: str) -> str:
    """``run_checkpointed_extraction`` over a page table, with Parquet
    output and lineage under ``out_dir`` (empty it first to start from
    scratch); returns the output path."""
    from webx.config import ExtractConfig
    from webx.lineage import (
        CheckpointStore, run_checkpointed_extraction, snapshot_id_for_path,
    )

    out = os.path.join(out_dir, "out")
    run_checkpointed_extraction(
        spark, spark.read.parquet(pages_path), out,
        CheckpointStore(os.path.join(out_dir, "lineage")),
        "perfbench", snapshot_id_for_path(pages_path), ExtractConfig(size_gears=False),
        n_partitions=LINEAGE_PARTITIONS, chunk_size=LINEAGE_CHUNK,
    )
    return out


class CrawlJob(Extraction):
    """The ``jobs/extract.py`` default lane: checkpointed extraction with
    Parquet output plus lineage."""

    name = "crawl_job"
    warm_reps = 1
    batch_rows = 1024  # jobs/extract.py --arrow-batch-rows default

    def prepare(self):
        info = inputs.synth_page_input(
            self.spark, self.path, self.seed,
            _scaled(inputs.CRAWL_BASE_DOCS, self.scale, 20),
            _scaled(inputs.CRAWL_DOCS, self.scale, 40),
            page_repeat=inputs.CRAWL_PAGE_REPEAT,
        )
        self.docs, self.html_bytes = info["docs"], info["html_bytes"]
        self.expected = inputs.synth_expected(self.path)
        self.spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(self.batch_rows)
        )

    def reset(self) -> None:
        shutil.rmtree(os.path.join(self.work, "crawl"), ignore_errors=True)

    def action(self) -> None:
        self.out = checkpointed_run(
            self.spark, self.pages_path, os.path.join(self.work, "crawl")
        )

    def check(self):
        """One checkpointed run, then its committed output read back."""
        self.reset()
        self.action()
        out = self.spark.read.parquet(self.out).select("url", "text", "status")
        return self.docs, _count_failed(self.docs, out.toPandas(), self.expected)


class Curate(Extraction):
    """``q_curate_pipeline`` over ``_curate_corpus_pages`` into ``noop``."""

    name = "curate"
    min_reps = 2
    warm_reps = 0  # each action runs the funnel's dozens of jobs

    def prepare(self):
        import pyarrow.parquet as pq

        n = _scaled(inputs.CURATE_DOCS, self.scale, 60)
        info = inputs.curate_input(self.path, self.seed, n)
        self.docs_dir = os.path.join(self.path, "docs")
        ids = pq.read_table(os.path.join(self.docs_dir, "documents.parquet"),
                            columns=["doc_id"]).column("doc_id").to_pylist()
        # flagship pages, plus mirrors of doc_id % 3 == 0 and near
        # copies of doc_id % 7 == 1 (__spark_entry__._curate_corpus_pages)
        self.docs = n + sum(d % 3 == 0 for d in ids) + sum(d % 7 == 1 for d in ids)
        self.html_bytes = None  # the funnel builds its pages itself
        self.oracle = inputs.curate_oracle(
            os.path.join(self.work, "oracle"), self.docs_dir, info["corpus"]
        )

    def funnel(self):
        import __spark_entry__ as E

        return E.queries()["q_curate_pipeline"](self.spark, self.docs_dir)

    def reset(self) -> None:
        # the funnel persists its survivor set on every call
        self.spark.catalog.clearCache()

    def action(self) -> None:
        noop(self.funnel())

    def check(self):
        """Mismatched output rows against the DuckDB oracle's rows."""
        rows = self.funnel().collect()
        self.out_rows = len(rows)
        got = Counter(_canon(r.asDict()) for r in rows)
        want = Counter(_canon(r) for r in self.oracle)
        failed = max(sum((want - got).values()), sum((got - want).values()))
        return len(self.oracle), min(failed, len(self.oracle))

def _canon(row: dict) -> tuple:
    return tuple(
        f"{row[k]:.6f}" if isinstance(row[k], float) else str(row[k])
        for k in sorted(row)
    )


WORKLOADS = {w.name: w for w in (Flagship, Gnarly, CrawlJob, Curate)}


def timed(wl, seconds: float) -> list:
    """Wall seconds of each action: at least ``min_reps`` actions, and more
    until ``seconds`` have passed, after ``warm_reps`` untimed ones."""
    for _ in range(wl.warm_reps):
        wl.reset()
        wl.action()
    times = []
    deadline = time.perf_counter() + seconds
    while len(times) < wl.min_reps or time.perf_counter() < deadline:
        wl.reset()
        t0 = time.perf_counter()
        wl.action()
        times.append(time.perf_counter() - t0)
    return times
