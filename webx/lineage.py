"""Checkpointed, resumable extraction runs with per-partition lineage.

The union of the reference's ``PerfRecorder`` (per-epoch metric rows,
mindocr/utils/recorder.py:48-91) and ``CheckpointManager`` (retained
restart points, mindocr/utils/checkpoint.py:11-97), recast for a data
pipeline: a **lineage table** with one row per (run_id, partition_id)
recording row counts, error counts, bytes in, spans out, and status —
written only after that partition's output is durably committed, so a
restarted run resumes at partition granularity by anti-joining completed
partitions (the Spark recast of the train-loop skeleton, SURVEY.md §3.2).

Design for 10^12 documents:

* **Logical partitions are content-addressed**, not physical:
  ``partition_id = pmod(xxhash64(url), n_partitions)`` — stable across
  cluster sizes, input splits, and re-runs, so "partition 17 is done"
  means the same set of urls on any re-run at any parallelism.
* **Chunked commits**: the driver loops over small groups of logical
  partitions (``chunk_size`` per Spark action). Each action writes its
  output partitioned by ``partition_id`` with *dynamic partition
  overwrite* (idempotent — a crashed chunk's partial partitions are
  replaced wholesale on retry), then appends lineage rows. The loop is
  O(n_partitions / chunk_size) driver iterations — a few hundred at
  petabyte scale — never per-row.
* **Format-agnostic tables**: everything goes through
  ``spark.read.format(fmt)`` / ``df.write.format(fmt)``; ``fmt`` is
  "parquet" in this sandbox and "iceberg" on a real cluster (same API;
  Iceberg additionally gives snapshot ids — passed in as
  ``snapshot_id`` — and atomic commits).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from webx.config import ExtractConfig
from webx.pipeline import run_extraction
from webx.schema import LINEAGE_SCHEMA

PARTITION_COL = "partition_id"


def snapshot_id_for_path(path: str) -> str:
    """Deterministic stand-in for an Iceberg snapshot id in
    parquet/local mode: hash of the sorted (name, size, mtime_ns) data
    file listing. A silently regenerated input MUST look like a NEW
    snapshot — partitions completed against other bytes may not be
    skipped by resume. On a real Iceberg table pass
    ``table.currentSnapshot().snapshotId()`` instead; this helper exists
    so parquet-mode lineage rows carry a value derived from the actual
    input rather than an arbitrary caller string."""
    import hashlib
    import os

    h = hashlib.sha256()
    if os.path.isdir(path):
        for nm in sorted(os.listdir(path)):
            if nm.startswith((".", "_")):  # _SUCCESS / .crc markers
                continue
            st = os.stat(os.path.join(path, nm))
            h.update(f"{nm}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    else:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return "fs-" + h.hexdigest()[:16]


def with_partition_id(pages: DataFrame, n_partitions: int) -> DataFrame:
    """Stable content-addressed logical partition id from the url."""
    return pages.withColumn(
        PARTITION_COL,
        F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int"),
    )


@dataclass
class CheckpointStore:
    """Lineage/checkpoint table accessor (LINEAGE_SCHEMA rows)."""

    path: str
    fmt: str = "parquet"

    def read(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.format(self.fmt).schema(LINEAGE_SCHEMA).load(self.path)
        except Exception:  # first run: table does not exist yet
            return spark.createDataFrame([], LINEAGE_SCHEMA)

    def completed_partitions(
        self, spark: SparkSession, run_id: str, snapshot_id: str
    ) -> List[int]:
        df = self.read(spark)
        rows = (
            df.filter(
                (F.col("run_id") == run_id)
                & (F.col("input_snapshot_id") == snapshot_id)
                & (F.col("status") == "done")
            )
            .select("partition_id")
            .distinct()
            .collect()
        )
        return sorted(r["partition_id"] for r in rows)

    def append(self, rows_df: DataFrame) -> None:
        rows_df.write.format(self.fmt).mode("append").save(self.path)


def _chunk_metrics(
    committed: DataFrame,
    run_id: str,
    snapshot_id: str,
) -> DataFrame:
    """One LINEAGE_SCHEMA row per logical partition of the committed
    output (columns: partition_id, status, html_bytes, n_spans)."""
    ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    return (
        committed.groupBy(PARTITION_COL)
        .agg(
            F.count("*").alias("row_count"),
            F.sum((F.col("status") == "ok").cast("long")).alias("ok_count"),
            F.sum((F.col("status") != "ok").cast("long")).alias("err_count"),
            F.sum("html_bytes").alias("bytes_in"),
            F.sum(F.col("n_spans").cast("long")).alias("spans_out"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).alias("input_snapshot_id"),
            F.col(PARTITION_COL),
            "row_count",
            "ok_count",
            "err_count",
            "bytes_in",
            "spans_out",
            F.lit("done").alias("status"),
            F.lit(ts).alias("ts"),
        )
    )


def run_checkpointed_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    checkpoint: CheckpointStore,
    run_id: str,
    snapshot_id: str,
    cfg: Optional[ExtractConfig] = None,
    n_partitions: int = 64,
    chunk_size: int = 16,
    max_chunks: Optional[int] = None,
    output_fmt: str = "parquet",
    extract_fn=None,
) -> List[int]:
    """Resumable extraction: skip partitions the checkpoint marks done,
    process the rest in chunks, commit output-then-lineage per chunk.

    ``max_chunks`` bounds the number of chunks processed this call (test
    hook: simulates a killed run). Returns the partition ids processed.

    ``extract_fn(subset, cfg, passthrough) -> DataFrame`` makes the
    runner lane-generic: the default is the HTML ``run_extraction``;
    mixed corpora plug in ``webx.route.checkpointed_routed_extract_fn``.
    The contract output columns are (url, text, conf, status, spans,
    meta.html_bytes) plus the passthrough columns."""
    cfg = cfg or ExtractConfig()
    # dynamic overwrite is required for idempotent per-partition retries,
    # but it must not leak into unrelated writes in the same session —
    # save the prior value and restore it on exit
    _OVR = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(_OVR, None)
    spark.conf.set(_OVR, "dynamic")
    try:
        return _run_checkpointed_chunks(
            spark, pages, output_path, checkpoint, run_id, snapshot_id,
            cfg, n_partitions, chunk_size, max_chunks, output_fmt,
            extract_fn or run_extraction,
        )
    finally:
        if prev_mode is None:
            spark.conf.unset(_OVR)
        else:
            spark.conf.set(_OVR, prev_mode)


def _run_checkpointed_chunks(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    checkpoint: CheckpointStore,
    run_id: str,
    snapshot_id: str,
    cfg: ExtractConfig,
    n_partitions: int,
    chunk_size: int,
    max_chunks: Optional[int],
    output_fmt: str,
    extract_fn,
) -> List[int]:
    done = set(checkpoint.completed_partitions(spark, run_id, snapshot_id))
    todo = [p for p in range(n_partitions) if p not in done]
    if not todo:
        return []

    pages_pid = with_partition_id(pages, n_partitions)
    processed: List[int] = []
    chunks = [todo[i : i + chunk_size] for i in range(0, len(todo), chunk_size)]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]

    for chunk in chunks:
        subset = pages_pid.filter(F.col(PARTITION_COL).isin(chunk))
        extracted = extract_fn(subset, cfg, (PARTITION_COL,))
        # contract columns are reshaped for the sink; anything ELSE the
        # lane returned (e.g. the routed lane's kind/width/height/
        # sample_rate/duration_ms) rides through unchanged — the HTML
        # and PDF lanes return no extras, so their output is identical
        contract = {"url", "text", "conf", "status", "spans", "meta",
                    PARTITION_COL}
        extras = [c for c in extracted.columns if c not in contract]
        out = extracted.select(
            "url",
            "text",
            "conf",
            "status",
            F.to_json("spans").alias("spans_json"),
            F.col("meta.html_bytes").alias("html_bytes"),
            F.size("spans").alias("n_spans"),
            *extras,
            PARTITION_COL,
        )
        # 1) durable output first (dynamic overwrite -> idempotent retry)
        (
            out.write.format(output_fmt)
            .mode("overwrite")
            .partitionBy(PARTITION_COL)
            .save(output_path)
        )
        # 2) lineage rows only after the output commit succeeded; metrics
        #    are computed from the committed files (never a recompute of
        #    the extraction itself)
        committed = (
            spark.read.format(output_fmt)
            .load(output_path)
            .filter(F.col(PARTITION_COL).isin(chunk))
            .select(PARTITION_COL, "status", "html_bytes", "n_spans")
        )
        checkpoint.append(_chunk_metrics(committed, run_id, snapshot_id))
        processed.extend(chunk)
    return processed


# ---------------------------------------------------------------------------
# Snapshot-level incremental operators. A crawl pipeline re-runs against a
# NEW Iceberg snapshot of the pages table; these answer "what changed" and
# "which capture wins" without reprocessing the unchanged 99%.


def latest_capture(
    pages: DataFrame, key: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """One row per ``key``: the capture with the greatest ``ts_col``.

    The crawl-recency discipline (CDX collapse / Iceberg MERGE-upsert
    semantics): a url recrawled k times keeps only its newest capture.
    Single hash-agg shuffle on the key — ``max_by`` carries the whole row
    through the partial/final aggregate, so there is no second join back
    and no window sort. Ties (same timestamp) are broken deterministically
    by the greater remaining-struct value so re-runs are stable.
    """
    others = [c for c in pages.columns if c != key]
    picked = F.max_by(
        F.struct(*[F.col(c) for c in others]),
        F.struct(F.col(ts_col), *[F.col(c) for c in others if c != ts_col]),
    )
    return (
        pages.groupBy(key)
        .agg(picked.alias("_latest"))
        .select(key, *[F.col(f"_latest.{c}").alias(c) for c in others])
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "url",
    fingerprint: str = "text",
) -> DataFrame:
    """Per-key change status between two snapshots of the same table:
    ``added`` / ``deleted`` / ``changed`` / ``unchanged``.

    The incremental-processing primitive: downstream stages re-run on
    ``status IN ('added','changed')`` only. One full-outer shuffle join on
    the key; both sides are projected to (key, fingerprint) FIRST so the
    exchange moves two columns, not whole pages — at crawl scale the
    fingerprint should be a precomputed content hash, which this accepts
    as-is (any comparable column works).
    """
    o = old.select(F.col(key).alias("_k"), F.col(fingerprint).alias("_old_fp"))
    n = new.select(F.col(key).alias("_k"), F.col(fingerprint).alias("_new_fp"))
    status = (
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("deleted"))
        .when(F.col("_old_fp") == F.col("_new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, on="_k", how="full_outer").select(
        F.col("_k").alias(key), status.alias("status")
    )


def incremental_extract(
    old_pages: DataFrame,
    new_pages: DataFrame,
    prev_extracted: DataFrame,
    cfg=None,
    extract_fn=None,
):
    """Extract a NEW snapshot by reprocessing only what changed.

    ``snapshot_diff`` on an ``xxhash64(html)`` content fingerprint splits
    the new snapshot into added/changed (re-extract) vs unchanged (carry
    the previous run's rows forward untouched — byte-identical by
    construction, since extraction is a pure function of html). Deleted
    urls drop out on both paths.

    Returns ``(result, diff)``: the full extracted frame for the new
    snapshot, plus the per-url status frame (the funnel report /
    lineage record). Cost at crawl scale: one narrow fingerprint diff
    (url + 8-byte hash through the exchange), one url-key semi join per
    side, and extraction proportional to the CHANGED fraction — on a
    typical recrawl that is a few percent of a full run. With real
    Iceberg changelog scans the diff stage is read for free; this is the
    storage-agnostic formulation.
    """
    from webx.pipeline import run_extraction

    def _fp(df):
        return df.select(F.col("url"), F.xxhash64("html").alias("_fp"))

    diff = snapshot_diff(_fp(old_pages), _fp(new_pages), key="url", fingerprint="_fp")
    redo_urls = diff.filter(F.col("status").isin("added", "changed")).select("url")
    keep_urls = diff.filter(F.col("status") == "unchanged").select("url")

    fresh = (extract_fn or run_extraction)(
        new_pages.join(redo_urls, "url", "semi"), cfg
    )
    carried = prev_extracted.join(keep_urls, "url", "semi")
    # A stored previous output may have shed columns (e.g. the meta
    # struct serialized away); the merged schema is the INTERSECTION, in
    # the extractor's column order.
    common = [c for c in fresh.columns if c in set(carried.columns)]
    return fresh.select(*common).unionByName(carried.select(*common)), diff
