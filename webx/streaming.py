"""Structured Streaming variant of the extraction pipeline.

The reference is batch-only (SURVEY.md §2.10) — its "streaming" is
bounded producer/consumer queues in the multiprocess runtime
(deploy/py_infer/src/parallel/framework/module_manager.py:89-93). We add
the real thing on top of the same stage functions: ``readStream`` over
the input table → the identical fused ``mapInArrow`` extractor →
``writeStream`` with exactly-once file-sink semantics. Incremental
ingestion of new crawl files therefore reuses byte-identical extraction
logic; ``Trigger.AvailableNow`` drains the backlog and stops (the
batch-parity mode used by tests), while a live deployment runs the same
query unbounded. No watermarks needed — extraction is stateless per row.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from webx.config import ExtractConfig
from webx.extract import make_extract_fn
from webx.schema import PAGES_SCHEMA, extracted_schema


def read_pages_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def extract_stream(pages: DataFrame, cfg: Optional[ExtractConfig] = None) -> DataFrame:
    """Same fused extractor as batch ``run_extraction`` on a streaming DF
    (stateless mapInArrow — no shuffle, no state store)."""
    cfg = cfg or ExtractConfig()
    df = pages.select("url", "html")
    return df.mapInArrow(make_extract_fn(cfg, ()), schema=extracted_schema())


def run_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: Optional[ExtractConfig] = None,
    available_now: bool = True,
):
    """Drain ``input_path`` (parquet dir) → extracted parquet at
    ``output_path``; file-source + checkpoint give exactly-once per input
    file, so re-runs only process files added since the last drain."""
    pages = read_pages_stream(spark, input_path)
    extracted = extract_stream(pages, cfg).select(
        "url", "text", "conf", "status", F.to_json("spans").alias("spans_json")
    )
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_mixed_stream(captures: DataFrame, cfg: Optional[ExtractConfig] = None) -> DataFrame:
    """Streaming twin of webx.route.extract_mixed: the same magic-byte
    routed batch function on a streaming (url, payload) frame —
    stateless mapInPandas, no shuffle, no state store; batch parity
    asserted in tests/test_media_streaming.py."""
    from webx.route import ROUTED_SCHEMA, _routed_batch

    cfg = cfg or ExtractConfig()

    def fn(batches):
        for pdf in batches:
            yield _routed_batch(pdf, cfg)

    return captures.select("url", "payload").mapInPandas(fn, schema=ROUTED_SCHEMA)


# ---------------------------------------------- custom stateful operators

SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),  # epoch seconds
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)
_SESS_STATE = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _make_sessionize_update(gap_seconds: int):
    def update(key, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            start, last, n, cents = state.get
        else:
            start = None
        closed = []
        rows = []
        for pdf in pdfs:
            ts = (pdf["ts"].astype("datetime64[s]").astype("int64")).to_numpy()
            cv = np.floor(pdf["value"].to_numpy(dtype="float64") * 100).astype("int64")
            rows.append(np.stack([ts, cv], axis=1))
        if rows:
            ev = np.concatenate(rows)
            ev = ev[np.argsort(ev[:, 0], kind="stable")]
            for ts, c in ev:
                if start is None:
                    start, last, n, cents = int(ts), int(ts), 1, int(c)
                elif ts - last > gap_seconds:
                    closed.append((key[0], start, last, n, cents))
                    start, last, n, cents = int(ts), int(ts), 1, int(c)
                else:
                    last, n, cents = int(ts), n + 1, cents + int(c)
        if start is not None:
            state.update((start, last, n, cents))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events", "sum_cents"],
        )

    return update


def sessionize_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gap_minutes: int = 30,
):
    """Streaming gap sessionization via ``applyInPandasWithState``: per
    user, fold events in event-time order; a gap > ``gap_minutes`` closes
    and EMITS the finished session (epoch-second bounds); the open
    session survives in state across triggers and restarts.

    Assumes per-user event-time order across triggers (true for
    append-only crawl/event logs drained in file order); a production
    deployment with genuinely late data would add a watermark + event
    time timeout. Batch twin: webx.events.sessionize."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(input_path)
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_update(gap_minutes * 60),
        outputStructType=SESSIONS_SCHEMA,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------------------- custom stateful operator

COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)


def _update_counts(key, pdfs, state: GroupState):
    """applyInPandasWithState update fn: fold this trigger's events into
    the per-user running totals, emit the new totals."""
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # floor(value*100) matches the batch twin exactly (F.floor)
        cents += int(np.floor(pdf["value"].to_numpy(dtype="float64") * 100).sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]})


def running_user_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
):
    """Stateful streaming per-user totals via ``applyInPandasWithState``
    (the custom-stateful-operator surface): state survives across
    triggers AND across restarts via the checkpoint — each AvailableNow
    drain folds only new files into the persisted totals. Batch twin for
    parity checks: webx.events.user_rollup."""
    ev = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(input_path)
    )
    counts = ev.groupBy("user_id").applyInPandasWithState(
        _update_counts,
        outputStructType=COUNTS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",  # file sinks are append-only
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    pages: DataFrame,
    key_cols: tuple = ("fp",),
    fingerprint_col: str = "html",
    watermark: tuple = None,
) -> DataFrame:
    """Streaming exact dedup: keep ONE occurrence of each content
    fingerprint — the streaming twin of webx.dedup.exact_dedup, for
    continuous crawl ingestion where the same page recurs across
    snapshots. ACROSS micro-batches the survivor is the first-arriving
    batch's row (later batches' duplicates are dropped via state);
    WITHIN a micro-batch ``dropDuplicates`` keeps an arbitrary row per
    key — unlike the batch twin's deterministic ``min(doc_id)``
    tie-break. If intra-batch determinism matters, pre-aggregate the
    batch (e.g. ``min_by`` per fp) before this operator.

    State is the seen-fingerprint set in the state store, keyed by
    ``md5(fingerprint_col)``. Unbounded streams MUST pass ``watermark``
    as ``(event_time_col, delay)`` — that switches to
    ``dropDuplicatesWithinWatermark`` so state ages out; without it the
    seen-set grows forever (fine for bounded AvailableNow drains, the
    test mode; a crawl snapshot ingest is exactly that)."""
    with_fp = pages.withColumn(
        "fp", F.md5(F.col(fingerprint_col).cast("binary"))
    )
    if watermark is not None:
        col, delay = watermark
        return with_fp.withWatermark(col, delay).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return with_fp.dropDuplicates(list(key_cols))


def host_rate_windows(
    pages: DataFrame,
    window_duration: str = "5 minutes",
    watermark_delay: str = "10 minutes",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Watermarked tumbling-window crawl monitor: docs and HTML bytes
    per (event-time window, host) → (window_start, window_end, host,
    n_docs, n_bytes). The late-data story the brief's §streaming bullet
    names: events later than ``watermark_delay`` behind the max seen
    event time are DROPPED (their window has already finalized and its
    state aged out) — append mode emits each window exactly once, when
    the watermark passes its end. Works identically on a batch frame
    (windows emit immediately, nothing is late) — the parity twin the
    tests compare against."""
    from webx.urls import host

    src = pages.select(
        F.col(ts_col).alias("ts"), host(F.col("url")).alias("host"),
        F.octet_length("html").alias("nb"),
    )
    if src.isStreaming:
        src = src.withWatermark("ts", watermark_delay)
    return (
        src.groupBy(F.window("ts", window_duration).alias("w"), "host")
        .agg(F.count("*").alias("n_docs"), F.sum("nb").alias("n_bytes"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_docs",
            "n_bytes",
        )
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def enrich_stream(events: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    STATIC dim snapshot broadcast to executors — stateless (no state
    store, no watermark), the workhorse production streaming join
    (event → user/host attributes). The dim side re-reads per batch if
    it is a live table, so slowly-changing dims pick up updates between
    micro-batches for free."""
    return events.join(F.broadcast(dim), key, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_delay: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream INNER join: pair each left event with
    right events for the same key that happened within
    (left.ts − max_delay, left.ts] — e.g. "purchase within 30 min of a
    view". Both sides carry a watermark and the join condition bounds
    the time skew, so Spark can age buffered state out instead of
    holding both streams forever (the unbounded-state trap of a naive
    stream join). State per key is O(events inside the delay window).
    Output: (key, left event_id/ts, right event_id/ts)."""
    l = (
        left.withWatermark("ts", watermark_delay)
        .select(
            F.col(key).alias("k"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withWatermark("ts", watermark_delay)
        .select(
            F.col(key).alias("rk"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    cond = (
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner").select(
        F.col("k").alias(key), "l_id", "l_ts", "r_id", "r_ts"
    )


def upsert_drain(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    checkpoint_path: str,
    key: str = "url",
    ts_col: str = "warc_ts",
    schema: str = PAGES_SCHEMA,
) -> None:
    """Streaming MERGE-analog via ``foreachBatch``: drain new input
    files and fold each micro-batch into a latest-per-key state table
    (webx.lineage.latest_capture semantics — Iceberg MERGE upsert on a
    plain-parquet state dir). Each batch: read current state, union the
    batch, keep the newest row per key, write to a temp sibling, atomic
    rename swap. The fold is IDEMPOTENT (latest-per-key of a replayed
    batch is a no-op), so the at-least-once replay window after a crash
    between the swap and the checkpoint commit still converges to
    exactly-once state — the standard foreachBatch contract: make the
    batch effect idempotent, let the source checkpoint handle delivery.

    State rewrite cost is O(state) per drain; on a real lakehouse the
    same callback body is ``MERGE INTO`` and pays only the touched
    partitions. Drains with ``availableNow`` and blocks until done."""
    import os
    import shutil

    from webx.lineage import latest_capture

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        b = latest_capture(batch_df, key=key, ts_col=ts_col)
        if os.path.exists(state_path):
            cur = spark.read.parquet(state_path)
            merged = latest_capture(
                cur.unionByName(b.select(*cur.columns)), key=key, ts_col=ts_col
            )
        else:
            merged = b
        tmp = state_path.rstrip("/") + ".swap_tmp"
        old = state_path.rstrip("/") + ".swap_old"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(state_path):
            os.rename(state_path, old)
        os.rename(tmp, state_path)
        shutil.rmtree(old, ignore_errors=True)

    reader = spark.readStream.schema(schema).parquet(input_path)
    q = (
        reader.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_RL_STATE = "last_us long, tokens double"
_RL_OUT = (
    "host string, url string, ts timestamp, admitted int, tokens_after double"
)


def _make_rate_limit_update(rate_per_sec: float, burst: float):
    def update(key, pdfs, state: GroupState):
        last_us, tokens = state.get if state.exists else (None, float(burst))
        rows = pd.concat(list(pdfs)).sort_values(["ts", "url"])
        out = []
        for _, r in rows.iterrows():
            us = int(r["ts"].value // 1000)  # pandas ns -> µs
            if last_us is not None and us > last_us:
                tokens = min(
                    float(burst), tokens + (us - last_us) / 1e6 * rate_per_sec
                )
            last_us = us if last_us is None else max(last_us, us)
            admitted = 1 if tokens >= 1.0 else 0
            if admitted:
                tokens -= 1.0
            out.append((key[0], r["url"], r["ts"], admitted, tokens))
        state.update((last_us, tokens))
        yield pd.DataFrame(
            out, columns=["host", "url", "ts", "admitted", "tokens_after"]
        )

    return update


def rate_limit_stream(
    hosts_urls: DataFrame,
    rate_per_sec: float = 1.0,
    burst: float = 2.0,
) -> DataFrame:
    """Per-host token-bucket admission over a stream of fetch
    candidates (host, url, ts): tokens refill at ``rate_per_sec`` up
    to ``burst``; each candidate consumes one or is rejected — the
    crawler-politeness rate limiter as a custom STATEFUL streaming
    operator (`applyInPandasWithState`). Bucket level persists across
    micro-batches AND restarts via the checkpoint, so a resumed drain
    cannot burst past the budget the previous drain already spent —
    the property a stateless per-batch limiter cannot give. Rows
    process in (ts, url) order within a host; state is two numbers
    per host."""
    return hosts_urls.groupBy("host").applyInPandasWithState(
        _make_rate_limit_update(rate_per_sec, burst),
        outputStructType=_RL_OUT,
        stateStructType=_RL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
