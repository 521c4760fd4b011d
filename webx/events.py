"""Event-stream operators over the events table.

``sessionize`` is the classic gap-based session assignment as pure window
functions (lag → new-session flag → running sum → per-session agg) — all
JVM-side, one shuffle on ``user_id``. The reference has no event ops;
this is part of the training-data-pipeline surface the engine serves
(activity sessionization, rate metrics) and exercises the window-function
operator family (SURVEY §2.5 "ranking/analytic: available if needed").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """→ (user_id, session_id, session_start, session_end, n_events,
    sum_cents): a new session starts when the gap since the previous
    event of the same user exceeds ``gap_minutes``.

    Deterministic under timestamp ties: a zero gap never opens a session,
    and every aggregate is order-insensitive."""
    w = Window.partitionBy("user_id").orderBy("ts")
    prev_ts = F.lag("ts").over(w)
    # TIMESTAMP_NTZ → epoch seconds needs the ltz hop in Spark 4; session
    # timezone is UTC so the epoch matches DuckDB's epoch() on naive ts
    def _epoch(c):
        return c.cast("timestamp_ltz").cast("long")

    new_sess = (
        prev_ts.isNull() | ((_epoch(F.col("ts")) - _epoch(prev_ts)) > gap_minutes * 60)
    ).cast("long")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_sess = events.withColumn("session_id", F.sum(new_sess).over(run))
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )


def user_rollup(events: DataFrame) -> DataFrame:
    """Per-user lifetime totals: event count and summed cents."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )
