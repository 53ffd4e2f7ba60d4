"""Streaming windowed aggregation: watermarked tumbling-hour rollup.

The BUILT-IN stateful streaming operator (groupBy(window(...)) + agg in
append mode), complementing the custom applyInPandasWithState
sessionizer in sessions.py.  Append mode emits a window only once the
event-time watermark passes window end + delay, so results are final --
late events inside the tolerance merge before emission, later ones are
dropped by Spark.

``hourly_rollup_complete`` drives the stream over a finite event set to
completeness with the same clock-event trick as
sessions.sessionize_events_complete: one synthetic far-future row pushes
the final watermark past every real window, so the streamed append
output equals the batch aggregation of the real events exactly -- an
oracle-checkable streaming result.  (The clock row's own window is never
closed by the watermark, so it is never emitted -- no filtering needed.)

Distinct-count note: count_distinct is not supported inside streaming
aggregations (unbounded per-group state); the rollup uses only
order-independent, bounded-state aggregates (count/min/max).  A distinct
approximation at scale would be approx_count_distinct or the KMV sketch
from operators/sketches.py maintained via the sessionizer pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_rollup_stream(
    events_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling 1-hour windows per event_type, append mode semantics."""
    stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark)
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("events"),
            F.round(F.min("value"), 8).alias("min_value"),
            F.round(F.max("value"), 8).alias("max_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "events",
            "min_value",
            "max_value",
        )
    )


def distinct_users_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup on user_id (dropDuplicates state store).

    The third stateful-streaming family after the custom sessionizer and
    the windowed rollup: per-key dedup state.  On an unbounded stream
    the state must be bounded -- use
    ``withWatermark(...).dropDuplicatesWithinWatermark(...)`` so keys
    age out; for the finite-input completion harness below plain
    dropDuplicates is exact and the streamed distinct set equals the
    batch DISTINCT (the emitted row per key is the first seen, so only
    the key column is projected -- deterministic regardless of arrival
    order)."""
    return events_stream.select("user_id").dropDuplicates(["user_id"])


def distinct_users_complete(
    spark,
    events: DataFrame,
    query_name: str = "distinct_users_complete",
) -> DataFrame:
    """Run the streaming dedup over a finite event set (shared harness;
    no clock event needed -- dropDuplicates emits on first sight,
    nothing waits on the watermark)."""
    from .harness import run_finite_stream

    return run_finite_stream(
        spark,
        [events.select("user_id", "ts", "event_type", "value")],
        distinct_users_stream,
        query_name,
    )


def hourly_rollup_complete(
    spark,
    events: DataFrame,
    query_name: str = "hourly_rollup_complete",
) -> DataFrame:
    """Run the streaming rollup over a finite event set and emit EVERY
    real window (see module docstring; staged via the shared
    single-batch harness)."""
    from .harness import clock_horizon, run_finite_stream, with_clock_events

    _last, clock = clock_horizon(events)
    staged = with_clock_events(
        events, spark.createDataFrame([(-1,)], "user_id long"), clock
    )
    return run_finite_stream(
        spark, [staged], hourly_rollup_stream, query_name
    )
