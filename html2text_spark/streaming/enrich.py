"""Stream-static join enrichment: the FOURTH streaming family.

A streaming fact (events) inner-joined with a static dimension
(customer market segments) is the canonical Structured Streaming
enrichment shape: Spark re-plans the static side per micro-batch (so a
dimension refresh is picked up between batches) and broadcasts it when
small -- no state store is involved in the join itself; the watermarked
window aggregate downstream carries the only state.

Completion harness: same far-future clock trick as
windows.hourly_rollup_complete.  The clock row's user_id (-1) matches no
customer, so the inner join drops it -- but the WATERMARK node sits
before the join, so the clock still advances event time past every real
window and the streamed append output equals the batch join+rollup
exactly (oracle-checkable in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def segment_rollup_stream(
    events_stream: DataFrame,
    customer_dim: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-hour event counts per customer market segment: stream
    |x| static broadcast dim -> watermarked window agg, append mode."""
    stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark)
    dim = customer_dim.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.join(F.broadcast(dim), "user_id")
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(
            F.count("*").alias("events"),
            F.round(F.min("value"), 8).alias("min_value"),
            F.round(F.max("value"), 8).alias("max_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            F.col("c_mktsegment").alias("segment"),
            "events",
            "min_value",
            "max_value",
        )
    )


def segment_rollup_complete(
    spark, events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Run the stream-static rollup over a finite event set and emit
    every real window (clock row matches no customer; see module
    docstring)."""
    from .harness import clock_horizon, run_finite_stream, with_clock_events

    _last, clock = clock_horizon(events)
    staged = with_clock_events(
        events, spark.createDataFrame([(-1,)], "user_id long"), clock
    )
    return run_finite_stream(
        spark,
        [staged],
        lambda s: segment_rollup_stream(s, customer),
    )
