"""Finite-input streaming completion harness, shared by every
streamed-vs-oracle query (sessions, windowed rollup, dedup, joins).

Stages each finite input DataFrame as ONE parquet file and runs the
stream over them with Trigger.AvailableNow into a memory sink.  The single file is
load-bearing: the file source admits one file's rows atomically, so
exactly one micro-batch sees all data -- a multi-file stage could admit
watermark-advancing rows (the far-future clock events the completion
tricks append) BEFORE real events, jumping the watermark and silently
dropping the rest as late.  Centralizing the staging keeps that
invariant in one place instead of one copy per streaming operator.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from datetime import datetime
from typing import Callable, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: clock rows sit this many days past the last real event
CLOCK_DAYS = 10


@contextlib.contextmanager
def _state_partitions(spark):
    """Pin the stream's state-store partition count for the query run.

    A streaming query creates one state store instance per shuffle
    partition PER stateful operator (a stream-stream join keeps four),
    and every micro-batch commits a delta file per instance -- so the
    partition count should track STATE VOLUME, not the batch session's
    core count.  ``spark.html2text.stream.statePartitions`` overrides it
    (a deployment with large keyed state raises it); the default of 8
    fits the finite harness's per-group state at any tested SF (state
    rows ~ |groups|, not |rows|).  Measured 32 -> 8 at sf0.1: the LEFT
    OUTER interval join drops ~30% wall from state-commit overhead
    alone.  Restored after the query finishes (the value is only read
    at stream start).
    """
    conf = spark.conf
    target = conf.get("spark.html2text.stream.statePartitions", "8")
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", target)
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)


def run_finite_stream(
    spark,
    inputs: Sequence[DataFrame],
    stream_fn: Callable[..., DataFrame],
    query_name: str,
    output_mode: str = "append",
) -> DataFrame:
    """Stage each of ``inputs`` as ONE parquet file, apply ``stream_fn``
    to one readStream per input (in order), drain with availableNow into
    memory sink ``query_name`` and return the resulting table.

    With several inputs (stream-stream joins) each side is its own file,
    so the first micro-batch admits every side's rows atomically."""
    stage_dir = tempfile.mkdtemp(prefix="h2t_stream_")
    try:
        streams = []
        for i, staged in enumerate(inputs):
            in_dir = os.path.join(stage_dir, str(i))
            staged.coalesce(1).write.mode("overwrite").parquet(in_dir)
            streams.append(
                spark.readStream.schema(
                    spark.read.parquet(in_dir).schema
                ).parquet(in_dir)
            )
        with _state_partitions(spark):
            q = (
                stream_fn(*streams)
                .writeStream.format("memory")
                .queryName(query_name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        # the memory sink holds the rows; the staged input is
        # disposable -- removed even when the query fails, so
        # repeated failing runs can't accumulate corpus copies
        shutil.rmtree(stage_dir, ignore_errors=True)
    return spark.table(query_name)


def clock_horizon(events: DataFrame) -> Tuple[datetime, datetime]:
    """(last real event time, clock time ``CLOCK_DAYS`` later) of an
    event table with a ``ts`` column, in one aggregation.

    Completion harnesses append clock rows at the clock time: far enough
    past every real event that the watermark they push closes every real
    window, session and interval."""
    last = F.max(F.col("ts").cast("timestamp"))
    row = events.agg(
        last, F.timestamp_add("DAY", F.lit(CLOCK_DAYS), last)
    ).collect()[0]
    return row[0], row[1]


def with_clock_events(
    events: DataFrame, users: DataFrame, clock: datetime
) -> DataFrame:
    """``events`` as (user_id, ts, event_type, value) plus one
    ``__clock__`` event at ``clock`` per row of ``users`` (user_id)."""
    cols = ["user_id", "ts", "event_type", "value"]
    clock_rows = users.select(
        "user_id",
        F.lit(clock).alias("ts"),
        F.lit("__clock__").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    return events.select(*cols).unionAll(clock_rows)
