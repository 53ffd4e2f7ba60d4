"""Custom stateful streaming operator: event sessionization.

Beyond the extraction pipeline (which is stateless per document), a
training-data platform ingests interaction/event streams.  This module
sessionizes an event stream with ``applyInPandasWithState``: events for a
user belong to one session until a gap larger than ``gap`` passes; the
state survives across micro-batches and sessions are emitted when they
time out.

Batch shape (same grouping semantics, no state machinery needed) is
provided by ``sessionize_batch`` for verification: for a static input the
streaming operator must emit exactly the sessions the batch computation
derives with window functions.
"""

from __future__ import annotations

from typing import Any, Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("events", IntegerType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("events", IntegerType()),
    ]
)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization with window functions (the verification shape).

    session boundary = gap since previous event of the same user exceeds
    ``gap_minutes``; classic lag + running-sum-of-boundaries.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    with_prev = events.withColumn("prev_ts", F.lag("ts").over(w))
    # parquet TIMESTAMP_NTZ needs a cast before unix_micros; the session
    # runs UTC so the NTZ->LTZ cast preserves the wall-clock epoch
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    boundary = (
        F.col("prev_ts").isNull() | (us("ts") - us("prev_ts") > gap_us)
    ).cast("int")
    with_session = with_prev.withColumn(
        "session_idx", F.sum(boundary).over(w)
    )
    return with_session.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").cast("int").alias("events"),
    ).drop("session_idx")


def sessionize_stream(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState (event time).

    Per-user state carries (start_us, last_us, count); a micro-batch
    extends the open session or closes it on gap.  The open session is
    emitted when its event-time timeout fires: ``EventTimeTimeout`` with
    the timeout timestamp set to ``last_event + gap``, so a session
    closes exactly when the *watermark* (not the wall clock) passes the
    gap -- late events cannot resurrect a closed session, and events
    later than the watermark are dropped by Spark before the operator.

    ``watermark`` is the lateness tolerance (default: the gap itself).
    Out-of-order events *within* tolerance are handled: each batch is
    sorted, and an event older than the open session's end merges into
    it (extending ``session_start`` backward if needed) rather than
    corrupting the gap arithmetic.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1_000
    if watermark is None:
        watermark = f"{gap_minutes} minutes"

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        user_id = key[0]
        batches = [p for p in pdfs if len(p)]
        out = []
        if batches:
            rows = pd.concat(batches)
            ts_us = (
                pd.to_datetime(rows["ts"])
                .astype("datetime64[ns]")
                .astype("int64")
                // 1_000
            ).sort_values().tolist()
            if state.exists:
                start_us, last_us, count = state.get
            else:
                start_us, last_us, count = ts_us[0], ts_us[0], 0
            for t in ts_us:
                if count and t - last_us > gap_us:
                    out.append((user_id, start_us, last_us, count))
                    start_us, last_us, count = t, t, 0
                # a late-but-tolerated event (t <= last_us) merges into
                # the open session instead of shifting its end backward
                start_us = min(start_us, t)
                last_us = max(last_us, t)
                count += 1
            state.update((start_us, last_us, count))
            state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        elif state.hasTimedOut and state.exists:
            start_us, last_us, count = state.get
            out.append((user_id, start_us, last_us, count))
            state.remove()
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": pd.to_datetime(
                        [o[1] for o in out], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [o[2] for o in out], unit="us"
                    ),
                    "events": [o[3] for o in out],
                }
            )

    # EventTimeTimeout requires a watermark; NTZ parquet timestamps need
    # the LTZ cast first (session runs UTC, wall-clock epoch preserved)
    stream = events_stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", watermark)
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def sessionize_events_complete(
    spark,
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Run the STREAMING sessionizer over a finite event set and emit
    EVERY real session -- an oracle-checkable streaming result.

    The append-mode stream only emits a session once the event-time
    watermark passes its end + gap, so a finite input normally leaves
    each user's last session open in state.  Appending one synthetic
    "clock" event per user far past the real horizon (a) closes every
    real session by gap and (b) pushes the final watermark far enough
    that all their timeouts fire in the post-batch no-data microbatch.
    The clock sessions themselves stay open and are never emitted, so
    the streamed output equals the batch sessionization of the real
    events exactly -- which is what the DuckDB oracle computes.

    SINGLE-BATCH ASSUMPTION: the clock trick is only sound if no real
    event is read *after* a clock event has advanced the watermark (it
    would be dropped as late).  The staged input is therefore coalesced
    to ONE parquet file, which the file source necessarily admits in one
    micro-batch; callers re-staging the input themselves must not set
    maxFilesPerTrigger / split the files.  (The general operator
    ``sessionize_stream`` has no such assumption -- this helper is the
    finite-input completion harness.)
    """
    from .harness import clock_horizon, run_finite_stream, with_clock_events

    _last, clock = clock_horizon(events)
    # the shared harness stages ONE file => ONE micro-batch: a
    # multi-file stage could admit clock rows before real events, jump
    # the watermark past them and silently drop the rest as late
    staged = with_clock_events(
        events, events.select("user_id").distinct(), clock
    )
    return run_finite_stream(
        spark,
        [staged],
        lambda s: sessionize_stream(s, gap_minutes=gap_minutes),
    )
