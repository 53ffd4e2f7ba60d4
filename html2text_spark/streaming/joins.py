"""Stream-stream interval join: view -> click attribution.

The FIFTH and SIXTH streaming operator families in the suite (after
the custom sessionizer, the built-in windowed rollup, dropDuplicates
dedup, and the stream-static enrichment join): watermarked
STREAM-STREAM joins -- inner (emit on match) and LEFT OUTER (emit the
null extension only once the watermark proves no match can arrive) --
the Structured Streaming surface that buffers BOTH sides in the state
store and needs an event-time range condition to bound that state.

Semantics (ad-attribution shape): pair every click with every view by
the same user that happened within the preceding ``window_minutes``
(``view_ts <= click_ts < view_ts + window``).  At 100 TB this is the
canonical impression x conversion join:

* Both sides carry ``withWatermark`` and the join condition is an
  event-time RANGE, so Spark derives a state-eviction bound for each
  side (a view older than watermark - window can never match a future
  click and is dropped from the state store) -- without the range
  condition the join state grows without bound and the query is
  rejected for append mode.
* Inner join results emit EAGERLY (as soon as a match is seen), so a
  finite run drains completely under Trigger.AvailableNow with no
  clock-event trick; the streamed output equals the batch join exactly
  and the DuckDB oracle can hash-verify it.
* The equality key (user_id) is the shuffle key; the range condition
  is evaluated post-shuffle per key.  Skewed users bound state by
  window width, not corpus size.

``attribution_join_complete`` stages each side as one file (see
harness.run_finite_stream for why single-file staging is
load-bearing) and returns the drained memory-sink table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_join_stream(
    views: DataFrame,
    clicks: DataFrame,
    window_minutes: int = 120,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join of two event streams.

    Both inputs are raw event streams with (event_id, ts, user_id)
    columns; the caller pre-filters by event_type.  The watermark delay
    equals the join window: a view is kept in state until the click
    watermark passes view_ts + window, the exact horizon after which it
    can no longer match.

    ``how='left_outer'`` adds the null-extension semantics: a view with
    NO click inside its window emits once with null click columns --
    but only AFTER the watermark passes view_ts + window (the engine
    cannot know a match won't still arrive before then), which is why
    the finite-run harness must advance both streams' watermarks past
    every real view (see attribution_outer_complete).
    """
    delay = f"{window_minutes} minutes"
    # parquet TIMESTAMP_NTZ -> LTZ cast first (session runs UTC, the
    # wall-clock epoch is preserved; same convention as sessions.py)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
        "user_id",
    ).withWatermark("view_ts", delay)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("user_id").alias("click_user"),
    ).withWatermark("click_ts", delay)
    cond = (
        (v["user_id"] == c["click_user"])
        & (c["click_ts"] >= v["view_ts"])
        & (
            c["click_ts"]
            < v["view_ts"] + F.expr(f"INTERVAL {int(window_minutes)} MINUTES")
        )
    )
    return v.join(c, cond, how).select(
        "user_id",
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
        (
            F.unix_micros(F.col("click_ts")) - F.unix_micros(F.col("view_ts"))
        ).alias("lag_us"),
    )


def attribution_join_complete(
    spark,
    events: DataFrame,
    window_minutes: int = 120,
    query_name: str = "attribution_join_complete",
) -> DataFrame:
    """Run the stream-stream attribution join over a finite event set.

    Inner-join rows emit on match, so no clock event is needed: one
    availableNow pass over the two single-file stages yields every pair
    and the result equals the batch interval join bit-for-bit.
    """
    from .harness import run_finite_stream

    cols = ["event_id", "ts", "user_id"]
    views = events.filter(F.col("event_type") == "view").select(*cols)
    clicks = events.filter(F.col("event_type") == "click").select(*cols)
    return run_finite_stream(
        spark,
        [views, clicks],
        lambda v, c: attribution_join_stream(v, c, window_minutes),
        query_name,
    )


def attribution_outer_complete(
    spark,
    events: DataFrame,
    window_minutes: int = 120,
    query_name: str = "attribution_outer_complete",
) -> DataFrame:
    """Run the LEFT OUTER stream-stream attribution join to completion.

    Unlike the inner form, unmatched views emit their null-extension
    row only after the watermark proves no matching click can still
    arrive (view_ts + window < watermark).  Completion therefore needs
    the same far-future clock trick as the sessionizer, on BOTH input
    streams (the join's effective watermark is the minimum across
    inputs): one clock row per side, ``CLOCK_DAYS`` past the data horizon.
    The clock view's own null-extension row is identified by its
    FABRICATED timestamp (view_ts == the future horizon, impossible for
    real data by construction) rather than by a sentinel id -- an id
    sentinel would silently collide with real negative or NULL user
    ids.  After the no-data batch the streamed output equals the batch
    LEFT interval join exactly.
    """
    from .harness import clock_horizon, run_finite_stream

    cols = ["event_id", "ts", "user_id"]
    views = events.filter(F.col("event_type") == "view").select(*cols)
    clicks = events.filter(F.col("event_type") == "click").select(*cols)
    _last, clock = clock_horizon(events)
    clock_schema = "event_id long, ts timestamp, user_id long"
    clock_v = spark.createDataFrame([(-1, clock, -1)], clock_schema)
    clock_c = spark.createDataFrame([(-2, clock, -2)], clock_schema)
    out = run_finite_stream(
        spark,
        [views.unionAll(clock_v), clicks.unionAll(clock_c)],
        lambda v, c: attribution_join_stream(
            v, c, window_minutes, how="left_outer"
        ),
        query_name,
    )
    return out.filter(F.col("view_ts") < F.lit(clock))
