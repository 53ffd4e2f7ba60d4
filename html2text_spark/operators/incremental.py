"""Incremental view maintenance: merge a materialized aggregate with a
delta instead of recomputing from scratch.

At the design point the events table grows by a sliver per day; a daily
full recompute of per-entity totals re-shuffles the entire history
(10^12 rows) to refresh numbers that changed for <1% of keys.  The
incremental form aggregates ONLY the delta and merges it with the
previous materialized state -- a shuffle proportional to
|delta| + |state|, independent of history length.  This is the batch
equivalent of what Structured Streaming's stateful aggregation does
per micro-batch, expressed as a pure DataFrame op over materialized
tables.

Correctness requires every aggregate to be mergeable (algebraic):
count/sum merge by addition, min/max by min/max.  Money runs through
exact integer cents, so merged == full-recompute bit-for-bit -- the
property the oracle (a plain GROUP BY over the whole history) checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import _cents, _sum_wide

#: the mergeable per-key totals schema shared by snapshot and delta
_AGG_COLS = ("n_events", "value_cents", "first_ts", "last_ts")


def totals_snapshot(events: DataFrame) -> DataFrame:
    """Per-user mergeable totals (the materialized state)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        _sum_wide(_cents("value")).alias("value_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def merge_snapshots(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two totals snapshots (previous state + delta aggregate).

    union + one groupBy on the key: every aggregate column merges by
    its own combine function.  Keys present in only one side pass
    through unchanged (a new user appears, an idle user persists).
    """
    return (
        prev.select("user_id", *_AGG_COLS)
        .unionByName(delta.select("user_id", *_AGG_COLS))
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            _sum_wide(F.col("value_cents")).alias("value_cents"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )
