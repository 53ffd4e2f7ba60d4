"""User-behavior analytics over event tables: retention cohorts and
ordered conversion funnels.

Both are exact-arithmetic formulations (integer counts, IEEE divisions
only at the final ratio) so the DuckDB oracle verifies them bit-for-bit,
and both shuffle exclusively on the uniform user key -- the shapes scale
to the 10^12-event design point unchanged.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic cohort retention: users grouped by first-seen day, counted
    on each subsequent active day offset.

    Plan: distinct (user, day) projection -> per-user min-day aggregate
    (the cohort dimension is |users|-sized, so it is NOT broadcast -- the
    join back is a shuffle equi-join on the uniform user key) -> count
    distinct users per (cohort, day offset).  Three uniform-key shuffles,
    no fanout: each (user, day) row joins exactly one cohort row.
    """
    days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = days.join(first, "user_id")
    return joined.groupBy(
        "cohort_day",
        F.datediff("day", "cohort_day").cast("long").alias("offset_days"),
    ).agg(F.countDistinct("user_id").alias("active_users"))


def funnel_stages(
    events: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
) -> DataFrame:
    """ORDERED conversion funnel: a user reaches stage i+1 only via an
    event of that type AT OR AFTER their stage-i arrival time (the strict
    sequential funnel, not segment overlap -- a purchase before the first
    view does not convert).

    Computed as one earliest-arrival frame per stage: t_1 = min ts of
    stage-1 events; t_{i+1} = min ts of stage-(i+1) events with
    ts >= t_i.  Each refinement is one filtered scan + one shuffle
    equi-join on the uniform user key + one per-user min -- |stages|
    passes, no window state, no fanout, and NO driver action: the stage
    frames union into one distributed aggregate, with the conversion
    ratio vs stage 1 derived by a window over the |stages|-row result
    (single IEEE division, oracle bit-exact).
    """
    if len(stages) < 2:
        raise ValueError("funnel_stages: need at least 2 stages")
    from pyspark.sql.window import Window

    arrivals = (
        events.filter(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    frames = [
        arrivals.select(
            F.lit(1).cast("long").alias("stage_idx"),
            F.lit(stages[0]).alias("stage"),
            F.col("user_id"),
        )
    ]
    for i, stage in enumerate(stages[1:], start=2):
        arrivals = (
            events.filter(F.col("event_type") == stage)
            .join(arrivals.select("user_id", "t"), "user_id")
            .filter(F.col("ts") >= F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        frames.append(
            arrivals.select(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col("user_id"),
            )
        )
    unioned = frames[0]
    for f in frames[1:]:
        unioned = unioned.unionAll(f)
    counts = unioned.groupBy("stage_idx", "stage").agg(
        F.countDistinct("user_id").alias("users")
    )
    # an EMPTY stage must still emit a users=0 row (the SQL-oracle
    # UNION-of-scalar-aggregates form always does; without this the two
    # diverge on any corpus where a funnel stage has no qualifying user)
    skeleton = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(stages)],
        "stage_idx long, stage string",
    )
    counts = skeleton.join(counts, ["stage_idx", "stage"], "left").select(
        "stage_idx", "stage", F.coalesce("users", F.lit(0)).alias("users")
    )
    w = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    entry = F.first("users").over(w)
    return counts.select(
        "stage_idx",
        "stage",
        "users",
        F.when(
            entry > 0, F.round(F.col("users").cast("double") / entry, 6)
        ).alias("conversion"),
    )


def rolling_active_users(
    events: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """Trailing N-day distinct active users per day (the 7-day DAU/WAU
    rollup every activity dashboard runs).

    Exact distinct over a sliding window: dedup to (user, day) pairs
    first (one map-combined shuffle, output |users|x|days| -- orders of
    magnitude below the event count), then each pair contributes to the
    ``window_days`` report days [day, day + N) via an explode whose
    fanout is the constant N, never data-dependent, and finally an
    exact count-distinct per report day (Spark's two-phase distinct
    aggregate).  No window-function state over the raw event stream and
    every shuffle key is uniform, so the shape survives the design
    point unchanged; trailing days at the end of the data hold partial
    windows by construction, same as the oracle.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    pairs = events.select(
        F.col("user_id").alias("user"), F.date_trunc("day", "ts").alias("day")
    ).distinct()
    contrib = pairs.select(
        "user",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr(f"INTERVAL {int(window_days) - 1} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("report_day"),
    )
    return contrib.groupBy("report_day").agg(
        F.countDistinct("user").alias("active_users")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order transition matrix over per-user event sequences (the
    path-analysis primitive behind funnels-you-didn't-predefine).

    lag() over each user's (ts, seq)-ordered stream pairs every event
    with its predecessor type ('START' for the first); counts aggregate
    per (prev, next).  One window shuffle on the uniform user key plus
    one tiny matrix aggregate (|types|^2 + |types| rows).  Deterministic
    ordering via the unique sequence tie-break.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.lag(F.col("event_type")).over(w)
    return (
        events.select(
            F.coalesce(prev, F.lit("START")).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("transitions"))
    )


def gapfill_daily_counts(
    events: DataFrame, materialize: bool = False
) -> DataFrame:
    """Dense daily series per event type: every day in the type's observed
    [min, max] range appears, zero-filled where no events landed (the
    densification step dashboards and window models need -- a missing
    day must read as 0, not as an absent row).

    Scaffold = per-group (min_day, max_day) aggregate (|groups| rows)
    exploded via sequence -- fanout is the date range, data-independent
    of row count -- then a left join of the scaffold against the daily
    counts on the uniform (group, day) key.

    Scan count, honestly: bounds are written over the daily counts, but
    Catalyst COLLAPSES aggregate-over-aggregate back into a direct
    min/max over the base table (verified in the plan gate), so the
    default plan reads the corpus twice -- each pass column-pruned to
    (group, ts) and map-side combined.  ``materialize=True`` persists
    the tiny counts frame instead, which is the true single-scan form
    for a 10^12-row table (the cache is |groups| x |days| rows); it is
    off by default because a library function should not silently pin
    executor storage -- with materialize=True the CALLER owns the cache
    lifetime (the persisted frame is internal, so release it with
    ``spark.catalog.clearCache()`` once the result is consumed, or
    Spark's LRU eviction eventually reclaims it).
    """
    day = F.date_trunc("day", "ts")
    counts = events.groupBy(
        F.col("event_type").alias("grp"), day.alias("day")
    ).agg(F.count("*").alias("events"))
    if materialize:
        counts = counts.persist()
    bounds = counts.groupBy("grp").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    scaffold = bounds.select(
        "grp",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    return scaffold.join(counts, on=["grp", "day"], how="left").select(
        "grp", "day", F.coalesce(F.col("events"), F.lit(0)).alias("events")
    )
