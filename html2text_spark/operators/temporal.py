"""Temporal operators Spark lacks as built-ins: as-of join, rollups.

The as-of join ("attach the most recent right-side row at or before each
left row's timestamp") has no native DataFrame operator.  The naive
encodings both fail at scale:

  * inequality join ``l.key = r.key AND r.ts <= l.ts`` + window to keep
    the max: Catalyst plans the inequality as a per-key cross product --
    quadratic fanout on active keys;
  * per-key collect + Python bisect: driver/executor memory and a
    Python hot loop.

The scalable encoding used here is the union trick: tag both sides,
union them, and take ``last(right_payload, ignorenulls=true)`` over a
(key, ts)-ordered running window.  ONE shuffle on the join key, zero
fanout, whole-stage codegen throughout -- the same plan shape Flink's
temporal join and kdb's aj compile to.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    payload_cols: Sequence[str] = ("value",),
) -> DataFrame:
    """For each left row attach the latest right row with the same key
    and ``right.ts <= left.ts`` (inclusive), LEFT-join semantics (no
    match -> nulls).  Each payload column ``c`` is attached as
    ``asof_c``, and the matched right timestamp as ``asof_ts``.

    The right side must be unique per (key, ts) -- pre-aggregate it if
    not, or which payload wins at an equal timestamp is undefined (the
    same caveat every asof implementation carries).

    Plan: unionByName(tagged left, tagged right) -> window
    last(ignorenulls) over (partition by key order by ts, side) ->
    filter side=left.  At equal timestamps the right row sorts first
    (side 0 < 1) so it is visible to the left row, giving the inclusive
    `<=` bound.  One hash shuffle on ``key``; window state is a single
    running value per payload column.
    """
    pay = list(payload_cols)
    if len(set(pay)) != len(pay):
        raise ValueError(f"asof_join: duplicate payload_cols {pay}")
    bad = [c for c in pay if c in (key, ts_col)]
    if bad:
        raise ValueError(
            f"asof_join: payload_cols may not include the join key or "
            f"timestamp column {bad} -- they are already carried through"
        )
    left_cols = left.columns
    # the union/window encoding synthesizes these names; a left column
    # shadowing one would silently corrupt the running-last state
    # the attached timestamp is always aliased asof_ts regardless
    # of ts_col -- guard only names actually synthesized
    internal = {"_side", "_r_ts", "asof_ts"}
    for c in pay:
        internal.add(f"_r_{c}")
        internal.add(f"asof_{c}")
    clash = sorted(internal.intersection(left_cols))
    if clash:
        raise ValueError(
            f"asof_join: left columns {clash} collide with internal/"
            f"output names; rename them"
        )
    l_tag = left.select(
        *left_cols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in pay],
        F.lit(None).cast(right.schema[ts_col].dataType).alias("_r_ts"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts_col),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in (key, ts_col)
        ],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in pay],
        F.col(ts_col).alias("_r_ts"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attached = unioned.select(
        *left_cols,
        "_side",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in pay
        ],
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
    )
    return attached.filter(F.col("_side") == 1).drop("_side")


def range_join_events(
    events: DataFrame,
    intervals: DataFrame,
    key: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Events |x| intervals where start_ts <= ts < end_ts, without the
    inequality-join cross product.

    Catalyst plans a bare ``e.ts >= i.start AND e.ts < i.end`` predicate
    (plus an equi-key) as a join whose range part is a post-filter over
    the per-key cross product -- quadratic on hot keys.  The scalable
    encoding buckets time: each interval explodes into the time buckets
    it covers (``sequence()`` -- bounded by interval length / bucket),
    each event has exactly ONE bucket, and the join becomes a pure
    equi-join on (key, bucket) followed by the exact range filter.  An
    (event, interval) pair meets in exactly one bucket, so no dedup is
    needed.  Shuffle key (key, bucket) is finer than key alone -- time
    spreads hot keys across partitions, the same trick as salting but
    semantic.

    Both sides floor to epoch multiples of ``bucket_seconds`` -- the
    SAME expression, so every bucket width is correct by construction.
    (An earlier revision hour-truncated the event side while the
    interval side stepped by the bucket parameter: any non-hour bucket
    silently dropped matches.)  Size ``bucket_seconds`` near the typical
    interval length: too small explodes many bucket rows per interval,
    too large puts many events in each bucket before the exact filter.

    Returns one row per (event, matching interval).
    """

    def _floor(col):
        ts = F.col(col).cast("timestamp")
        return F.timestamp_seconds(
            F.floor(F.unix_timestamp(ts) / bucket_seconds).cast("long")
            * bucket_seconds
        )

    ev = events.withColumn("_bkt", _floor("ts"))
    # a malformed interval (end < start) would make sequence() throw a
    # runtime error deep inside the stage; with end exclusive such rows
    # can match nothing, so dropping them is both safe and graceful
    intervals = intervals.filter(F.col("end_ts") >= F.col("start_ts"))
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                _floor("start_ts"),
                # end is exclusive, but an interval ending exactly on a
                # bucket boundary still covers no event in that bucket;
                # generating it is harmless (filtered below), simpler
                _floor("end_ts"),
                F.expr(f"interval {bucket_seconds} seconds"),
            )
        ),
    )
    joined = ev.join(iv, on=[key, "_bkt"]).filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    return joined.drop("_bkt")
