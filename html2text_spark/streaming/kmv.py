"""Streaming KMV distinct-count sketch: the SEVENTH streaming family.

A k-minimum-values cardinality sketch maintained per group with
``applyInPandasWithState``: bounded state (the k smallest 60-bit md5
hashes of the keys seen), merged incrementally across micro-batches.
KMV state is a pure min-k set -- order-insensitive and duplicate-proof
-- so the streamed sketch equals the batch ``sketches.kmv_distinct``
value-exactly on the same input, which makes this the only STREAMING
cardinality estimator in the suite whose output an external engine can
verify bit-for-bit (streaming approx_count_distinct never could).

Scale shape: the md5 hash is computed JVM-side in the stream projection
(``dedup.md5_int``); the Python state function only merges sorted
integer lists of length <= k.  State per group is k longs regardless of
cardinality, exactly the bound a 100 TB deployment needs.

Dedup nuance: the batch twin takes DISTINCT keys then hashes; the
stream dedupes by hash value.  They differ only if two distinct keys
collide in 60 bits (~2^-60 per pair) -- the documented equivalence
precondition.
"""

from __future__ import annotations

from typing import Any, Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

KMV_SCHEMA = StructType(
    [
        StructField("grp", StringType()),
        StructField("n_kept", LongType()),
        StructField("kmv_estimate_raw", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("mins", ArrayType(LongType()))])

#: unit_hash contract (dedup.unit_hash): h = (double(l) + 1.0) / 2^60
_UNIT_SCALE = float(1 << 60)


def kmv_stream(
    events_stream: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    ts_col: str = "ts",
    k: int = 64,
    watermark: str = "30 minutes",
    horizon=None,
) -> DataFrame:
    """Per-group streaming KMV sketch, emitted when the event-time
    watermark passes ``horizon`` (a timestamp: the end of the observed
    window).  Rows with ts > horizon only advance the watermark (the
    finite-run completion clock rides this); rows up to it update the
    sketch.  With horizon=None every row updates and the sketch emits
    when the group times out one watermark-delay past its last event.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    horizon_us = (
        None
        if horizon is None
        else int(pd.Timestamp(horizon).value // 1_000)
    )

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        grp = key[0]

        def emit(mins):
            n = len(mins)
            if n < k:
                est = float(n)
            else:
                est = (k - 1.0) / ((float(max(mins)) + 1.0) / _UNIT_SCALE)
            return pd.DataFrame(
                {"grp": [grp], "n_kept": [n], "kmv_estimate_raw": [est]}
            )

        batches = [p for p in pdfs if len(p)]
        if batches:
            rows = pd.concat(batches)
            ts_us = (
                pd.to_datetime(rows["ts"])
                .astype("datetime64[ns]")
                .astype("int64")
                // 1_000
            )
            # _kh is non-null int64 by construction (clock rows carry
            # the -1 sentinel), so Arrow delivers exact integers -- a
            # nullable batch would coerce to float64 and round 60-bit
            # hashes onto a 128-spaced grid (review catch)
            hashes = rows["_kh"]
            mask = hashes >= 0
            if horizon_us is not None:
                mask &= ts_us <= horizon_us
            # drop rows at/below the current watermark:
            # applyInPandasWithState does NOT filter late input rows, so
            # without this a group whose sketch was already flushed
            # (state removed) would re-enter the flush branch on a later
            # micro-batch of late rows and emit a SECOND, partial sketch
            # row in append mode (r5 ADVICE).  Standard watermark
            # semantics: late data is dropped, an emitted group stays
            # emitted.
            wm_ms = state.getCurrentWatermarkMs()
            mask &= ts_us > wm_ms * 1000
            hashes = hashes[mask]
            mins = list(state.get[0]) if state.exists else []
            merged = sorted(set(mins) | set(int(h) for h in hashes))[:k]
            # flush target: one tick past the horizon (or past the last
            # event when free-running).  Spark rejects a timeout at or
            # below the current watermark; and re-arming ABOVE it would
            # leave a timestamp the watermark may never pass again
            # (clock rows split across batches -- review catch).  If the
            # watermark has already passed the target, the sketch is
            # complete by definition: emit NOW instead of arming.
            if horizon_us is not None:
                target_ms = horizon_us // 1000 + 1
            else:
                target_ms = int(ts_us.max()) // 1000 + 1
            if target_ms > wm_ms:
                state.update((merged,))
                state.setTimeoutTimestamp(target_ms)
            else:
                existed = state.exists
                if existed:
                    state.remove()
                # a batch of exclusively masked rows (clock/post-horizon)
                # for an already-flushed group must not emit a second,
                # empty sketch row
                if merged or existed:
                    yield emit(merged)
        elif state.hasTimedOut and state.exists:
            mins = list(state.get[0])
            state.remove()
            yield emit(mins)

    from ..operators.dedup import md5_int

    stream = (
        events_stream.withColumn("ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("ts", watermark)
        .select(
            F.col(group_col).alias("grp"),
            "ts",
            # null keys (the completion clock rows) must keep flowing so
            # they advance the watermark (a JVM-side null filter gets
            # pushed below the watermark node and starves it), but a
            # NULLABLE int64 batch reaches pandas as float64, rounding
            # 60-bit hashes onto a 128-spaced grid (exactness contract).
            # Coalescing to -1 keeps the column non-null int64; real md5
            # hashes are non-negative, so the state function drops the
            # sentinel exactly.
            F.coalesce(
                md5_int(F.col(key_col).cast("string")), F.lit(-1).cast("long")
            ).alias("_kh"),
        )
    )
    return stream.groupBy("grp").applyInPandasWithState(
        update,
        outputStructType=KMV_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def kmv_events_complete(
    spark,
    events: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = 64,
    query_name: str = "kmv_complete",
) -> DataFrame:
    """Run the streaming KMV sketch over a finite event set to
    completion: one far-future clock row per group advances the
    watermark past the horizon so every group's timeout fires in the
    availableNow no-data batch.  Clock rows sit beyond the horizon, so
    they advance time without ever entering a sketch -- the streamed
    output equals batch ``kmv_distinct`` exactly.
    """
    from .harness import clock_horizon, run_finite_stream

    horizon, clock_ts = clock_horizon(events)
    clock = (
        events.select(group_col).distinct()
        .select(
            group_col,
            F.lit(clock_ts).alias("ts"),
            F.lit(None).cast("long").alias(key_col),
        )
    )
    staged = events.select(
        group_col, F.col("ts").cast("timestamp").alias("ts"), key_col
    ).unionByName(clock)
    out = run_finite_stream(
        spark,
        [staged],
        lambda s: kmv_stream(
            s, key_col=key_col, group_col=group_col, k=k, horizon=horizon
        ),
        query_name,
    )
    return out.select(
        "grp", "n_kept", F.round("kmv_estimate_raw", 6).alias("kmv_estimate")
    )
