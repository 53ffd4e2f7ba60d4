"""Explicit two-phase (salted) aggregation for pathologically hot keys.

Spark's hash aggregate already computes map-side partials, which is
enough for algebraic aggregates over merely-popular keys.  The failure
mode this operator exists for is different: a reduce-side aggregation
buffer that is NOT constant-size per key (exact distinct sets, large
sketches, collect-style payloads) or a key so hot that even the final
merge of its partials should be spread over many tasks.  AQE's skew
handling splits skewed JOIN partitions, not aggregation groups -- the
salt is still the only lever for aggs.

Phase 1 groups by (key, salt) where salt is derived from a row-unique
column, splitting one hot key's rows across ``buckets`` reduce tasks;
phase 2 merges the per-salt partials, a ``buckets``-rows-per-key
aggregation that is uniform by construction.  Total: two shuffles, the
second over a frame ~buckets/|rows| the size of the first.  Results are
bit-identical to the single-phase form because every aggregate used is
algebraic (count/sum/min/max) and the money sums run through the exact
integer-cents accumulator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import md5_int32
from .relational import _cents, _sum_wide


def salted_partials(events: DataFrame, buckets: int = 16) -> DataFrame:
    """Phase 1 of ``two_phase_totals``: per-(user_id, salt) partials.

    Exposed separately so tests can assert partition OCCUPANCY of the
    salted exchange directly (spark_partition_id over the partials) --
    plan-shape tests alone cannot catch a salt that degenerates to one
    bucket (the round-1 lesson).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if "_salt" in events.columns:
        raise ValueError("input already has a _salt column")
    cents = _cents("value")
    return events.groupBy(
        "user_id",
        F.pmod(
            md5_int32(F.col("event_id").cast("string")), F.lit(buckets)
        ).alias("_salt"),
    ).agg(
        F.count("*").alias("_n"),
        F.sum(cents.cast("decimal(38,0)")).alias("_cents"),
        F.min("ts").alias("_first"),
        F.max("ts").alias("_last"),
    )


def two_phase_totals(events: DataFrame, buckets: int = 16) -> DataFrame:
    """Per-user totals via salted partial aggregation.

    The salt is md5 of the row-unique sequence id (NOT of the key --
    hashing the key would put the whole hot key in one bucket again),
    so a key's rows spread uniformly across ``buckets`` partials
    regardless of how hot it is.  Money is summed as exact integer
    cents (round(value*100)) through the 128-bit accumulator; min/max
    compose trivially.  Output matches the plain groupBy bit-for-bit.
    """
    partial = salted_partials(events, buckets)
    return partial.groupBy("user_id").agg(
        F.sum("_n").cast("long").alias("n_events"),
        _sum_wide(F.col("_cents")).alias("value_cents"),
        F.min("_first").alias("first_ts"),
        F.max("_last").alias("last_ts"),
    )


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key_col: str,
    seq_col: str,
    buckets: int = 8,
) -> DataFrame:
    """Skew-defused equi-join: big side salted, dim side replicated.

    The join-side companion to ``two_phase_totals``: when one key holds
    a disproportionate share of the BIG side, a plain shuffle join puts
    that key's entire row set in one task.  Salting splits it: the big
    side gets salt = md5(row-unique id) mod buckets, the dim side is
    exploded into ``buckets`` copies (one per salt), and the join runs
    on (key, salt) -- the hot key now spans ``buckets`` tasks.  Cost:
    dim ships buckets x |dim| rows, the classic trade.  Results equal
    the unsalted join row-for-row (the dim copy matched is identical).

    A NULL ``seq_col`` would make the salt NULL and silently drop that
    big-side row (NULL never equals any replicated dim salt) even though
    the plain equi-join on the key alone would keep it; the salt is
    therefore coalesced to bucket 0, preserving plain-join equality for
    NULL sequence ids (at worst the NULL-id rows share one bucket).

    AQE's skew-join splitting makes this unnecessary for sort-merge
    joins it can see; the explicit form remains the tool for skew AQE
    cannot detect (post-shuffle explosions, bucketed-table joins that
    bypass the exchange) -- and it is deterministic, not heuristic.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if "_salt" in big.columns or "_salt" in dim.columns:
        # withColumn would silently REPLACE the caller's column and the
        # final drop would destroy it, breaking plain-join equality
        raise ValueError("input already has a _salt column")
    salt = F.coalesce(
        F.pmod(md5_int32(F.col(seq_col).cast("string")), F.lit(buckets)),
        F.lit(0),
    )
    b = big.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return b.join(d, on=[key_col, "_salt"], how="inner").drop("_salt")
