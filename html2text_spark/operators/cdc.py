"""Change-data-capture compaction and history materialization.

The reference engine is a pure string->string converter (no tables,
ineersa/html2text src/Html2Markdown.php); these are the engine-side
table-maintenance operators a corpus store built on it needs: a
change log (append-only events keyed by entity) compacted to its
latest state, and the same log widened into an SCD2 validity-interval
history.

Scale shape (both): one shuffle on the entity key.  ``latest_state``
rides Spark's WindowGroupLimit pushdown -- each map task pre-selects
its local latest row per key BEFORE the exchange, so a hot entity
with 10^9 updates contributes at most n_partitions rows to the
shuffle, not its whole history.  ``scd2_history`` necessarily emits
every change row (that IS the output), one sort per entity partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_state(changes: DataFrame) -> DataFrame:
    """Last-writer-wins compaction: one row per ``user_id``, the newest
    change.

    The batch equivalent of a MERGE/upsert materialization: ordering is
    (ts desc, seq desc) so concurrent same-timestamp writes resolve
    deterministically by the unique sequence id -- a retry produces the
    identical snapshot.  row_number (not max ts + self-join) keeps it
    to ONE shuffle and lets WindowGroupLimit cap the exchange.
    """
    w = Window.partitionBy(F.col("user_id")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_history(changes: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a change log.

    Every change row becomes a validity interval: valid_from = its own
    timestamp, valid_to = the NEXT change's timestamp for the same user
    (null while current), is_current flags the open interval.  One
    lead() window per key -- the standard temporal-table build.
    """
    w = Window.partitionBy(F.col("user_id")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    valid_to = F.lead(F.col("ts")).over(w)
    return changes.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        *[c for c in changes.columns if c not in ("user_id", "ts", "event_id")],
    )
