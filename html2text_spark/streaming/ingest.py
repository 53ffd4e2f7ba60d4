"""Incremental corpus ingestion via Structured Streaming.

The extraction is a stateless per-document projection, so the streaming
plan is identical to batch (the same ``extract``) with Spark's streaming
checkpoint giving exactly-once sink semantics.  No watermarks or stateful
operators are required (north_rule's resume requirement is covered by the
batch checkpoint module; this path covers continuously-arriving corpora,
e.g. an Iceberg table appended by a crawler).

trigger(availableNow=True) drains everything present then stops --
the batch-like mode used for scheduled incremental runs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..core.config import Config
from ..pipeline import INPUT_SCHEMA, extract


def streaming_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: Optional[Config] = None,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
) -> StreamingQuery:
    """readStream(parquet documents) -> extract -> writeStream(parquet).

    Returns the running StreamingQuery; call .awaitTermination().
    """
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    extracted = extract(stream, cfg)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
