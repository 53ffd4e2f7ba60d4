"""Streaming count-min sketch: the EIGHTH streaming family, and the
first in COMPLETE output mode.

Every prior streaming family runs in append mode (emit-once semantics
gated by watermarks or state timeouts).  A count-min sketch is the
natural complete-mode citizen: its state is the counter table itself --
bounded at depth x width rows regardless of input size -- so re-emitting
the whole aggregate per micro-batch is both legal (bounded sink) and
exactly what a live frequency dashboard consumes.  No watermark, no
clock rows, no custom state: the md5-addressed ``count_min_build``
composition (explode -> groupBy -> count) runs unchanged on a streaming
DataFrame, and because CMS counters are order-insensitive sums, the
drained sketch equals the batch sketch EXACTLY -- which makes the
streamed estimates oracle-exact, the same verifiability story as the
streaming KMV (family 7) but through the built-in aggregation engine
rather than applyInPandasWithState.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cms_words_stream(
    docs_stream: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Streaming CMS counter table over whitespace words (complete
    mode): bounded state = the depth x width counters themselves."""
    from ..operators.dedup import split_words
    from ..operators.sketches import count_min_build

    words = docs_stream.select(
        F.explode(split_words(text_col)).alias("item")
    )
    return count_min_build(words, "item", depth=depth, width=width)


def cms_words_complete(
    spark,
    docs: DataFrame,
    probes,
    depth: int = 4,
    width: int = 512,
    query_name: str = "cms_complete",
) -> DataFrame:
    """Drain the streaming CMS over a finite corpus and point-query it:
    the streamed sketch equals batch ``count_min_build`` bit-for-bit
    (order-insensitive counter sums), so the estimates share the batch
    query's exact DuckDB oracle."""
    from ..operators.sketches import count_min_estimate
    from .harness import run_finite_stream

    sketch = run_finite_stream(
        spark,
        [docs.select("text")],
        lambda s: cms_words_stream(s, depth=depth, width=width),
        query_name,
        output_mode="complete",
    )
    return count_min_estimate(sketch, probes, depth=depth, width=width)
