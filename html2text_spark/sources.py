"""Corpus sources: parquet/Iceberg scans, synthetic generator.

In production the input is an Iceberg table of interleaved text+media
documents (BASELINE.json input_hint); in this sandbox the same shape is
synthesized deterministically or adapted from the driver's flat
``documents`` parquet.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import INPUT_SCHEMA


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan a documents table already in the interleaved-span shape.

    For Iceberg: spark.read.format('iceberg').load(table).  The scan is
    column-pruned by Catalyst to (doc_id, spans).
    """
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:") :])
    if path.endswith((".jsonl", ".json")):
        return spark.read.schema(INPUT_SCHEMA).json(path)
    return spark.read.parquet(path)


def read_flat_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan a FLAT (doc_id, text, ...) corpus from parquet, ORC, JSONL,
    or headered CSV by extension -- the interchange formats crawled corpora
    actually arrive in.  JSONL scans stream split-by-split (newlines
    inside documents are \\n-escaped by the format, so line boundaries
    are record boundaries); CSV must use multiLine=true because crawled
    text routinely embeds raw newlines inside quoted fields -- a
    line-split read silently shreds such documents into garbage rows.
    That makes each CSV FILE the unit of parallelism (not each line
    range): acceptable for many-file corpora, and the honest cost of
    CSV as a text container -- prefer parquet/ORC/JSONL at scale.  The
    adapter chain ``read_flat_documents -> adapt_flat_documents ->
    extract`` keeps the same narrow shuffle-free plan as parquet input.
    Schema is enforced, never inferred: inference would scan the corpus
    twice at 100 TB.
    """
    schema = "doc_id string, text string, lang string, source string"
    if path.endswith((".jsonl", ".json")):
        return spark.read.schema(schema).json(path)
    if path.endswith(".orc"):
        # columnar like parquet (predicate pushdown, column pruning,
        # stripe-level splits); schema enforced for scan-time type safety
        return spark.read.schema(schema).orc(path)
    if path.endswith((".csv", ".tsv")):
        sep = "\t" if path.endswith(".tsv") else ","
        return (
            spark.read.schema(schema)
            .option("header", "true")
            .option("sep", sep)
            .option("multiLine", "true")
            .csv(path)
        )
    return spark.read.parquet(path)


def adapt_flat_documents(
    df: DataFrame, text_col: str = "text", keep: tuple = ()
) -> DataFrame:
    """Adapt a flat (doc_id, text, ...) table to the interleaved-span shape.

    Pure built-in expressions -- no Python; the wrap is a zero-shuffle
    projection so filters on doc_id still push down to the scan.  ``keep``
    names extra columns to retain (e.g. a grouping key to carry through
    the extraction); by default the scan stays pruned to (doc_id, text).
    """
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.col(text_col).cast("string").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
        *keep,
    )


# ----------------------------------------------------------------------
# deterministic synthetic interleaved corpus (no external data)
# ----------------------------------------------------------------------

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo"
).split()


def _doc_html(rng_state: int, size_class: int) -> list:
    """Build one deterministic interleaved span list from an integer seed.

    size_class skews sizes log-uniformly: most documents are small, a few
    are huge (the skew the salting must defuse).
    """
    import random

    rng = random.Random(rng_state)
    n_blocks = 2 + size_class * 3
    spans = []
    offset = 0
    for b in range(n_blocks):
        parts = ["<h2>Sec %d</h2>" % b]
        n_paras = 1 + rng.randint(0, 2 + size_class)
        for _p in range(n_paras):
            words = [rng.choice(_WORDS) for _ in range(8 + rng.randint(0, 40))]
            if rng.random() < 0.3:
                words[rng.randint(0, len(words) - 1)] = (
                    '<a href="http://example.com/%d">link%d</a>'
                    % (rng.randint(0, 999), b)
                )
            if rng.random() < 0.2:
                words.append('<img src="img://%d.png" alt="pic"/>' % rng.randint(0, 9999))
            parts.append("<p>" + " ".join(words) + "</p>")
        if rng.random() < 0.25:
            items = "".join(
                "<li>%s</li>" % rng.choice(_WORDS) for _ in range(rng.randint(2, 6))
            )
            parts.append("<ul>%s</ul>" % items)
        spans.append({
            "kind": "html",
            "text": "".join(parts),
            "media_ref": "",
            "offset": offset,
        })
        offset += 1
        if rng.random() < 0.3:
            spans.append({
                "kind": "media",
                "text": "",
                "media_ref": "asset://%d" % rng.randint(0, 10**9),
                "offset": offset,
            })
            offset += 1
    return spans


def synthetic_documents(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Deterministic interleaved corpus, generated distributed.

    spark.range drives the generation so the corpus is built in parallel
    on executors (scales to any n_docs); content is a pure function of
    (seed, id) so the corpus is stable across runs and cluster sizes.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"]
            doc_ids = []
            spans_col = []
            for i in ids:
                i = int(i)
                # log-uniform size classes 0..4: ~1% of docs are 'monsters'
                h = (i * 2654435761 + seed) & 0xFFFFFFFF
                r = h / 0xFFFFFFFF
                size_class = 4 if r < 0.01 else (3 if r < 0.05 else (2 if r < 0.2 else (1 if r < 0.5 else 0)))
                doc_ids.append("doc-%012d" % i)
                spans_col.append(_doc_html(seed * 1000003 + i, size_class))
            yield pd.DataFrame({"doc_id": doc_ids, "spans": spans_col})

    return (
        spark.range(0, n_docs, 1, partitions)
        .mapInPandas(gen, INPUT_SCHEMA)
    )


def zorder_key(c0, c1, bits: int = 16):
    """Morton / Z-order interleaved key of two non-negative integer
    dimensions (c0 -> even bits, c1 -> odd bits; ``bits`` low bits of
    each are used).

    The data-CLUSTERING primitive behind multi-dimensional file
    skipping: sorting (repartitionByRange + sortWithinPartitions) by
    this key bounds BOTH dimensions within every file/row-group, so
    min/max statistics prune scans on either predicate -- a plain sort
    bounds only its leading column.  Pure codegen bit arithmetic
    (an OR-fold of shift/mask terms, no UDF), mirrorable bit-for-bit in
    any engine.  Callers must range-reduce dimensions to ``bits`` bits
    first (values are masked here, so out-of-range inputs wrap rather
    than poison neighbors).
    """
    from functools import reduce

    if not (1 <= bits <= 31):
        raise ValueError(f"zorder_key: bits={bits} outside [1, 31]")
    a = c0.cast("long")
    b = c1.cast("long")
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda x, y: x.bitwiseOR(y), terms)
