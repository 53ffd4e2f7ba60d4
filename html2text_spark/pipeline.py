"""Spark-native extraction pipeline: documents(doc_id, spans) -> extracted.

The per-document converter (html2text_spark.core.converter) is pure and
row-local, so the pipeline is a single narrow *projection*:

    scan -> [optional skew repartition] -> mapInArrow(convert) -> sink

No shuffle is required for correctness -- only the optional explicit
repartition to defuse large-document skew (BASELINE.json north_rule).
Catalyst prunes the scan to (doc_id, spans) automatically because the
plan is declared via the DataFrame API.

One Arrow batch kernel (_convert_batch) serves extract, its output-pruned
twins and the streaming ingest: columnar in and out, no pandas (see
html2text_spark.arrow).

Design notes for the 10^12-document scale target:
  * documents are embarrassingly parallel; state never crosses rows;
  * Arrow batches amortize the JVM->Python boundary; documents are KB..MB,
    so recommended_session_conf caps input batches by bytes (256 KiB) as
    well as by rows (512); a larger document makes a batch of its own;
  * skew: a single 100 MB document in a partition of 4 KB documents
    stalls the stage tail -- salt_by_size() spreads documents uniformly
    by a full-range hash salt before the projection;
  * resume: the checkpoint module writes per-partition manifests; the
    anti-join in resume_filter() skips completed documents.
"""

from __future__ import annotations

import time
from typing import Iterator, List, Optional, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .arrow import array_of
from .core.config import Config
from .core.converter import convert_spans

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
    ]
)

METRICS_TYPE = StructType(
    [
        StructField("spans", IntegerType()),
        StructField("bytes_in", LongType()),
        StructField("malformed", BooleanType()),
        StructField("ms", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("metrics", METRICS_TYPE),
    ]
)

#: extract(output=...) -> the columns it adds after doc_id
OUTPUTS = {
    "full": (OUTPUT_SCHEMA["spans"], OUTPUT_SCHEMA["metrics"]),
    "metrics": (OUTPUT_SCHEMA["metrics"],),
    "markdown": (StructField("markdown", StringType()),),
}
_SPANS_ARROW = to_arrow_type(ArrayType(SPAN_TYPE))
_METRICS_ARROW = to_arrow_type(METRICS_TYPE)


def recommended_session_conf() -> dict:
    """Session settings for the extraction workload (large string rows)."""
    return {
        # Arrow input batches close at 512 documents or 256 KiB, whichever
        # comes first: documents are KB..MB, not tuples, so the byte cap is
        # what bounds a Python worker's batch memory on large documents.
        # Both caps are session-wide, so they shape every Arrow Python
        # operator (mapInPandas, pandas UDFs, applyInPandasWithState); the
        # byte cap binds only where rows average over 512 bytes
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(256 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # a 100 TB corpus scan: default 128 MB splits are fine
        "spark.sql.files.maxPartitionBytes": "134217728",
    }


def _convert_row(spans: Sequence, cfg: Config):
    """Pure per-row conversion, the one row function behind ``extract``
    and the SQL surfaces in html2text_spark.functions: input span tuples
    -> (output spans, bytes_in, error, ms).

    ``spans`` holds (kind, text, media_ref, offset) tuples, or None for a
    NULL span struct.  A malformed row (NULL span, conversion failure)
    must never fail the job: it yields empty output and ``error``, the
    exception's class name (None for a row that converts); the reference
    raises LogicException for e.g. invalid base URLs -- we record it
    instead.  Output spans are (kind, text, media_ref) tuples.
    """
    in_spans = []
    bytes_in = 0
    t0 = time.perf_counter()
    error = None
    try:
        if len(spans) > 1:
            spans = sorted(spans, key=lambda s: s[3] or 0)
        for kind, text, media, _offset in spans:
            text = text or ""
            media = media or ""
            # utf-8 byte count == len() for ASCII text; isascii() is a
            # C-speed scan, encode() additionally allocates the bytes
            if text.isascii():
                bytes_in += len(text) + len(media)
            else:
                bytes_in += len(text.encode("utf-8", "ignore")) + len(media)
            in_spans.append((kind or "", text, media))
        out = convert_spans(in_spans, cfg)
    except Exception as exc:
        error = type(exc).__name__
        out = []
    return out, bytes_in, error, (time.perf_counter() - t0) * 1000.0


def _row_spans(spans: pa.Array) -> List[Sequence]:
    """Per-row input span tuples (kind, text, media_ref, offset), read
    column by column from the list array's child arrays.  A NULL row
    gives an empty row and a NULL span struct gives None."""
    if len(spans) == 0:
        return []
    offsets = spans.offsets.to_pylist()
    base = offsets[0]
    # .values ignores a slice offset; .offsets does not, so rebase
    values = spans.values.slice(base, offsets[-1] - base)
    names = ("kind", "text", "media_ref", "offset")
    elems = list(zip(*[values.field(c).to_pylist() for c in names]))
    if values.null_count:
        for j, valid in enumerate(values.is_valid().to_pylist()):
            if not valid:
                elems[j] = None
    rows: List[Sequence] = [
        elems[lo - base : hi - base] for lo, hi in zip(offsets, offsets[1:])
    ]
    if spans.null_count:
        for i, valid in enumerate(spans.is_valid().to_pylist()):
            if not valid:
                rows[i] = ()
    return rows


def _convert_batch(
    batch: pa.RecordBatch,
    cfg: Config,
    output: str = "full",
    passthrough: Sequence[str] = (),
) -> pa.RecordBatch:
    """One Arrow batch of documents(doc_id, spans, *passthrough) -> one
    batch of (doc_id, <OUTPUTS[output] columns>, *passthrough)."""
    out_fields = [f.name for f in OUTPUTS[output]]
    want_spans = "spans" in out_fields
    want_markdown = "markdown" in out_fields
    flat: list = []  # output spans of the whole batch
    list_offsets = [0]
    positions: List[int] = []
    n_spans, bytes_in, malformed, ms, markdown = [], [], [], [], []
    for row in _row_spans(batch.column("spans")):
        out, n_bytes, error, row_ms = _convert_row(row, cfg)
        n_spans.append(len(out))
        bytes_in.append(n_bytes)
        malformed.append(error is not None)
        ms.append(row_ms)
        if want_spans:
            flat.extend(out)
            list_offsets.append(len(flat))
            positions.extend(range(len(out)))
        if want_markdown:
            markdown.append("".join([t for k, t, _m in out if k == "text"]))

    columns = {"doc_id": batch.column("doc_id")}
    if want_spans:
        structs = pa.StructArray.from_arrays(
            [array_of([s[i] for s in flat], pa.string()) for i in range(3)]
            + [array_of(positions, pa.int32())],
            fields=list(_SPANS_ARROW.value_type),
        )
        columns["spans"] = pa.ListArray.from_arrays(
            array_of(list_offsets, pa.int32()), structs, type=_SPANS_ARROW
        )
    if "metrics" in out_fields:
        metrics = (n_spans, bytes_in, malformed, ms)
        columns["metrics"] = pa.StructArray.from_arrays(
            [array_of(v, f.type) for v, f in zip(metrics, _METRICS_ARROW)],
            fields=list(_METRICS_ARROW),
        )
    if want_markdown:
        columns["markdown"] = array_of(markdown, pa.string())
    for c in passthrough:
        columns[c] = batch.column(c)
    return pa.RecordBatch.from_arrays(
        list(columns.values()), names=list(columns)
    )


def salt_by_size(df: DataFrame, num_partitions: int) -> DataFrame:
    """Spread documents uniformly across partitions (skew defusal).

    Large-document skew defusal (north_rule): the input's physical layout
    may cluster large documents (crawl order, source grouping);
    range-partitioning on size would make it worse by pairing the
    monsters together.  A full-range hash salt places every document
    uniformly at random, which bounds per-partition byte skew to
    O(sqrt(docs_per_partition)) regardless of the input layout and keeps
    the expected monster count equal per partition.

    NB the salt must be the *raw* 64-bit hash: pre-modding it to
    num_partitions values and hashing again would throw balls-in-bins
    (~37% of partitions empty, others 2-3x loaded).
    """
    salted = df.withColumn(
        "_salt", F.xxhash64("doc_id", F.lit(num_partitions))
    )
    return salted.repartition(num_partitions, "_salt").drop("_salt")


def spans_bytes_col(spans_col: str = "spans"):
    """Approximate document weight: total text bytes across spans; 0 for
    a NULL ``spans``, so salt_stratified's small tier keeps that row."""
    return F.coalesce(
        F.aggregate(
            F.transform(spans_col, lambda s: F.length(s["text"])),
            F.lit(0),
            lambda acc, x: acc + F.coalesce(x, F.lit(0)),
        ),
        F.lit(0),
    )


def _routing_keys(spark, num_partitions: int) -> list:
    """Integer keys k_0..k_{n-1} with pmod(hash(k_p), n) == p.

    ``repartition(n, col)`` routes a row to pmod(hash(col), n); there is
    no public "send this row to partition p" API in the DataFrame layer.
    Probing Spark's own hash for preimages of every residue turns the
    hash partitioner into an EXACT router: emit k_p and the row lands in
    partition p, deterministically.  The probe is one tiny job (64n
    rows, driver-collects n ints) and is widened in the astronomically
    unlikely case (P ~ n*e^-64) a residue is missing.
    """
    width = 64 * num_partitions
    for _ in range(4):
        rows = (
            spark.range(0, width)
            .select(
                F.col("id").cast("int").alias("k"),
                F.pmod(
                    F.hash(F.col("id").cast("int")), F.lit(num_partitions)
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.min("k").alias("k"))
            .collect()
        )
        keys = {r["p"]: r["k"] for r in rows}
        if len(keys) == num_partitions:
            return [keys[p] for p in range(num_partitions)]
        width *= 8
    raise RuntimeError("hash preimage probe failed")  # unreachable


def salt_stratified(
    df: DataFrame, num_partitions: int, big_bytes: int = 1 << 20
) -> DataFrame:
    """Size-stratified skew defusal: spread the monster tier cyclically.

    ``salt_by_size`` places documents uniformly at random, which balances
    *expected* load but still allows two 100 MB monsters to collide in
    one partition (balls-in-bins variance) -- and one extra monster IS
    the stage tail.  This variant splits the corpus at ``big_bytes``:

    * the big tier (tiny by count) is ranked by size descending
      (row_number over a global window -- single-task, fine for a tier
      that is <<1% of rows by construction) and routed to partition
      (rank-1) mod N **exactly**, via hash-preimage routing keys (see
      _routing_keys).  Partition k therefore receives sizes ranked
      {k+1, k+1+N, k+1+2N, ...}: the classic longest-processing-time
      layout that bounds the per-partition byte spread to one monster.
      (A plain round-robin ``repartition(n)`` does NOT guarantee this:
      sortBeforeRepartition re-sorts each upstream partition by row
      bytes for retry determinism, and each upstream partition picks an
      independent random start -- two monsters can collide.)
    * the small tier takes the uniform full-range hash salt as before.

    The union concatenates both partitionings (2N narrow partitions into
    the downstream projection).
    """
    from pyspark.sql import Window

    sized = df.withColumn("_bytes", spans_bytes_col())
    keys = _routing_keys(df.sparkSession, num_partitions)
    route = F.element_at(
        F.array(*[F.lit(k) for k in keys]),
        (F.pmod(F.col("_rk") - 1, F.lit(num_partitions))).cast("int") + 1,
    )
    big = (
        sized.filter(F.col("_bytes") >= big_bytes)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.orderBy(F.desc("_bytes"), F.asc("doc_id"))
            ),
        )
        .withColumn("_route", route)
        .repartition(num_partitions, "_route")
        .drop("_bytes", "_rk", "_route")
    )
    small = salt_by_size(
        sized.filter(F.col("_bytes") < big_bytes).drop("_bytes"),
        num_partitions,
    )
    return big.unionAll(small)


def extract(
    df: DataFrame,
    cfg: Optional[Config] = None,
    salt_partitions: Optional[int] = None,
    stratify_bytes: Optional[int] = None,
    passthrough: tuple = (),
    output: str = "full",
) -> DataFrame:
    """documents(doc_id, spans) -> extracted(doc_id, spans, metrics).

    ``salt_partitions`` spreads documents uniformly (hash salt);
    ``stratify_bytes`` additionally routes documents above that size
    through the monster-tier cyclic layout (see salt_stratified).
    ``passthrough`` names input columns to carry through unchanged
    (appended after the output columns with their input types) -- the
    scale-safe way to keep grouping keys: no post-hoc join against the
    corpus.

    ``output`` prunes the output side of the boundary, which Catalyst
    cannot do inside an opaque mapInArrow: ``"metrics"`` gives
    (doc_id, metrics) and never builds or ships the span structs;
    ``"markdown"`` gives (doc_id, markdown), the 'text' spans joined in
    the worker, equal to ``text_of(extract(df))`` by convert_spans
    invariant 1.  Every output runs the identical per-row conversion.
    """
    if salt_partitions and stratify_bytes:
        df = salt_stratified(df, salt_partitions, stratify_bytes)
    elif salt_partitions:
        df = salt_by_size(df, salt_partitions)
    schema = StructType(
        [StructField("doc_id", StringType()), *OUTPUTS[output]]
        + [df.schema[c] for c in passthrough]
    )
    cfg = cfg or Config()

    def convert_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _convert_batch(batch, cfg, output, passthrough)

    return df.select("doc_id", "spans", *passthrough).mapInArrow(
        convert_batches, schema
    )


def extract_metrics_only(df: DataFrame, cfg: Optional[Config] = None, **kw):
    """``extract(df, cfg, output="metrics", **kw)``: (doc_id, metrics,
    *passthrough)."""
    return extract(df, cfg, output="metrics", **kw)


def extract_markdown_only(df: DataFrame, cfg: Optional[Config] = None, **kw):
    """``extract(df, cfg, output="markdown", **kw)``: (doc_id, markdown,
    *passthrough)."""
    return extract(df, cfg, output="markdown", **kw)


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Corpus-level metrics (north_rule: docs/sec, spans/doc, malformed rate).

    A single partial+final hash aggregation (map-side combine handled by
    Catalyst); cheap at any scale.
    """
    return extracted.agg(
        F.count("*").alias("docs"),
        F.sum("metrics.spans").alias("spans_total"),
        F.avg("metrics.spans").alias("spans_per_doc"),
        F.sum("metrics.bytes_in").alias("bytes_in_total"),
        F.avg(F.col("metrics.malformed").cast("int")).alias("malformed_rate"),
        F.sum("metrics.ms").alias("convert_ms_total"),
    )


def markdown_col(spans_col: str = "spans"):
    """Column expression reassembling the markdown text from a spans array
    (pure built-ins, JVM-side codegen): filter to kind='text', concat in
    offset order."""
    return F.concat_ws(
        "",
        F.transform(
            F.filter(spans_col, lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
    )


def text_of(extracted: DataFrame) -> DataFrame:
    """Reassemble the markdown text per document (fixture-equality view)."""
    return extracted.select("doc_id", markdown_col().alias("markdown"))
