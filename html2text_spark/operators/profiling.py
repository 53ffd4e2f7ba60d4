"""Data profiling: per-column completeness/cardinality statistics.

The ``ANALYZE``-style profile every warehouse load publishes next to a
table (null rates for contract checks, cardinalities for capacity and
join planning).  Computed in ONE scan: all columns' aggregates run in a
single ``agg`` and the wide one-row result is unpivoted driver-free
with ``stack``.

Scale shape: a multi-column count-distinct aggregate compiles to
Spark's Expand plan -- the input is replicated once per distinct
aggregate before the shuffle (factor = #profiled columns).  That is the
standard engine answer and it is linear, but at 100 TB one would
profile a deterministic hash sample or swap ``countDistinct`` for
``approx_count_distinct`` (HLL, no Expand) -- both one-line variants;
the exact form here is what the oracle can verify bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: tuple) -> DataFrame:
    """Exact (rows, nulls, distinct) per column, one row per column.

    Returns (col_name, n_rows, n_nulls, n_distinct) -- integer-only
    metrics on purpose: min/max would need per-type string rendering,
    which engines format differently (doubles, timestamps), breaking
    oracle parity without adding profiling signal.
    """
    for c in cols:
        # names are interpolated into selectExpr below; backtick-quoting
        # handles spaces/dashes, but a backtick or quote inside a name
        # cannot be escaped there -- fail loud instead of mis-parsing
        if "`" in c or "'" in c:
            raise ValueError(f"unsupported character in column name: {c!r}")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', `_nn_{c}`, `_nd_{c}`" for c in cols)
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as (col_name, _nn, n_distinct)",
    ).select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("_nn")).alias("n_nulls"),
        "n_distinct",
    )


def profile_columns_sampled(
    df: DataFrame,
    cols: tuple,
    id_col: str,
    pct: int = 10,
) -> DataFrame:
    """The 100 TB profile variant documented above: exact per-column
    stats over a DETERMINISTIC md5 hash sample of the rows.

    ``approx_count_distinct`` would also kill the Expand factor, but its
    HLL estimates are engine-specific (never oracle-exact); the hash
    sample keeps full value parity -- the sample membership is a pure
    function of the id, so DuckDB profiles the identical subset.  The
    Expand replication still happens but over pct% of the input, and the
    sampling filter is evaluated at the scan (no extra pass).  Reported
    counts describe the sample (n_rows == sample size), the standard
    contract for sampled ANALYZE.
    """
    from .curation import hash_sample

    return profile_columns(hash_sample(df, pct, id_col=id_col), cols)


def iqr_outliers(
    df: DataFrame,
    group_col: str,
    value_cents_col: str,
    id_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier detection per group: rows outside
    [q1 - k*iqr, q3 + k*iqr] of their group's EXACT quartiles.

    The robust anomaly screen data-quality pipelines run on metric
    columns (median/IQR shrug off the very outliers a mean/stddev
    z-score would absorb).  Quartiles come from the bounded-memory
    histogram method (textstats.group_percentiles_exact) over the
    integer-cents domain -- exact at any scale without buffering a
    group's raw values -- and the |groups|-row fence frame joins back
    stats-broadcast.  Fence arithmetic is plain IEEE (multiply, then
    subtract/add) mirrored operation-for-operation in the oracle.

    Returns (group, id, value cents, lo_fence, hi_fence) for flagged
    rows only.  NULL values are never flagged and are excluded from the
    quartiles (SQL percentile semantics).
    """
    from .textstats import group_percentiles_exact

    d = df.select(group_col, id_col, value_cents_col).filter(
        F.col(value_cents_col).isNotNull()
    )
    q = group_percentiles_exact(
        d, value_cents_col, group_col, ps=(0.25, 0.75)
    ).select(group_col, "p25", "p75")
    iqr = F.col("p75") - F.col("p25")
    lo = F.col("p25") - F.lit(k) * iqr
    hi = F.col("p75") + F.lit(k) * iqr
    v = F.col(value_cents_col).cast("double")
    return (
        d.join(q, on=group_col)
        .filter((v < lo) | (v > hi))
        .select(
            group_col,
            id_col,
            value_cents_col,
            F.round(lo, 4).alias("lo_fence"),
            F.round(hi, 4).alias("hi_fence"),
        )
    )


def value_histogram(
    df: DataFrame,
    group_col: str,
    value_cents_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Equal-width value histogram per group, entirely in int64.

    The distribution profile behind every metrics dashboard.  Bucket
    assignment is pure integer arithmetic -- ((v - lo) * buckets) div
    (hi - lo + 1) -- so there is no IEEE division to mirror and the
    result is exact in any engine.  Bucket indices never exceed
    buckets-1; when the value domain is narrower than the bucket count
    the upper buckets are simply unoccupied (v == hi lands at
    ((hi-lo)*buckets) div (hi-lo+1), the top OCCUPIED bucket).
    Per-group bounds are a |groups|-row aggregate joined back
    stats-broadcast; one corpus aggregate on (group, bucket).  NULL
    values are excluded (no bucket to assign).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    for c in (group_col, value_cents_col):
        # names are interpolated into an expr below (same guard pattern
        # as profile_columns): backtick-quote, reject the unquotable
        if "`" in c:
            raise ValueError(f"unsupported character in column name: {c!r}")
    df = df.filter(F.col(value_cents_col).isNotNull())
    v = F.col(value_cents_col)
    bounds = df.groupBy(group_col).agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi")
    )
    joined = df.select(group_col, value_cents_col).join(bounds, on=group_col)
    bucket = F.expr(
        f"((`{value_cents_col}` - _lo) * {int(buckets)}) div (_hi - _lo + 1)"
    )
    return (
        joined.select(
            group_col,
            bucket.cast("int").alias("bucket"),
            F.col("_lo").alias("lo_cents"),
            F.col("_hi").alias("hi_cents"),
        )
        .groupBy(group_col, "bucket", "lo_cents", "hi_cents")
        .agg(F.count("*").alias("n"))
    )


def key_constraint_audit(tables: dict) -> DataFrame:
    """Primary-key contract check across tables: per (table, key), row
    count vs distinct-key count and the verdict -- the uniqueness half
    of a data-contract validation (the null half is profile_columns).

    ``tables`` maps table name -> (DataFrame, key_col).  Each audit is
    an independent two-aggregate scan (count + countDistinct, one
    Expand of factor 2); results union into one report frame.  At the
    design point each table audits in its own jobs -- no cross-table
    shuffle exists at all.
    """
    if not tables:
        raise ValueError("tables must be non-empty")
    parts = []
    for name, (df, key_col) in sorted(tables.items()):
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(F.col(key_col)).alias("n_keys"),
            ).select(
                F.lit(name).alias("table_name"),
                F.lit(key_col).alias("key_col"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") == F.col("n_keys")).alias("is_unique"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def count_anomalies(df: DataFrame, z_thresh: float = 2.0) -> DataFrame:
    """Volume-anomaly screen: hourly event-count buckets whose z-score
    against their event type's mean hourly volume exceeds ``z_thresh``.

    The moments pipeline is exact-integer until the last step: per-
    (group, hour) counts, then per-group (H, sum, sum of squares) --
    all int64 -- so mean/variance never see a shuffle-order-dependent
    float sum.  The z-score is algebraically rearranged to keep its
    numerator integer, z = (c*H - S1) / (H * sqrt(var)) with
    var = (S2*H - S1^2) / (H*(H-1)): one sqrt (IEEE-correctly-rounded,
    bit-identical across engines), one multiply, one divide --
    mirrored operation-for-operation in the oracle.

    Statistics run over OBSERVED hours only (empty hours are a gapfill
    concern -- compose with gapfill_daily_counts for dense series).
    The per-group stats frame is |groups|-sized, a genuine broadcast
    dimension.  Groups need H >= 2 and nonzero variance to score.
    """
    b = df.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    s = b.groupBy("event_type").agg(
        F.count("*").alias("h"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    j = b.join(F.broadcast(s), "event_type")
    var = (
        (F.col("s2") * F.col("h") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("h") * (F.col("h") - F.lit(1))).cast("double")
    )
    z = (F.col("cnt") * F.col("h") - F.col("s1")).cast("double") / (
        F.col("h").cast("double") * F.sqrt(var)
    )
    return (
        j.filter((F.col("h") > 1) & (F.col("s2") * F.col("h") > F.col("s1") * F.col("s1")))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > z_thresh)
        .select("event_type", "bucket", "cnt", F.round("z", 8).alias("z"))
    )
