"""Deterministic cardinality sketch: KMV (k minimum values).

``approx_count_distinct`` (HyperLogLog++) is the built-in answer at
scale, but its register layout is engine-internal -- it can never be
value-checked against another engine.  KMV is the sketch you can PROVE
correct: keep the k smallest values of a uniform hash of the key; the
k-th smallest m_k estimates cardinality as (k-1)/m_k (Bar-Yossef et al.,
"Counting distinct elements in a data stream", RANDOM 2002).  With an
md5-derived hash both Spark and DuckDB compute bit-identical sketches,
so the estimate itself is oracle-exact while remaining a real sketch
(bounded state: k values per group, mergeable by taking the k smallest
of a union -- the same property HLL offers).

Scale shape: one hash-aggregate shuffle on (group, key) for the
distinct (partial+final, map-side combined by Catalyst), then a window
rank that keeps only k rows per group.  Honest caveat: this built-in
composition materializes each group's distinct hash set before ranking;
a 100 TB deployment would push the min-k selection into the aggregate
itself (a ~30-line Scala UDAF or pandas UDAF with bounded k-element
state) to cut shuffle volume -- the sketch math, determinism, and
mergeability demonstrated here are identical either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import md5_int, unit_hash


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate via a k-minimum-values sketch.

    Returns (group, n_kept, kmv_estimate): when a group has fewer than k
    distinct keys the sketch IS the distinct set and the estimate is
    exact (n_kept); otherwise estimate = (k-1) / m_k.
    """
    hashed = (
        df.select(F.col(group_col).alias("grp"), F.col(key_col).alias("key"))
        .distinct()
        .select("grp", unit_hash(F.col("key")).alias("h"))
    )
    w = Window.partitionBy("grp").orderBy(F.asc("h"))
    ranked = hashed.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return ranked.groupBy("grp").agg(
        F.count("*").alias("n_kept"),
        F.round(
            F.when(
                F.count("*") < k, F.count("*").cast("double")
            ).otherwise((F.lit(float(k - 1))) / F.max("h")),
            6,
        ).alias("kmv_estimate"),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL cardinality estimate via Spark's built-in
    Datasketches HllSketch aggregate (``hll_sketch_agg``, Spark 3.5+).

    The industry-standard companion to ``kmv_distinct``: 2^lg_k register
    bytes per group regardless of cardinality, partial sketches built
    map-side and merged through the exchange (the mergeability KMV
    demonstrates, here in the battle-tested binary form every warehouse
    speaks).  lg_k=12 gives ~1.6% typical relative error.

    The register layout is engine-internal, so the ESTIMATE cannot be
    value-hashed against DuckDB -- callers wanting an exact-oracle
    sketch use kmv_distinct; queries over this one assert the accuracy
    CONTRACT (|est - exact| / exact within bound) instead, which IS
    SQL-expressible.
    """
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(key_col), lg_k)
        ).alias("hll_users")
    )


def _cms_cells(item: Column, depth: int, width: int) -> Column:
    """The ``depth`` (row, col) counters an item addresses: row i's
    column is md5(item || '#i') mod width.  Build and probe share it, so
    they cannot address different cells."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(
                    md5_int(F.concat(item, F.lit(f"#{i}"))), F.lit(width)
                ).alias("col"),
            )
            for i in range(depth)
        ]
    )


def count_min_build(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch counter table over an item stream.

    The THIRD mergeable sketch family in the suite (after KMV and HLL):
    frequency estimation in depth x width integer counters (Cormode &
    Muthukrishnan 2005).  Each occurrence increments one counter per
    row, at column md5(item || '#row') mod width -- pure integer md5
    arithmetic, so DuckDB builds the bit-identical sketch and the
    ESTIMATES are oracle-exact, unlike register-internal HLL.

    Scale shape: explode(depth) -> ONE hash-aggregate shuffle keyed by
    (row, col), whose output is at most depth*width rows regardless of
    corpus size -- partials combine map-side, so the exchange carries
    <= depth*width rows per map task.  Sketches over shards merge by
    adding counters (same grouped sum).
    """
    cells = _cms_cells(F.col(item_col), depth, width)
    return (
        items.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query a count-min sketch for each probe item.

    estimate = min over rows of the addressed counter (0 when a counter
    was never touched -- the item definitely did not occur).  CMS
    guarantees estimate >= true count; the broadcast-sized probe list
    equi-joins the depth*width sketch, no corpus access.
    """
    item = F.col(item_col)
    addressed = probes.select(
        item, F.explode(_cms_cells(item, depth, width)).alias("rc")
    ).select(item_col, "rc.row", "rc.col")
    joined = addressed.join(sketch, on=["row", "col"], how="left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
    )


def _validate_bloom_params(op: str, words: int, bits_per_word: int, k: int):
    """Shared domain guard: build and probe MUST agree on these (a
    mismatch re-addresses every probe into false negatives)."""
    if words < 1 or k < 1 or not (1 <= bits_per_word <= 32):
        raise ValueError(f"{op}: invalid (words, bits_per_word, k)")


def bloom_build(
    keys: DataFrame,
    key_col: str,
    words: int = 64,
    bits_per_word: int = 32,
    k: int = 3,
) -> DataFrame:
    """Bloom filter over a key set, as a words-row (word_idx, word)
    bitmask table -- the FOURTH mergeable sketch family.

    Each key sets k bits at md5(key || '#i') mod (words*bits_per_word)
    (the count-min addressing convention), OR-folded per 64-bit-capable
    word with ``bit_or``.  Pure md5 integer arithmetic: DuckDB builds
    the bit-identical mask, so membership verdicts -- INCLUDING the
    false positives, which are a deterministic function of the key set
    -- are oracle-exact.  Bits stay below bit 62 (bits_per_word <= 32
    by default), clear of the int64 sign.

    Scale shape: explode(k) -> ONE hash aggregate whose output is at
    most ``words`` rows regardless of key-set size (map-side combined).
    Blooms over shards merge by OR-ing word rows (same grouped bit_or).
    The classic use is join pre-filtering: ship the words-row mask to
    the fact side and drop non-matching rows BEFORE the shuffle --
    Spark's runtime InBloomFilter does this transparently for joins
    Catalyst can see, but an explicit persistent bloom covers the
    cross-job case (yesterday's key set filtering today's stream).
    """
    _validate_bloom_params("bloom_build", words, bits_per_word, k)
    m = words * bits_per_word
    key = F.col(key_col).cast("string")
    pos = [
        F.pmod(md5_int(F.concat(key, F.lit(f"#{i}"))), F.lit(m))
        for i in range(k)
    ]
    exploded = keys.select(
        F.explode(
            F.array(*[
                F.struct(
                    # integer 'div', not float '/': float division is
                    # only exact below 2^53, so an extreme `words`
                    # parameterization could silently mis-address bits
                    # (the false-negative failure mode); 'div' matches
                    # the oracle's integer `//` for ANY valid params
                    F.call_function("div", p, F.lit(bits_per_word).cast("long"))
                    .cast("long")
                    .alias("word_idx"),
                    # shiftleft's Python wrapper only takes an int shift;
                    # the SQL function accepts a column
                    F.call_function(
                        "shiftleft",
                        F.lit(1).cast("long"),
                        F.pmod(p, F.lit(bits_per_word)).cast("int"),
                    ).alias("bit"),
                )
                for p in pos
            ])
        ).alias("wb")
    )
    return (
        exploded.groupBy(F.col("wb.word_idx").alias("word_idx"))
        .agg(F.bit_or(F.col("wb.bit")).alias("word"))
    )


def bloom_probe(
    facts: DataFrame,
    bloom: DataFrame,
    key_col: str,
    words: int = 64,
    bits_per_word: int = 32,
    k: int = 3,
) -> DataFrame:
    """Membership verdict per fact row against a ``bloom_build`` mask.

    The mask is folded into ONE map row and cross-joined broadcast, so
    the probe is a pure projection on the fact side -- no explode, no
    shuffle, no per-row Python: k static map lookups + bit tests in
    codegen.  Adds a boolean ``bloom_pass`` column ('no' is definitive;
    'yes' may be a false positive at the documented rate).

    (words, bits_per_word, k) MUST match the values the bloom was built
    with -- a mismatch re-addresses every probe and silently turns into
    false NEGATIVES, the one failure a bloom must never have.  The
    parameters are validated here exactly as in ``bloom_build`` so at
    least an out-of-domain value fails loud; callers persisting a bloom
    should persist its parameters beside it.
    """
    _validate_bloom_params("bloom_probe", words, bits_per_word, k)
    m = words * bits_per_word
    mask = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "word"))
        ).alias("_bloom")
    )
    key = F.col(key_col).cast("string")
    test = None
    for i in range(k):
        pos = F.pmod(md5_int(F.concat(key, F.lit(f"#{i}"))), F.lit(m))
        # integer 'div' (see bloom_build): exact addressing for any
        # valid parameterization, matching the oracle's integer `//`
        widx = F.call_function(
            "div", pos, F.lit(bits_per_word).cast("long")
        ).cast("long")
        bit = F.pmod(pos, F.lit(bits_per_word)).cast("int")
        hit = (
            F.call_function(
                "shiftright",
                F.coalesce(F.element_at(F.col("_bloom"), widx), F.lit(0)),
                bit,
            ).bitwiseAND(F.lit(1))
            == 1
        )
        test = hit if test is None else test & hit
    return facts.join(F.broadcast(mask)).withColumn(
        "bloom_pass", test
    ).drop("_bloom")
