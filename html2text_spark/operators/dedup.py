"""Deduplication operators over a (doc_id, text) corpus.

All hot paths are built-in Spark SQL expressions (JVM-side, codegen'd,
no Python in the row loop) so they survive a 100 TB corpus:

  * exact_dedup      one shuffle on content hash (uniformly distributed
                     by construction -- no skew possible)
  * minhash_lsh      shingle -> minhash -> band -> bucket groupBy with
                     in-bucket pair expansion; the aggregation key is a
                     hash, so the shuffle is uniform; signatures are
                     md5+universal-hash based, deterministic and
                     reproducible in ANSI SQL (the DuckDB oracle mirrors
                     the exact same arithmetic)
  * ngram_jaccard    exact pairwise verification *within candidate
                     buckets only* (never all-pairs at scale; the
                     all-pairs-within-group variant here is for small
                     grouped corpora / verification)
  * simhash64        Arrow-batched pandas UDF (bit-vote loop is not
                     expressible as built-ins); 64-bit fingerprint
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# 15 hex chars = 60 bits: fits in a signed 64-bit integer in both Spark
# (conv -> cast) and DuckDB ('0x...'::BIGINT), so oracles match exactly.
_HEX_PREFIX_LEN = 15


def md5_int(col: Column) -> Column:
    """Deterministic 60-bit integer hash, reproducible in ANSI SQL."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_PREFIX_LEN), 16, 10).cast("long")


def md5_int32(col: Column) -> Column:
    """Deterministic 32-bit integer hash (8 hex chars), for universal
    hashing where products must stay within int64."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def unit_hash(col: Column) -> Column:
    """Uniform (0,1] hash of a key: (md5_int(key::string)+1) / 2^60.

    THE oracle-parity contract for hash-uniform randomness (KMV sketch,
    priority sampling): DuckDB mirror is
    ``((('0x'||substr(md5(x::VARCHAR),1,15))::BIGINT)::DOUBLE + 1.0)
    / 1152921504606846976.0``.  Single definition on purpose -- a prefix
    or scale change in one copy would silently break the other queries'
    oracle equality.
    """
    return (md5_int(col.cast("string")).cast("double") + F.lit(1.0)) / F.lit(
        float(1 << 60)
    )


#: fixed (a, b) coefficients for the universal hash family
#: h_i(x) = (a_i*x + b_i) mod _MERSENNE_P; odd a, deterministic constants
_MERSENNE_P = (1 << 61) - 1
_UNIVERSAL_COEFFS = [
    (1103515245, 12345),
    (214013, 2531011),
    (69069, 362437),
    (1664525, 1013904223),
    (22695477, 1),
    (134775813, 1),
    (1103527590, 123456789),
    (747796405, 2891336453),
]


def exact_dedup(df: DataFrame, text_col: str = "text", keep: tuple = ()) -> DataFrame:
    """Per-document exact-duplicate labeling via content-hash windows.

    Returns (doc_id, content_hash, *keep, dup_count, is_canonical):
    canonical = the minimum doc_id of its hash group.  One shuffle on
    content_hash -- and the shuffle carries only (doc_id, hash, *keep),
    never the text: the hash is computed in the pre-exchange projection.
    ``keep`` names input columns to ride along (e.g. a grouping key or a
    pre-computed score), which lets callers avoid a corpus-sized
    join to recover them afterwards.
    """
    w = Window.partitionBy("content_hash")
    return (
        df.select(
            "doc_id", F.md5(F.col(text_col)).alias("content_hash"), *keep
        )
        .withColumn("dup_count", F.count("*").over(w))
        .withColumn(
            "is_canonical", F.col("doc_id") == F.min("doc_id").over(w)
        )
    )


def split_words(text: str | Column) -> Column:
    """Whitespace words of a text column (name or Column), trimmed first."""
    return F.split(F.trim(text), r"\s+")


def shingles(text_col: str = "text", k: int = 3) -> Column:
    """Word k-shingles as an array column (built-ins only)."""
    w = split_words(text_col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - F.lit(k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)),
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """(doc_id, sig[num_hashes]): sig_i = min over shingles of
    (a_i * md5_int32(shingle) + b_i) mod (2^61-1).  Pure projection --
    no shuffle."""
    # hash every shingle ONCE (32-bit md5 prefix), then derive the i-th
    # hash family member by universal hashing h_i = (a_i*h + b_i) mod p --
    # 8x less md5 work than salting the shingle per function, and the
    # arithmetic stays within int64 (a < 2^31, h < 2^32 -> product < 2^63).
    # The hash array is materialized as a COLUMN in its own projection:
    # inlining the expression into the num_hashes transforms re-evaluates
    # the whole shingle+md5 pass once per hash function (CollapseProject
    # keeps the split because the alias is non-cheap and multiply
    # referenced; measured 3.2 s -> 0.74 s at sf0.1 -- the same hazard
    # as winnow_fingerprints' _hashes).
    sh = shingles(text_col, k)
    hashed = df.select(
        "doc_id", F.transform(sh, lambda s: md5_int32(s)).alias("_base")
    )
    base = F.col("_base")

    def _minhash(i: int) -> Column:
        a, b = _UNIVERSAL_COEFFS[i]
        # NB: keep the transform lambda single-argument -- a two-arg lambda
        # would be interpreted by Spark as (element, index)
        return F.array_min(
            F.transform(base, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE_P))
        )

    sig = F.array(*[_minhash(i) for i in range(num_hashes)])
    return hashed.select("doc_id", sig.alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b) sharing >=1 LSH band.

    Plan shape: projection -> explode(bands) -> groupBy(bucket) ->
    in-bucket pair expansion -> distinct.  ONE aggregation shuffle on a
    uniform hash key; signatures are computed exactly once (a naive
    banded self-join recomputes the whole minhash projection for both
    sides -- 2x the dominant cost).  Pair expansion is a JVM-side nested
    transform over the bucket's sorted id list.

    ``max_bucket`` caps quadratic blowup on pathological buckets (a
    cluster of M identical docs yields M^2/2 pairs): buckets are
    truncated to the first max_bucket ids -- beyond that the docs are
    exact-duplicate-class anyway and are linked transitively through the
    retained members.  The cap is applied BEFORE the collect (row_number
    over the bucket key, which rides WindowGroupLimit below the
    exchange), so no aggregation buffer ever holds more than max_bucket
    ids -- a degenerate band shared by millions of docs previously
    accumulated every doc_id in one executor's collect_set buffer before
    the slice (the r5-flagged OOM hazard).  Each doc contributes exactly
    one row per band, so ids are unique within a bucket and the first
    max_bucket by doc_id are the same ids the r5
    slice(sort_array(collect_set)) form retained -- the pair set is
    bit-identical.
    """
    rows_per_band = num_hashes // bands
    assert num_hashes <= len(_UNIVERSAL_COEFFS), "extend _UNIVERSAL_COEFFS"
    sigs = minhash_signatures(df, text_col, num_hashes, k)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")

    capped = banded.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")
        ),
    ).filter(F.col("_rn") <= max_bucket)
    # groupBy keys == window partition keys: the aggregate reuses the
    # window's hash partitioning, so the cap costs a sort, not a shuffle
    buckets = capped.groupBy("band_idx", "band_hash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    n = F.size("ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("doc_a"),
                    F.element_at(F.col("ids"), j).alias("doc_b"),
                ),
            ),
        )
    )
    return (
        buckets.filter(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Candidate pairs -> duplicate clusters: (doc_id, cluster_id).

    ``cluster_id`` is the minimum doc_id reachable through the pair graph
    (the connected component's canonical label).  Algorithm: iterative
    min-label propagation -- each round every node adopts the smallest
    label among itself and its neighbors, until a fixpoint.

    Scale notes (the 100 TB design question):
      * each round is ONE shuffle join (labels |x| edges on the uniform
        node key) plus one aggregate; the edge table is candidate pairs,
        which LSH banding already reduced to a sliver of the corpus;
      * rounds needed = graph diameter.  Near-dup clusters are dense
        (every member collides with most others in some band), so real
        diameters are small single digits; ``max_iters`` bounds
        pathological chains, and the loop exits as soon as a round makes
        no change (an O(1)-row driver aggregate, not a collect of data);
      * each round's labels are ``localCheckpoint``-ed: persist alone
        keeps the nested logical plan, which DOUBLES per round (the join
        references the previous round twice) and OOMs the driver on plan
        strings long before data is a problem.  Checkpointing cuts the
        lineage to O(1) per round; on a real cluster prefer
        ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` for
        executor-loss resilience (localCheckpoint blocks are not
        recoverable), which is a one-line swap here.

    The exact fixpoint is mirrored by the DuckDB oracle's recursive CTE
    (min over the transitive closure), so the operator is value-checkable.
    """
    if max_iters < 1:
        # the for/else below would raise "did not converge" without ever
        # running a round -- even for empty input
        raise ValueError(f"connected_components: max_iters={max_iters} < 1")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        # candidate label for each dst = min label among its neighbors;
        # new label = min(own, neighborhood).  The previous label rides
        # along so convergence is a filter on the checkpointed result,
        # not an extra join job per round.
        prop = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(prop, labels["doc_id"] == prop["dst"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                F.col("label").alias("_prev"),
            )
            .localCheckpoint()  # truncate lineage: plan doubles per round
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("_prev"))
            .limit(1)
            .count()
        )
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    else:
        # silent non-convergence would split true components into
        # multiple clusters (and keep near-duplicates); fail loudly --
        # the caller can raise max_iters for pathological chain graphs
        raise RuntimeError(
            "connected_components did not converge within "
            f"max_iters={max_iters}; raise max_iters (rounds needed = "
            "component diameter + 1 confirming no-change round)"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def resolve_clusters(pairs: DataFrame) -> DataFrame:
    """Full cluster resolution over candidate pairs: per member, its
    cluster id, the cluster size, and the canonical flag (minimum doc_id
    represents the cluster -- keep it, drop the rest)."""
    comp = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def cluster_representatives(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Pick each near-dup cluster's representative by SCORE, not min id.

    Real curation keeps the best-quality member of a duplicate cluster
    (FineWeb/RefinedWeb keep-longest / keep-highest-score), not the
    smallest id: resolve components, join the per-doc score (one
    shuffle on the uniform id -- the membership table is pair-sized,
    orders of magnitude smaller than the corpus), then argmax per
    cluster via row_number (score desc, id asc tie-break, so retries
    pick the identical representative).  cluster_size rides the same
    window partitioning, one exchange total after the join.
    """
    comp = connected_components(pairs)
    joined = comp.join(scores.select(id_col, score_col), on=id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_doc_id"),
            score_col,
            "cluster_size",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs *within a group*.

    Intended for candidate verification (group = LSH bucket) or small
    partitions (group = source).  Never call with group = whole corpus.
    """
    grams = df.select(
        F.col("doc_id"),
        F.col(group_col).alias("grp"),
        F.array_distinct(shingles(text_col, k)).alias("grams"),
    )
    a = grams.alias("a")
    b = grams.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    return (
        a.join(
            b,
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union.cast("double"), 8).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(
    df: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash fingerprint per document (Arrow-batched pandas UDF).

    Tokens vote per bit weighted by term frequency; md5-based token
    hashes keep it deterministic across executors and runs.
    """
    import hashlib
    import re as _re

    import numpy as np

    # token split mirrors the SQL oracle's RE2 semantics exactly:
    # RE2 \\S == [^\\t\\n\\f\\r ] (ASCII), unlike Python str.split()
    # which also splits on unicode whitespace
    token_re = _re.compile(r"[^\t\n\f\r ]+")

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        def one(text):
            if not text:
                return 0
            toks = token_re.findall(text)
            if not toks:
                return 0
            # vectorized bit votes: md5[:8] per token -> (n_tokens, 64)
            # bit matrix -> per-bit sums (numpy, no 64x python loop)
            digest_rows = np.frombuffer(
                b"".join(
                    hashlib.md5(t.encode("utf-8", "ignore")).digest()[:8]
                    for t in toks
                ),
                dtype=np.uint8,
            ).reshape(-1, 8)
            bits = np.unpackbits(digest_rows, axis=1)  # big-endian bit order
            votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(toks)
            out = 0
            # bit index: int.from_bytes(...,'big') bit b == unpackbits
            # column 63-b, so walk columns MSB-first
            for col_bit in np.nonzero(votes > 0)[0]:
                out |= 1 << (63 - int(col_bit))
            # two's-complement into signed 64-bit
            return out - (1 << 64) if out >= (1 << 63) else out

        return texts.map(one)

    return df.select(doc_id_col, _simhash(F.col(text_col)).alias("simhash"))


def edit_distance_verify(
    corpus: DataFrame, pairs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact edit-distance verification of candidate near-dup pairs.

    The character-level companion to ``ngram_jaccard_pairs``: for each
    candidate pair, the Levenshtein distance and a normalized
    similarity 1 - dist/max_len (1.0 when both texts are empty -- the
    pair is trivially identical, and an unguarded division would throw
    under Spark's ANSI mode).  O(len^2) per pair, which is exactly why
    it runs ONLY on the LSH-bucketed candidate set -- never the whole
    corpus (the same never-all-pairs contract as the Jaccard verifier).
    Two uniform-key equi-joins to attach the texts.

    Oracle-parity caveat: Spark's levenshtein counts CHARACTER edits,
    DuckDB's counts BYTE edits -- identical for ASCII text (this
    corpus, verified), divergent the moment a multi-byte character
    appears.  The Spark semantics are the correct ones; the DuckDB
    mirror is valid under the documented ASCII precondition.
    """
    a = corpus.select(
        F.col("doc_id").alias("doc_a"), F.col(text_col).alias("_ta")
    )
    b = corpus.select(
        F.col("doc_id").alias("doc_b"), F.col(text_col).alias("_tb")
    )
    j = pairs.join(a, on="doc_a").join(b, on="doc_b")
    lev = F.levenshtein("_ta", "_tb")
    denom = F.greatest(F.length("_ta"), F.length("_tb"))
    sim = F.when(denom == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - lev.cast("double") / denom.cast("double")
    )
    return j.select(
        "doc_a",
        "doc_b",
        lev.alias("edit_distance"),
        F.round(sim, 8).alias("similarity"),
    )


def triangle_stats(
    edges: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Triangle census of an (a < b)-oriented edge list -- the
    clustering-coefficient ingredient dedup pipelines use to tell
    near-dup CLIQUES (template families, mirror farms: triangle-dense)
    from chains of borderline pairs (triangle-free).

    Node-iterator with oriented closure: the wedge join pairs each
    node's oriented neighbors (b < c both above a), the closing join
    checks edge (b, c) -- every triangle is counted exactly once from
    its smallest vertex.  Two uniform-key shuffle joins, no explosion
    beyond sum-of-squared-degrees for the wedge stage; at 10^12-edge
    scale the orientation would rank by (degree, id) instead of raw id
    to bound the heaviest wedge fan-out (same plan, different sort
    key).  Returns one row: (n_nodes, n_edges, n_triangles).
    """
    e = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).distinct()
    wedges = (
        e.select("a", F.col("b").alias("x"))
        .join(e.select(F.col("a").alias("a2"), F.col("b").alias("y")),
              F.col("a") == F.col("a2"))
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
    )
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    )
    nodes = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .distinct()
    )
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .join(e.agg(F.count("*").alias("n_edges")))
        .join(closed.agg(F.count("*").alias("n_triangles")))
    )


def pagerank_fixed(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-point PageRank over an undirected edge list -- centrality
    of the near-dup graph (template hubs rank high), and the suite's
    second iterative graph algorithm beside connected_components.

    Classic PageRank sums IEEE floats across in-neighbors, which is
    shuffle-order-dependent and can never match another engine bit-for-
    bit.  This is the fixed-point form: ranks are integers scaled by
    ``scale``, each iteration computes
    pr'(v) = base + sum(  (pr(u) * damping) div (100 * deg(u))  )
    with integer division -- associative integer sums, deterministic at
    any parallelism, and mirrored in the oracle by unrolling the fixed
    iteration count as chained CTEs (no recursion, no float).

    Scale shape per iteration: one join pr x edges on the uniform src
    key + one aggregate on dst; the frame is localCheckpoint()ed each
    round (lineage doubles per iteration otherwise -- the r3 lesson).
    Ranks converge toward stationarity with truncation error < iters
    ulps of 1/scale; the VALUE contract is exactness of this fixed
    procedure, not of the real-valued limit.
    """
    if iters < 1 or not (0 < damping_pct < 100) or scale < 1:
        raise ValueError("pagerank_fixed: invalid (iters, damping_pct, scale)")
    fwd = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    # materialize the static frames ONCE: every iteration joins
    # dir_edges, and without the checkpoint the upstream edge derivation
    # (e.g. LSH candidate generation) re-executes per round
    dir_edges = fwd.unionByName(rev).distinct().localCheckpoint()
    deg = dir_edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    nodes = (
        dir_edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )
    base = (scale * (100 - damping_pct)) // 100
    pr = nodes.withColumn("pr", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (
            dir_edges.join(pr, dir_edges["src"] == pr["node"])
            .join(deg, "src")
            .select(
                "dst",
                F.expr(f"(pr * {int(damping_pct)}) div (100 * deg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("in_sum", F.lit(0)))
                .cast("long")
                .alias("pr"),
            )
            .localCheckpoint()
        )
    return pr
