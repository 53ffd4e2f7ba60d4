"""Similarity search over an embedding table ``(vec_id, embedding)``.

Five searches, one plan: ``_vectors`` projects the corpus to
``(vec_id, e, nrm)`` and ``_rerank_topk`` broadcasts the query rows,
joins them to the corpus (probe keys optional), re-ranks with exact
cosine and keeps the top k per query.  All arithmetic is in double with
a left-fold sum (or int64 for int8 vectors), so the DuckDB oracle
reproduces results bit-for-bit.

  * cosine_topk            exact brute force: every query against the
                           whole corpus.  The baseline and the
                           verification oracle.
  * lsh_topk               random-hyperplane LSH: bucket the corpus by
                           sign signature, probe the query's bucket and
                           its 1-bit neighbours.  Approximate -- tests
                           measure recall against cosine_topk.
  * ivf_topk               IVF over trained k-means cells: probe the
                           query's n_probe nearest cells.
  * ivf_det_topk           the same IVF over md5-derived cells, the
                           oracle-exact twin of ivf_topk.
  * quantized_cosine_topk  exact search over int8-quantized vectors,
                           integer dot products.

``embedding_near_dups`` (bucketed self-join) and ``quantized_centroids``
(integer per-group centroid) share the projection and the quantizer.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _idot(a: Column, b: Column) -> Column:
    """Integer dot product: |q| <= 127, so sum q_a*q_b <= 127^2 * dims
    is int64-safe and exact at any parallelism."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _quantize(vec: Column) -> Column:
    """Symmetric int8 quantization of an array<double>:
    q_i = round(x_i / (amax/127))."""
    amax = F.aggregate(
        F.transform(vec, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.greatest(amax, F.lit(1e-12)) / F.lit(127.0)
    return F.transform(vec, lambda x: F.round(x / scale).cast("long"))


def _vectors(emb: DataFrame, dot: Callable = _dot) -> DataFrame:
    """The corpus as ``(vec_id, e, nrm)``: ``e`` is the embedding as
    array<double>, or its int8 quantization when ``dot`` is ``_idot``.

    The norm is computed ONCE per row: inside a (query, corpus) or
    candidate-pair join it would be re-evaluated per pair (two extra
    array folds per pair).  sqrt-then-multiply is the identical IEEE
    operation order, so sims hash bit-equal.
    """
    e = F.col("embedding").cast("array<double>")
    if dot is _idot:
        e = _quantize(e)
    return emb.select("vec_id", e.alias("e")).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )


def _rerank_topk(
    corpus: DataFrame,
    query_ids: Sequence[int],
    k: int,
    key: Optional[str] = None,
    probes: Optional[Column] = None,
    dot: Callable = _dot,
) -> DataFrame:
    """Top-k exact-cosine neighbours of each query id (self excluded).

    The query rows of ``corpus`` are broadcast as ``(qid, qe, qnrm)``;
    with a ``key``, each is exploded to one row per element of
    ``probes`` (evaluated on the query row) and joined to the corpus
    rows whose ``key`` equals the probe, so the candidate lookup stays a
    broadcast equi-join.  Without a key every corpus row is a candidate.
    Candidates are ranked by ``round(dot(qe, e) / (qnrm * nrm), 8)``.

    The only shuffle is the window's hash partition on qid (|queries|
    keys); WindowGroupLimit cuts each partition to k rows per query
    before it.  At 10^12-doc scale swap the window for a per-partition
    heap aggregation here, for every search at once.
    """
    qcols = [
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    ]
    on = F.col("vec_id") != F.col("qid")
    if key is not None:
        qcols.append(F.explode(probes).alias("probe"))
        on = (F.col(key) == F.col("probe")) & on
    queries = corpus.filter(F.col("vec_id").isin(list(query_ids))).select(*qcols)
    sim = F.round(
        dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm")), 8
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        F.broadcast(queries)
        .join(corpus, on)
        .select("qid", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(emb: DataFrame, query_ids: Sequence[int], k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded):
    corpus scan -> broadcast nested-loop join of the tiny query side ->
    codegen'd dot fold -> window top-k."""
    return _rerank_topk(_vectors(emb), query_ids, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> List[List[float]]:
    """Deterministic pseudo-random unit hyperplanes (md5-driven, no RNG
    state -- identical on every executor and every run)."""
    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            digest = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            u = int.from_bytes(digest[:8], "big") / 2**64  # [0,1)
            v = int.from_bytes(digest[8:], "big") / 2**64
            # Box-Muller for a gaussian component
            vec.append(
                math.sqrt(-2.0 * math.log(u + 1e-12)) * math.cos(2 * math.pi * v)
            )
        planes.append(vec)
    return planes


def lsh_bucket(vec_col: Column, planes: List[List[float]]) -> Column:
    """Sign-signature bucket id from the hyperplane table (built-ins only:
    the plane table is a literal array, folded JVM-side)."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        d = _dot(vec_col, lit_plane)
        bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc_a < doc_b, sim >= t).

    Scale path: both sides hashed to LSH sign buckets (one projection),
    candidates = pairs sharing a bucket (equi-join on the bucket key, one
    uniform shuffle), exact cosine verified on candidates only.  Two
    vectors with cosine >= 0.9 agree on each hyperplane with high
    probability, so recall is high for true near-dups while the join
    touches ~1/2^n_planes of all pairs.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    hashed = _vectors(emb).withColumn("bucket", lsh_bucket(F.col("e"), planes))
    l, r = hashed.alias("l"), hashed.alias("r")
    sim = F.round(
        _dot(F.col("l.e"), F.col("r.e")) / (F.col("l.nrm") * F.col("r.nrm")),
        8,
    )
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("doc_a"),
            F.col("r.vec_id").alias("doc_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _ivf_core(
    corpus: DataFrame,
    query_ids: Sequence[int],
    k: int,
    n_probe: int,
    centroids: List[List[float]],
) -> DataFrame:
    """Shared IVF search: assign cells, probe, exact-cosine re-rank.

    At corpus scale the cell assignment is a one-off projection (write
    ``cell`` as a partition column) and a query touches only
    n_probe/n_cells of the data; here the index is built inline.
    """

    def _nearest_cells(vec_column: Column, n: int) -> Column:
        """Array of the n nearest centroid ids (squared-L2, built-ins)."""
        dists = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            vec_column,
                            F.array(*[F.lit(x) for x in c]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.slice(
            F.transform(F.array_sort(dists), lambda s: s["cell"]), 1, n
        )

    indexed = corpus.withColumn(
        "cell", F.element_at(_nearest_cells(F.col("e"), 1), 1)
    )
    return _rerank_topk(
        indexed, query_ids, k, "cell", _nearest_cells(F.col("e"), n_probe)
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index, trained cells.

    Train-once k-means centroids partition the corpus into ``n_cells``
    cells; each query probes its ``n_probe`` nearest cells and re-ranks
    candidates with exact cosine.

    Deterministic run-to-run (KMeans seeded; centroid order stable for a
    fixed input) but not SQL-mirrorable -- verified by recall tests; use
    ``ivf_det_topk`` for the oracle-exact variant.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = _vectors(emb)
    featurized = corpus.select(array_to_vector("e").alias("features"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(featurized)
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return _ivf_core(corpus, query_ids, k, n_probe, centroids)


def det_centroids(
    dim: int, n_cells: int, seed: int = 11, scale: float = 0.5
) -> List[List[float]]:
    """Deterministic pseudo-random centroids (md5-driven like
    ``_hyperplanes``): identical on every executor, every run, and
    mirrorable as SQL literals in the DuckDB oracle.  Quality is below
    trained k-means (cells are not data-adapted) -- this is the
    verification twin, ``ivf_topk`` is the quality path."""
    return [
        [x * scale for x in plane]
        for plane in _hyperplanes(dim, n_cells, seed=seed)
    ]


def ivf_det_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 11,
) -> DataFrame:
    """IVF top-k with deterministic md5-derived centroids: exact-oracle
    variant of ``ivf_topk`` (same probe/re-rank plan, fixed cells)."""
    centroids = det_centroids(dim, n_cells, seed=seed)
    return _ivf_core(_vectors(emb), query_ids, k, n_probe, centroids)


def lsh_topk(
    emb: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: multi-probe sign-signature LSH.

    2^n_planes buckets; corpus hashed once (projection).  The tiny query
    side is *expanded* to its own bucket and the n_planes buckets at
    hamming distance 1, so the candidate lookup stays a broadcast
    equi-join on the bucket key -- no cross join, no skew -- while
    recall rises with the probe count.  Exact cosine re-ranks inside the
    candidate set.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    corpus = _vectors(emb).withColumn("bucket", lsh_bucket(F.col("e"), planes))
    bucket = F.col("bucket")
    probes = F.array(
        bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    )
    return _rerank_topk(corpus, query_ids, k, "bucket", probes)


def quantized_cosine_topk(
    emb: DataFrame, query_ids: Sequence[int], k: int = 5
) -> DataFrame:
    """Top-k cosine neighbors over INT8-quantized vectors.

    Symmetric scalar quantization cuts the vector footprint 4-8x -- the
    standard memory lever for billion-vector ANN.  Key identity: the
    per-vector scales cancel in the cosine, so similarity is computed
    ENTIRELY in integer dot products -- deterministic at any parallelism
    and bit-reproducible in the SQL oracle, unlike any float-accumulation
    scheme.  Same plan as cosine_topk; recall vs the exact float cosine
    is asserted in tests (int8 typically preserves the top-k set on
    normalized-ish embeddings).
    """
    return _rerank_topk(_vectors(emb, _idot), query_ids, k, dot=_idot)


def quantized_centroids(emb: DataFrame, group_col: str = "label") -> DataFrame:
    """Per-group embedding centroid computed ENTIRELY in integer space.

    Float vector averaging is shuffle-order-dependent (double addition
    does not associate), so a naive per-dimension mean is not
    reproducible across runs, engines, or retries.  This operator
    int8-quantizes each vector with the same symmetric scheme as
    quantized_cosine_topk (scales are per-vector, quantized values are
    exact integers), sums per (group, dimension) as int64 -- EXACT and
    order-independent -- and divides once at the end (IEEE division,
    bit-reproducible).  The result is the centroid of the quantized
    vectors: the right anchor artifact for IVF cell seeding, drift
    monitoring, or class prototypes, where reproducibility matters more
    than the (bounded, ~1/254) quantization error.

    Plan: posexplode (JVM generator) -> one uniform (group, dim)
    aggregate, map-side combined.  int64 safety: |q| <= 127, so a group
    would need > 7e16 vectors to overflow.
    """
    quant = _quantize(F.col("embedding").cast("array<double>"))
    exploded = emb.select(
        F.col(group_col).alias("grp"), F.posexplode(quant).alias("dim", "qv")
    )
    return exploded.groupBy("grp", "dim").agg(
        F.sum("qv").alias("sum_q"),
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum("qv").cast("double") / F.count("*"), 6
        ).alias("centroid_q"),
    )
