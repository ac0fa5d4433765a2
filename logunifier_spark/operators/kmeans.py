"""Fixed-point k-means over embedding columns — corpus clustering for
mixture balancing / semantic dedup shards.

Classic Lloyd iterations in the scalable broadcast-centroids shape:

  - centroids live on the DRIVER (k x dim ints, a few KiB) and ride in
    the assignment kernel's closure, so cell assignment is a zero-shuffle
    projection —
    the corpus is scanned once per iteration and never joined/multiplied;
  - the per-iteration update shuffles only k*dim (cid, pos, partial-sum)
    rows after map-side combine, independent of corpus size;
  - iterations are a driver loop of narrow jobs — at 1000 executors each
    iteration is one scan + one tiny agg, the canonical pattern MLlib's
    KMeans uses underneath.

Everything is INTEGER-exact so results are reproducible across engines,
partitionings, and retries (and value-hash oracleable, which float
k-means never is): vectors are quantized to BIGINT via floor(x * scale),
distances are int64 squared-L2, the centroid update is exact floor
division. Doubles appear only inside floor(sum/cnt) where both sum and
the quotient are < 2^53 for any realistic corpus (|sum| <= n_rows *
scale * max|x|; at 10^12 rows x scale 1000 that is ~10^15 < 2^53 — note
in the docstring contract, checked nowhere hot).

Assignment is one numpy kernel per Arrow batch (`assign_np_udf`, through
kernels.vector_udf): the k-centroid distance battery as Column folds is
interpreted per element, or, as a fused scalar tree, outgrows the JIT
method budget and deoptimizes the whole stage (the pq.py lesson).
Vectors that fail the reader's validity rule (NULL, wrong dimension,
NULL or NaN element) get a NULL assignment and take no part in the
centroid update.

No reference counterpart (the reference is a log pipeline); this extends
the training-data toolkit next to similarity.py's IVF index, sharing its
deterministic lowest-portable-hash seeding.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from logunifier_spark.operators.kernels import fan_out, vector_udf


def quantize(vec: Column, scale: int = 1000) -> Column:
    """array<float> -> array<bigint> via floor(double(x) * scale): floor is
    bit-identical on every engine (round() half-way ties are not)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long"))


def assign_np_udf(cents: list[list[int]], scale: int):
    """array<float> embedding -> array<long> [cluster, dist]: the nearest
    centroid and its int64 squared distance, one numpy batch per Arrow
    chunk. Same quantization as `quantize` (pq._quant_np), exact int64
    squared-L2, argmin ties to the smaller cid. The UDF takes the RAW
    vector column (a quantize() HOF as a UDF argument breaks
    ExtractPythonUDFs) and quantizes inside. Invalid vectors get NULL."""
    # function-level import: pq imports quantize from this module
    from logunifier_spark.operators.pq import _quant_np, _sub_assign

    dim = len(cents[0])

    def _assign(mat: np.ndarray) -> np.ndarray:
        ids, dmin = _sub_assign(_quant_np(mat, scale), cents, 0, dim)
        return np.column_stack([ids, dmin])

    return vector_udf(_assign, dim, ArrayType(LongType()))


def seed_centroids(corpus: DataFrame, k: int, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   scale: int = 1000) -> list[list[int]]:
    """Deterministic seeds: the k vectors with the lowest portable hash of
    id (same injective-on-int32 family as sampling/ivf — plain-SQL
    expressible), quantized. Ties broken by id. Raises when the corpus
    holds fewer than k rows (mirrors pq._seed_full): a short seed list
    would make the Lloyd update's cents[cid] IndexError later with no
    hint at the cause, and padding seeds would silently change every
    assignment."""
    from logunifier_spark.operators.sampling import _portable_hash
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = (corpus
            .withColumn("_r", _portable_hash(F.col(id_col)))
            .orderBy("_r", id_col).limit(k)
            .select(quantize(F.col(vec_col), scale).alias("_q")).collect())
    if len(rows) < k:
        raise ValueError(
            f"corpus has only {len(rows)} rows, need k={k} seeds")
    return [list(r["_q"]) for r in rows]


def kmeans_centroids(corpus: DataFrame, k: int = 8, iters: int = 2,
                     scale: int = 1000, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[list[int]]:
    """Run `iters` exact Lloyd iterations and return the FINAL centroids
    (k x dim int64, driver-held — a few KiB). Downstream consumers embed
    them as literals so assignment stays a zero-shuffle projection
    (`kmeans_fixed_point` for the per-row assignment table, `semdedup`
    for within-cluster pruning).

    Per iteration: assignment is a zero-shuffle projection against
    centroid literals; the update is posexplode -> groupBy (cluster, pos)
    -> sum/count (map-side combined to k*dim rows) -> driver floor-div.
    A cluster that captures no rows keeps its previous centroid."""
    # fan_out: a small corpus scans as fewer tasks than cores, serializing
    # the per-iteration distance projections. Assignment is row-local and
    # the update sums are integers, so the result is partitioning-invariant.
    q = fan_out(corpus).select(F.col(vec_col),
                               quantize(F.col(vec_col), scale).alias("_q"))
    cents = seed_centroids(corpus, k, id_col, vec_col, scale)
    for _ in range(iters):
        assigned = q.select(
            "_q", F.element_at(assign_np_udf(cents, scale)(F.col(vec_col)), 1)
            .alias("cluster"))
        upd = (assigned
               .select("cluster", F.posexplode("_q").alias("pos", "v"))
               .groupBy("cluster", "pos")
               .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
               .collect())
        by_cid: dict[int, list[tuple[int, int, int]]] = {}
        for r in upd:
            # invalid vectors have no cluster: no part in the update (a
            # Spark filter on it would evaluate the UDF a second time)
            if r["cluster"] is None:
                continue
            by_cid.setdefault(int(r["cluster"]), []).append(
                (int(r["pos"]), int(r["s"]), int(r["n"])))
        cents = [
            [s // n for _, s, n in sorted(by_cid[cid])]  # Python // floors
            if cid in by_cid else cents[cid]
            for cid in range(k)
        ]
    return cents


def kmeans_fixed_point(corpus: DataFrame, k: int = 8, iters: int = 2,
                       scale: int = 1000, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Train via `kmeans_centroids`, then return one row per input row:
    (id, cluster, dist) with the FINAL assignment and its squared
    distance, all BIGINT (both NULL for an invalid vector)."""
    cents = kmeans_centroids(corpus, k, iters, scale, id_col, vec_col)
    # fan_out: the Arrow UDF stage otherwise serializes onto one task
    # for a one-file corpus (same rationale as the training passes)
    near_df = fan_out(corpus).select(
        F.col(id_col),
        assign_np_udf(cents, scale)(F.col(vec_col)).alias("_nc"))
    return near_df.select(F.col(id_col),
                          F.element_at("_nc", 1).alias("cluster"),
                          F.element_at("_nc", 2).alias("dist"))
