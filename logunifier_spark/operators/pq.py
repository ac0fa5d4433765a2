"""Product quantization (PQ) — compact vector codes for billion-scale
ANN (Jégou et al. 2011), completing the IVF story in similarity.py:
IVF prunes WHICH vectors a query compares against; PQ shrinks WHAT is
compared, replacing a dim-D float vector with m sub-codes (one byte-ish
each) whose codebooks are per-subspace k-means centroids. At 10^12
vectors the raw embeddings are ~300 TB while 8-byte PQ codes are ~8 TB —
the difference between an index that fits the cluster's memory and one
that doesn't.

Numeric spec — kmeans.py's fixed-point discipline end to end: vectors
floor-quantize to int64 (floor(double(x)*scale)), distances are exact
int64 squared L2, ties break toward the smaller centroid id, the Lloyd
update is exact floor division, empty cells keep their previous
centroid, seeds are the k lowest-portable-hash rows. Every number is a
pure function of the input set, so a full value-hash oracle exists: the
DuckDB side re-trains ALL m codebooks via the parameterized
unrolled-Lloyd CTE generator (duck_oracles._kmeans_ctes with
per-subspace prefixes) and must agree bit-for-bit.

Engine shape, measured: evaluating m*k centroid distances per row as
Column expressions is either m*k interpreted HOF folds (zip_with/
aggregate lambdas run on the interpreted path per element) or a fused
scalar tree that blows the JIT method budget (the 400-node lesson) —
both measured 10-20 s for a 5k x 64 corpus at sf0.1. The same math as ONE
Arrow-batched numpy kernel (quantize, broadcast (n,k,d) diff, argmin;
`kernels.vector_udf`) is vectorized C per batch and runs the whole
encode in well under a second. Vectors that fail the reader's validity
rule (NULL, wrong dimension, NULL or NaN element) get NULL codes and
take no part in training. Training assigns ALL m subspaces in one scan
(one UDF), the update is a single posexplode + hash aggregate keyed
(subspace, cluster, pos) — map-side combined to m*k*(D/m) rows
regardless of corpus size — and seeding is ONE collect of the k
lowest-hash full vectors, sliced driver-side. Per iteration: one scan,
one tiny shuffle, exactly like kmeans.py, but m models at once.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from logunifier_spark.operators.kernels import fan_out, vector_udf
from logunifier_spark.operators.kmeans import quantize
from logunifier_spark.operators.stats import grouped_top_k

_LONGS = ArrayType(LongType())


def _quant_np(mat: np.ndarray, scale: int) -> np.ndarray:
    """(n, dim) int64 — numpy mirror of kmeans.quantize over the reader's
    float64 matrix: *scale -> floor. Bit-identical to the Column form
    (same IEEE ops in the same order)."""
    return np.floor(mat * scale).astype(np.int64)


def _sub_assign(q: np.ndarray, cents: list[list[int]], lo: int,
                hi: int) -> tuple[np.ndarray, np.ndarray]:
    """argmin cluster ids + min distances of q[:, lo:hi] against the
    centroid list. np.argmin takes the FIRST minimum — same tie-break
    as the (dist, cid) struct min (smaller cid wins)."""
    sub = q[:, lo:hi]
    c = np.asarray(cents, dtype=np.int64)
    dist = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    ids = dist.argmin(axis=1)
    return ids, dist[np.arange(len(ids)), ids]


def _seed_full(corpus: DataFrame, k: int, scale: int, id_col: str,
               vec_col: str) -> list[list[int]]:
    """The k lowest-portable-hash rows' FULL quantized vectors — ONE
    job via kmeans.seed_centroids (the canonical seeding rule; a
    second copy here would let the two drift apart and break the
    bit-for-bit oracle). Subspace seeds are driver-side slices
    (quantize is element-wise, so slice-then-quantize ==
    quantize-then-slice). Raises when the corpus holds fewer than k
    rows — padding codebooks would silently change every code."""
    from logunifier_spark.operators.kmeans import seed_centroids
    full = seed_centroids(corpus, k, id_col, vec_col, scale)
    if len(full) < k:
        raise ValueError(
            f"corpus has only {len(full)} rows, need k={k} seeds")
    return full


def pq_codebooks(corpus: DataFrame, dim: int, m: int = 8, k: int = 16,
                 iters: int = 1, scale: int = 1000,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[list[list[int]]]:
    """Train the m per-subspace codebooks (each k x dim/m int64,
    driver-held). `dim` is explicit — reading it from data would cost a
    job and make the layout contract implicit. All m subspaces train in
    each single scan (see module docstring); the result is identical to
    m independent kmeans.kmeans_centroids runs on the subvector frames
    (proven in tests and by the oracle)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    full = _seed_full(corpus, k, scale, id_col, vec_col)
    books = [[fs[j * d:(j + 1) * d] for fs in full] for j in range(m)]
    q = fan_out(corpus).select(F.col(vec_col),
                               quantize(F.col(vec_col), scale).alias("_q"))
    for _ in range(iters):
        bks = [list(map(list, b)) for b in books]

        def assign_all(mat: np.ndarray) -> np.ndarray:
            qn = _quant_np(mat, scale)
            return np.column_stack([_sub_assign(qn, bks[j], j * d,
                                                (j + 1) * d)[0]
                                    for j in range(m)])

        # UDF in its own projection; explode in a separate select
        # (CLAUDE.md: keep UDFs out of Generate nodes)
        assigned = q.select("_q", vector_udf(assign_all, dim, _LONGS)(
            F.col(vec_col)).alias("_cl"))
        ex = assigned.select("_cl", F.posexplode("_q").alias("pos", "v"))
        jcol = F.floor(F.col("pos") / F.lit(d)).cast("int")
        upd = (ex.select(jcol.alias("j"),
                         F.element_at(F.col("_cl"), jcol + 1)
                          .alias("cluster"),
                         F.col("pos"), F.col("v"))
                 .groupBy("j", "cluster", "pos")
                 .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                 .collect())
        acc: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
        for r in upd:
            # invalid vectors have no cluster: no part in the update (a
            # Spark filter on it would evaluate the UDF a second time)
            if r["cluster"] is None:
                continue
            acc.setdefault((int(r["j"]), int(r["cluster"])), []).append(
                (int(r["pos"]), int(r["s"]), int(r["n"])))
        books = [
            [[s // n for _, s, n in sorted(acc[(j, cid)])]
             if (j, cid) in acc else books[j][cid]
             for cid in range(k)]
            for j in range(m)
        ]
    return books


def pq_encode(corpus: DataFrame, dim: int, m: int = 8, k: int = 16,
              iters: int = 1, scale: int = 1000, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, code BIGINT, err BIGINT): the packed PQ code and exact
    reconstruction error per vector. bits = ceil(log2 k) per sub-code;
    m*bits must fit an int64 (<= 60). Packed because a bigint is
    groupable / joinable / oracle-hashable where array<int> is awkward
    — and the 8-byte row IS the storage win."""
    bits = max(1, (k - 1).bit_length())
    if m * bits > 60:
        raise ValueError(f"m*bits = {m * bits} exceeds int64 (keep <= 60)")
    d = dim // m
    books = pq_codebooks(corpus, dim, m, k, iters, scale, id_col, vec_col)
    shifts = [1 << (bits * j) for j in range(m)]

    def encode(mat: np.ndarray) -> np.ndarray:
        qn = _quant_np(mat, scale)
        code = np.zeros(len(qn), dtype=np.int64)
        err = np.zeros(len(qn), dtype=np.int64)
        for j in range(m):
            ids, dmin = _sub_assign(qn, books[j], j * d, (j + 1) * d)
            code += ids * shifts[j]
            err += dmin
        return np.column_stack([code, err])

    out = corpus.select(F.col(id_col), vector_udf(encode, dim, _LONGS)(
        F.col(vec_col)).alias("_ce"))
    return out.select(F.col(id_col),
                      F.element_at("_ce", 1).alias("code"),
                      F.element_at("_ce", 2).alias("err"))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, dim: int,
               m: int = 8, k_codes: int = 16, n_cells: int = 8,
               nprobe: int = 2, topk: int = 5, iters: int = 1,
               scale: int = 1000, id_col: str = "vec_id",
               vec_col: str = "embedding",
               qid_col: str = "qid") -> DataFrame:
    """IVF-PQ search — the billion-scale ANN shape: an integer k-means
    coarse quantizer prunes the corpus to `nprobe` cells per query, and
    ranking inside the cells uses the ASYMMETRIC DISTANCE (ADC): the
    exact int64 squared L2 between the quantized query and each doc's
    PQ RECONSTRUCTION, evaluated as per-subspace distance-table lookups
    — the doc's full vector is never touched after encoding (that is
    the memory win; at 10^12 vectors only codes + codebooks stay hot).

    Plan shape: codebooks and coarse centroids are driver literals
    (KiBs); the corpus side is ONE scan through the numpy assign/encode
    UDF (cell + m sub-codes per row); the query side (tiny) precomputes
    its m distance tables (k_codes ints each) BEFORE the join, so the
    cell join — the plan's only shuffle, and broadcast on the query
    side — is followed by m element_at lookups per candidate, not a
    vector fold. Returns (qid, id, adc BIGINT, rank INT).

    Everything is fixed-point, so the whole index — coarse training, m
    codebook trainings, probing, ADC — is value-hash oracled
    cross-engine (the oracle computes ADC by the mathematically-equal
    reconstruction route)."""
    d = dim // m
    books = pq_codebooks(corpus, dim, m, k_codes, iters, scale,
                         id_col, vec_col)
    # the coarse quantizer is the m=1 degenerate of the same trainer —
    # identical spec (and results) to kmeans.kmeans_centroids, through
    # the vectorized path
    cells = pq_codebooks(corpus, dim, 1, n_cells, iters, scale,
                         id_col, vec_col)[0]

    def cell_and_codes(mat: np.ndarray) -> np.ndarray:
        qn = _quant_np(mat, scale)
        cell, _ = _sub_assign(qn, cells, 0, dim)
        return np.column_stack([cell] + [
            _sub_assign(qn, books[j], j * d, (j + 1) * d)[0]
            for j in range(m)])

    enc = (corpus.select(F.col(id_col),
                         vector_udf(cell_and_codes, dim, _LONGS)(
                             F.col(vec_col)).alias("_a"))
                 .select(F.col(id_col),
                         F.element_at("_a", 1).alias("_cell"),
                         *[F.element_at("_a", j + 2).alias(f"_c{j}")
                           for j in range(m)]))
    # query-side probe list + per-subspace ADC tables in ONE numpy UDF
    # row: [probed cells (nprobe)..., dt_0 (k_codes)..., dt_{m-1}...].
    # The HOF/Column form of these ~m*k_codes distance trees ran the
    # tiny query frame fine but cost seconds of driver-side analysis +
    # codegen per run — the tables are data, not plan structure.
    np_cells = np.asarray(cells, dtype=np.int64)

    def query_tables(mat: np.ndarray) -> np.ndarray:
        qn = _quant_np(mat, scale)
        dc = ((qn[:, None, :] - np_cells[None, :, :]) ** 2).sum(axis=2)
        # stable ascending argsort: ties keep the smaller cid, same as
        # the (dist, cid) struct sort
        probe = np.argsort(dc, axis=1, kind="stable")[:, :nprobe]
        parts = [probe]
        for j in range(m):
            b = np.asarray(books[j], dtype=np.int64)
            sub = qn[:, j * d:(j + 1) * d]
            parts.append(((sub[:, None, :] - b[None, :, :]) ** 2)
                         .sum(axis=2))
        return np.concatenate(parts, axis=1)

    qt = queries.select(F.col(qid_col),
                        vector_udf(query_tables, dim, _LONGS)(
                            F.col(vec_col)).alias("_a"))
    qx = qt.select(
        F.col(qid_col),
        *[F.slice(F.col("_a"), nprobe + j * k_codes + 1, k_codes)
          .alias(f"_dt{j}") for j in range(m)],
        F.explode(F.slice(F.col("_a"), 1, nprobe)).alias("_cell"))
    cand = enc.join(F.broadcast(qx), "_cell")
    adc = sum((F.element_at(F.col(f"_dt{j}"),
                            (F.col(f"_c{j}") + 1).cast("int"))
               for j in range(m)), F.lit(0).cast("long"))
    scored = cand.select(F.col(qid_col), F.col(id_col),
                         adc.alias("adc"))
    return grouped_top_k(scored, qid_col, "adc", k=topk, tiebreak=[id_col],
                         ascending=True)
