"""Random projection (Johnson–Lindenstrauss) — deterministic
dimensionality reduction for embedding columns, the standard
pre-conditioner before ANN indexing at scale: a 768-dim float corpus
is ~3 TB/10^9 vectors, its 16-dim sketch is ~64 GB, and JL guarantees
pairwise distances distort by at most (1±eps) with r = O(log n / eps^2)
components. Achlioptas (2003) showed dense ±1 sign matrices achieve the
same guarantee as Gaussian ones — which makes the projection matrix a
pure FUNCTION of (component, input-index) under a portable integer
hash: no matrix to store, broadcast, or version, and any engine can
regenerate it bit-identically (the DuckDB oracle does exactly that).

Numeric spec — the repo's fixed-point discipline (kmeans.py / pq.py):
each term is floor(double(x) * sign * 2^scale_bits) as exact int64
(float32 -> float64 widening is exact; multiplying by ±1 and by a
power of two is exact; floor is exact), and the component value is the
plain int64 SUM of its terms — order-free, so partial aggregation,
partitioning, and engine differences cannot move a bit. The double
`val` returned alongside is val_fp / 2^scale_bits, exact again
(division by a power of two). Magnitude bound: unit-ish embedding
entries at scale_bits=20 give |term| < ~2^24, so dim up to 2^38 before
int64 could overflow — unreachable.

Sign spec (mirrored literally in duck_oracles.rp_project_sql): for
output component j and input index i (both 0-based),
  t    = j * dim + i
  h    = ((t % 2^31) * 2654435761 + 12345) % 2^31
  sign = +1 if (h >> 15) & 1 else -1
The mod-2^31 reduction precedes the multiply (CLAUDE.md: id*MULT
overflows int64 otherwise); bit 15 avoids the LCG's weak low bits.

Engine shape — one Arrow-batched numpy kernel per row batch
(`kernels.vector_udf`; the pq.py lesson: per-component Column folds are
interpreted-HOF slow and the fused scalar tree deopts the JIT at this
term count); the matrix S (r x dim) is built once from the hash spec
and rides in the kernel's closure, the batch computes
floor((v * sign) * 2^bits) summed along dim — vectorized C. No
shuffle at all: the projection is a row-local map; the long-format
explode stays in codegen (UDF out of the Generate node, CLAUDE.md).
Vectors that fail the reader's validity rule (NULL, wrong dimension,
NULL or NaN element) have no sketch rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from logunifier_spark.operators.kernels import fan_out, vector_udf

RP_MULT = 2_654_435_761
RP_OFF = 12_345
_MOD31 = 2_147_483_648


def rp_sign_matrix(dim: int, r: int) -> np.ndarray:
    """(r, dim) int64 ±1 Achlioptas sign matrix from the portable hash —
    regenerated identically everywhere (executors, the driver, the SQL
    oracle); never stored or shuffled."""
    t = (np.arange(r, dtype=np.int64)[:, None] * dim
         + np.arange(dim, dtype=np.int64)[None, :])
    h = ((t % _MOD31) * RP_MULT + RP_OFF) % _MOD31
    return np.where((h >> 15) & 1 == 1, 1, -1).astype(np.int64)


def rp_project(emb: DataFrame, dim: int, r: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               scale_bits: int = 20) -> DataFrame:
    """(id_col, comp, val_fp, val): the r-component JL sketch of each
    vector in long format — comp is the 0-based output component,
    val_fp the exact fixed-point int64 component, val = val_fp /
    2^scale_bits (exact double). Row-local map, zero shuffles."""
    scale = float(1 << scale_bits)
    signs = rp_sign_matrix(dim, r)  # (r, dim)

    def _project(v: np.ndarray) -> np.ndarray:
        # terms[n, j, i] = floor(v[n, i] * sign[j, i] * 2^bits) — exact
        terms = np.floor(v[:, None, :] * signs[None, :, :] * scale)
        return terms.astype(np.int64).sum(axis=2)  # (n, r) exact int64

    e = fan_out(emb).select(
        F.col(id_col), vector_udf(_project, dim, ArrayType(LongType()))(
            F.col(vec_col)).alias("_proj"))
    return (e.select(id_col, F.posexplode("_proj").alias("comp", "val_fp"))
             .select(F.col(id_col), F.col("comp").cast("long").alias("comp"),
                     F.col("val_fp"),
                     (F.col("val_fp") / F.lit(scale)).alias("val")))
