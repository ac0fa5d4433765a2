"""Python-UDF stages. Every scalar Python UDF in the package is an
`arrow_udf`, and `fan_out` sizes the stage that runs it.

`fan_out` repartitions an input too small to give every core a task.
It reads the optimized plan's size estimate, so it runs no job.

A vector column scored against a driver-held constant matrix (query
battery, hyperplanes, centroids, codebooks, sign matrix) runs as ONE
numpy kernel per Arrow batch through `vector_udf`.

`read_vectors` turns the Arrow `list<float>` column into a float64
(n_valid, dim) matrix without a per-row Python loop (filter, flatten,
reshape); the kernel only ever sees valid rows, and `vector_udf`
scatters its result back with SQL NULL for the invalid ones. So every
kernel degrades the same way on a bad row: a NULL result, which drops
out of the equi-joins, explodes and rank windows downstream. Joined
(vec, vec) pairs are NOT scored here: they use the Column fold
`similarity.cosine` (a Python UDF over a joined pair frame pays the
Arrow transfer of both vectors per pair, and measured slower).

NaN must never reach a result: `arrow_udf` ships a NaN result as NaN
(the pandas serializer turned it into NULL), and Spark orders NaN above
every double, so one NaN element would rank first in a descending
top-k. The validity rule below is what keeps it out.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType


def _input_bytes_estimate(df: DataFrame) -> int:
    """Catalyst's size estimate of the optimized plan (file sources report
    real on-disk bytes; unknown sources report defaultSizeInBytes ≈ 2^63,
    which conservatively disables any small-input fast path)."""
    try:
        # py4j converts the scala BigInt to a Python int directly
        return int(df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
                     .stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return 1 << 62


def fan_out(df: DataFrame) -> DataFrame:
    """`df` repartitioned to the session's parallelism when it is too
    small to give every core a task, else `df` unchanged.

    A file scan splits at `spark.sql.files.maxPartitionBytes`, so an
    input estimated under parallelism × that size scans as fewer tasks
    than there are cores (one, for a one-file corpus), and a Python-UDF
    stage over it runs on that many cores. The decision reads the
    optimized plan's size estimate: no job, whatever the input's plan.
    At production scale the input is larger and this is a no-op."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    split = (spark._jsparkSession.sessionState()  # noqa: SLF001
             .conf().filesMaxPartitionBytes())
    if _input_bytes_estimate(df) < target * split:
        return df.repartition(target)
    return df


def read_vectors(v: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(float64 matrix of the valid rows, valid mask over all rows).

    A row is valid iff it is non-NULL, has exactly `dim` elements, and
    none of them is NULL or NaN. float32 -> float64 widening is exact,
    so kernels see the same values as the Column folds' cast("double")."""
    valid = pc.fill_null(v.value_lengths(), -1).to_numpy() == dim
    rows = v if valid.all() else v.filter(pa.array(valid))
    # flatten() honours the array's offset and slicing; .values would
    # not. A NULL element arrives as NaN in to_numpy.
    mat = (rows.flatten().to_numpy(zero_copy_only=False)
               .reshape(len(rows), dim).astype(np.float64, copy=False))
    finite = ~np.isnan(mat).any(axis=1)
    if not finite.all():
        valid[np.flatnonzero(valid)[~finite]] = False
        mat = mat[finite]
    return mat, valid


def _scatter(out: np.ndarray, valid: np.ndarray, typ: pa.DataType) -> pa.Array:
    """Kernel output for the valid rows -> a full-length Arrow array of
    `typ` with NULL at the invalid rows: a primitive array for a 1-D
    output, a list array built from offsets for an (n, w) output."""
    n = len(valid)
    if pa.types.is_list(typ):
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.where(valid, out.shape[1], 0), out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(out.ravel(), type=typ.value_type),
            type=typ, mask=None if valid.all() else pa.array(~valid))
    full = np.zeros(n, dtype=out.dtype)
    full[valid] = out
    return pa.array(full, type=typ, mask=~valid)


def vector_udf(kernel: Callable[[np.ndarray], np.ndarray], dim: int,
               return_type: DataType):
    """An `arrow_udf` over one array<float> column: `kernel` maps the
    (n_valid, dim) float64 matrix of valid rows to one result row each
    ((n_valid,) or (n_valid, w)); invalid rows, empty batches and
    all-invalid batches yield NULL without calling it. The kernel's
    constants ride in its closure."""
    typ = to_arrow_type(return_type)

    def _udf(v: pa.Array) -> pa.Array:
        mat, valid = read_vectors(v, dim)
        if not valid.any():
            return pa.nulls(len(valid), type=typ)
        return _scatter(np.asarray(kernel(mat)), valid, typ)

    return F.arrow_udf(_udf, returnType=return_type)
