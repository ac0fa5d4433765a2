"""Hostile vectors through every vector entry point.

A corpus of 40 clean dim-4 vectors is run with and without four bad rows
(NULL vector, wrong length, NULL element, NaN element). A bad row must
get NULL in assigned/encoded frames and be absent from pair, top-k and
sketch output, and every clean row's output must be identical to the run
without the bad rows. The bad ids hash above every clean id, so they are
never among the seeds of the trained operators. Empty frames must not
crash the kernels.
"""

import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

MOD = 2_147_483_648
MULT = 2_654_435_761
DIM = 4
SCHEMA = "vec_id long, embedding array<float>"


def _phash(i):
    return ((i % MOD) * MULT) % MOD


def _bad_ids(n=4):
    top = max(_phash(i) for i in range(40))
    return [i for i in range(1000, 100_000) if _phash(i) > top][:n]


BAD = dict(zip(_bad_ids(), [None, [0.5, 0.5, 0.5],
                            [0.5, None, 0.5, 0.5],
                            [0.5, math.nan, 0.5, 0.5]]))


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, DIM)).astype("float32")
    base[1] = base[0] + 0.01 * rng.normal(size=DIM).astype("float32")
    clean = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)], SCHEMA)
    bad = spark.createDataFrame(list(BAD.items()), SCHEMA)
    return clean, clean.unionByName(bad), bad


def _queries(df):
    return (df.where(F.col("vec_id") < 3)
              .select(F.col("vec_id").alias("qid"), "embedding"))


def _rows(df):
    return sorted(df.collect(), key=repr)


def _ids(rows):
    cols = ("vec_id", "id_a", "id_b", "qid")
    return {v for r in rows for k, v in r.asDict().items() if k in cols}


def _scored_entry_points():
    from logunifier_spark.operators.pq import ivfpq_topk
    from logunifier_spark.operators.projection import rp_project
    from logunifier_spark.operators.semdedup import semdedup_pairs
    from logunifier_spark.operators.similarity import (
        brute_force_topk, embedding_neardup_pairs, ivf_topk, lsh_topk)
    return {
        "brute_force_topk": lambda df: brute_force_topk(
            df, _queries(df), k=5),
        "lsh_topk": lambda df: lsh_topk(df, _queries(df), dim=DIM, k=5,
                                        n_bits=3),
        "ivf_topk": lambda df: ivf_topk(df, _queries(df), k=5,
                                        n_centroids=4, nprobe=2),
        "ivfpq_topk": lambda df: ivfpq_topk(
            df, _queries(df), dim=DIM, m=2, k_codes=4, n_cells=4,
            nprobe=2, topk=5),
        "rp_project": lambda df: rp_project(df, dim=DIM, r=3),
        "neardup_brute_reps": lambda df: embedding_neardup_pairs(
            df, dim=DIM, threshold=0.45),
        "neardup_exact": lambda df: embedding_neardup_pairs(
            df, dim=DIM, threshold=0.45, exact=True),
        "neardup_banded": lambda df: embedding_neardup_pairs(
            df, dim=DIM, threshold=0.45, exact_max_reps=1),
        "semdedup_pairs": lambda df: semdedup_pairs(
            df, k=4, iters=2, threshold=0.9),
    }


@pytest.mark.parametrize("name", list(_scored_entry_points()))
def test_bad_vectors_absent_and_clean_rows_unchanged(spark, frames, name):
    clean, dirty, _ = frames
    fn = _scored_entry_points()[name]
    want, got = _rows(fn(clean)), _rows(fn(dirty))
    assert want, "the clean run must produce rows"
    assert not _ids(got) & set(BAD)
    assert got == want


@pytest.mark.parametrize("name", ["kmeans_k4", "kmeans_k20", "pq_encode"])
def test_bad_vectors_get_null_assignment(spark, frames, name):
    from logunifier_spark.operators.kmeans import kmeans_fixed_point
    from logunifier_spark.operators.pq import pq_encode
    fn = {"kmeans_k4": lambda df: kmeans_fixed_point(df, k=4, iters=2),
          "kmeans_k20": lambda df: kmeans_fixed_point(df, k=20, iters=2),
          "pq_encode": lambda df: pq_encode(df, dim=DIM, m=2, k=4,
                                            iters=1)}[name]
    clean, dirty, _ = frames
    want = _rows(fn(clean))
    got = _rows(fn(dirty))
    assert [r for r in got if r[0] not in BAD] == want
    assert sorted(tuple(r) for r in got if r[0] in BAD) == \
        sorted((i, None, None) for i in BAD)


def test_hyperplane_bucket_null_for_bad_vectors(spark, frames):
    from logunifier_spark.operators.similarity import hyperplane_bucket
    clean, dirty, bad = frames
    b = dict(dirty.select("vec_id", hyperplane_bucket(
        F.col("embedding"), DIM, 3)).collect())
    assert {i for i, v in b.items() if v is None} == set(BAD)
    # an all-invalid frame: every row NULL, no kernel call needed
    assert {v for _, v in bad.select("vec_id", hyperplane_bucket(
        F.col("embedding"), DIM, 3)).collect()} == {None}


def test_empty_frames(spark, frames):
    from logunifier_spark.operators.kmeans import kmeans_fixed_point
    from logunifier_spark.operators.pq import ivfpq_topk, pq_encode
    from logunifier_spark.operators.semdedup import semdedup_pairs
    from logunifier_spark.operators.similarity import (
        brute_force_topk, hyperplane_bucket)
    clean, _, _ = frames
    empty = clean.where(F.lit(False))
    q = _queries(clean)
    assert brute_force_topk(empty, q, k=5).count() == 0
    assert empty.select(hyperplane_bucket(F.col("embedding"), DIM,
                                          3)).count() == 0
    for name, fn in _scored_entry_points().items():
        if name in ("ivfpq_topk", "semdedup_pairs"):
            continue  # trained: need k seed rows (below)
        assert fn(empty).count() == 0, name
    for fn in (lambda: kmeans_fixed_point(empty, k=4),
               lambda: pq_encode(empty, dim=DIM, m=2, k=4),
               lambda: semdedup_pairs(empty, k=4),
               lambda: ivfpq_topk(empty, q, dim=DIM, m=2, k_codes=4,
                                  n_cells=4)):
        with pytest.raises(ValueError, match="need k=4 seeds"):
            fn()


def test_read_vectors_validity_rule():
    from logunifier_spark.operators.kernels import read_vectors
    arr = pa.array([[1, 2, 3, 4], None, [1, 2, 3], [1, None, 3, 4],
                    [1, math.nan, 3, 4], [5, 6, 7, 8]],
                   type=pa.list_(pa.float32()))
    mat, valid = read_vectors(arr, 4)
    assert valid.tolist() == [True, False, False, False, False, True]
    assert mat.dtype == np.float64
    assert mat.tolist() == [[1, 2, 3, 4], [5, 6, 7, 8]]
    # a sliced batch keeps its offset: flatten(), not .values
    mat, valid = read_vectors(arr.slice(4), 4)
    assert valid.tolist() == [False, True] and mat.tolist() == [[5, 6, 7, 8]]
    mat, valid = read_vectors(arr.slice(0, 0), 4)
    assert mat.shape == (0, 4) and valid.shape == (0,)
