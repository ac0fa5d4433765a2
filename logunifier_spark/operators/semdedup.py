"""SemDeDup — semantic deduplication of an embedding-indexed corpus.

The SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): cluster the
embedding space with k-means, then look for near-identical pairs ONLY
within each cluster — the O(n²) all-pairs cosine compare becomes
O(sum over clusters of |c|²), and with k chosen so clusters average a
few thousand docs the quadratic term is bounded per cluster.

Spark shape, built for 10^12 rows:

  - clustering is `kmeans.kmeans_centroids` — integer-exact Lloyd with
    driver-held centroids, so the final assignment here is a ZERO-shuffle
    projection through the numpy assignment kernel (no assignment table,
    no join back to the corpus: the corpus is scanned once for training
    stats per iteration and once for the pairing pass);
  - the within-cluster self-join shuffles the corpus once on `cluster`.
    Join-key cardinality = k, so k IS the parallelism of the pairing
    stage: size k so the average cluster holds ~10^3-10^4 docs (the paper
    uses 110k clusters for 5B docs) and the per-task pair work stays
    bounded. A degenerate giant cluster (boilerplate corpus) is the same
    failure mode as a hot minhash bucket — collapse exact duplicates
    first (`dedup.exact_dedup`), or cap with `max_cluster`;
  - `max_cluster` (opt-in) drops clusters larger than the cap from the
    pairing pass entirely — the count is one tiny agg over the
    assignment projection, and the filter is a broadcast semi-join on at
    most k rows. The drop is reported like every pair-family cap
    (`dedup.capped_counts`): the result's `hot_bucket_observation`.

Cluster assignment is kmeans.py's integer numpy kernel and the pair
cosine is similarity.py's Column fold (see those modules for why the
arithmetic is engine-portable), so the whole pipeline carries a DuckDB
value-hash oracle (duck_oracles.semdedup_pairs_sql) despite being an
iterative algorithm. A vector that fails the kernel reader's validity
rule (NULL, wrong dimension, NULL or NaN element) gets a NULL cluster
and pairs with nothing.

No reference counterpart (the reference is a log pipeline;
/root/reference has no embedding ops) — this extends the training-data
toolkit: dedup.py removes textual near-dups, this removes SEMANTIC ones
(same content re-phrased, translations, re-renders) that no shingle
family can see.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logunifier_spark.operators.dedup import (
    capped_counts,
    exact_groups,
    expand_rep_pairs,
)
from logunifier_spark.operators.kmeans import assign_np_udf, kmeans_centroids
from logunifier_spark.operators.similarity import cosine, norm

#: the paper's target mean cluster population — k defaults to
#: ceil(n / PAPER_TARGET) so per-cluster pair work stays bounded as the
#: corpus grows (Abbas et al. use 110k clusters for 5B docs, i.e. clusters
#: of O(10^4); 4096 keeps the within-cluster quadratic term ~10^7 pairs).
PAPER_TARGET = 4096


def auto_k(n_rows: int, target: int = PAPER_TARGET) -> int:
    """Scale-aware cluster count: k = max(8, ceil(n/target)). Callers who
    don't size k themselves get a pairing stage whose AVERAGE cluster
    holds <= `target` docs — the join-key cardinality (and thus the
    pairing parallelism) grows with the corpus instead of each task's
    quadratic work."""
    return max(8, math.ceil(n_rows / max(target, 1)))


def semdedup_pairs(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int | None = None,
                   iters: int = 2, scale: int = 1000, threshold: float = 0.7,
                   max_cluster: int | None = None,
                   collapse_exact: bool = True) -> DataFrame:
    """Within-cluster near-duplicate pairs: (cluster, id_a, id_b, cos)
    with cos >= threshold, cos rounded to 4 places (same float discipline
    as embedding_neardup — dot/norm in ordered double-precision folds).

    A pair is reported only if BOTH ends land in the same k-means
    cluster — the deliberate approximation that buys the paper its
    scalability; raise k for finer recall control, not the threshold.

    ROUND 5 scale defaults:
      - k=None sizes itself via `auto_k` (max(8, ceil(n/4096)), counted
        AFTER the collapse) — callers who don't read the paper get the
        bounded plan; pass k explicitly to pin it (the entry pins k=8 so
        its oracle SQL is a fixed string).
      - collapse_exact=True runs the pairing pass on one representative
        per distinct VECTOR and expands pairs back afterwards (the r4
        soak lesson: c exact clones otherwise multiply within-cluster
        pair work by c² — the sf1.0 corpus is 20k rows but only 2k
        distinct vectors). Centroids still train on the FULL corpus, so
        cluster assignment — a pure function of the vector — is
        unchanged and clones inherit their representative's cluster;
        expanded output is identical to the uncollapsed run (within-
        group pairs get the rep's self-cosine from the same expression).
        With the collapse ON, `max_cluster` counts DISTINCT vectors per
        cluster (the minhash hot-bucket cap rationale). The collapse and
        the expansion are the pair family's shared steps in dedup.py.

    The returned frame's `hot_bucket_observation` (None when
    `max_cluster` is None) reports, after the first action on it, how
    many clusters the cap dropped (`capped_buckets`) and the largest
    cluster population (`max_bucket_rows`)."""
    members = None
    corpus = emb
    if collapse_exact:
        members, corpus = exact_groups(emb, F.col(vec_col), id_col)
        # reps feed the auto_k count plus the pairing pass
        corpus = corpus.localCheckpoint(eager=False)
    if k is None:
        k = auto_k(corpus.count())
    cents = kmeans_centroids(emb, k, iters, scale, id_col, vec_col)
    # The norm is per ROW here, not per pair: the interpreted aggregate
    # fold is the pairing stage's unit cost, and norm-per-pair would
    # triple it for identical doubles (same fold, same input). The
    # kernel takes the RAW plain column (a quantize() HOF as a UDF
    # argument breaks ExtractPythonUDFs).
    assigned = (corpus
                .select(F.col(id_col), F.col(vec_col).alias("_v"))
                .withColumn("cluster", F.element_at(
                    assign_np_udf(cents, scale)(F.col("_v")), 1))
                .select(id_col, "_v", norm(F.col("_v")).alias("_nrm"),
                        "cluster"))
    hot_obs = None
    if max_cluster is not None:
        small, hot_obs = capped_counts(
            assigned.groupBy("cluster").agg(F.count("*").alias("_n")),
            max_cluster)
        assigned = assigned.join(F.broadcast(small.select("cluster")),
                                 "cluster", "left_semi")
    # alias-style self-join, NOT two renamed projections: both sides then
    # canonicalize to the SAME plan, so the shuffle-join path plans ONE
    # scan + one Exchange with a ReusedExchange on the probe side —
    # renamed projections defeat the reuse rule and read the corpus twice
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = cosine(F.col("a._v"), F.col("b._v"), F.col("a._nrm"),
                 F.col("b._nrm"))
    pairs = (a.join(b, on=F.col("a.cluster") == F.col("b.cluster"))
              .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
              .where(cos >= threshold)
              .select(F.col("a.cluster").alias("cluster"),
                      F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"),
                      F.round(cos, 4).alias("cos")))
    if members is None:
        pairs.hot_bucket_observation = hot_obs
        return pairs
    # cross-group member pairs inherit the rep pair's cluster and
    # (already-rounded) cosine verbatim; within-group (exact clone) pairs
    # get the rep's SELF-cosine from the same expression, gated on the
    # same unrounded threshold, with the rep's (possibly cap-filtered)
    # cluster.
    scos = cosine(F.col("_v"), F.col("_v"), F.col("_nrm"), F.col("_nrm"))
    selfcos = (assigned
               .select(F.col(id_col).alias("_rep"), "cluster",
                       scos.alias("_c"))
               .where(F.col("_c") >= threshold)
               .select("_rep", "cluster", F.round("_c", 4).alias("cos")))
    out = expand_rep_pairs(pairs, members, selfcos)
    out.hot_bucket_observation = hot_obs
    return out


def semdedup(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", **kwargs) -> DataFrame:
    """Keep-set after dropping the higher id of every within-cluster
    near-dup pair (greedy single-pass, same convention as
    dedup.minhash_dedup; `dedup.connected_components` over
    `semdedup_pairs` gives the exact transitive clustering)."""
    pairs = semdedup_pairs(emb, id_col, vec_col, **kwargs)
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(drops, on=id_col, how="left_anti")
