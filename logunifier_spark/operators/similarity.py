"""Similarity search over embedding columns (array<float>).

  - brute_force_topk: exact cosine top-k against a query set — the
    correctness baseline. Each corpus vector is scored against the whole
    query matrix in one numpy kernel per Arrow batch (`kernels.vector_udf`).
  - lsh_topk: random-hyperplane LSH-bucketed approximate variant — the
    100 TB scale path: candidates restricted to matching sign-bucket keys
    (probing all single-bit flips), so the join touches a small slice of the
    corpus instead of all of it.
  - ivf_topk: IVF-style coarse quantization: k deterministic centroid seeds
    drawn from the corpus, vectors assigned to nearest centroid (broadcast),
    queries probe the nprobe nearest centroids only.
  - embedding_neardup_pairs: all-pairs near-duplicate detection with a
    BOUNDED default through the pair family's shared steps in dedup.py
    (exact-vector collapse + capped banded sign-bit LSH candidates + exact
    cosine verify + expansion); the O(n²) cross join survives behind
    exact=True as the correctness baseline.

One rule for the vector math: a vector column scored against a
driver-held constant matrix (queries, hyperplanes, centroids) is a
numpy kernel through the shared Arrow reader in kernels.py; joined
(vec, vec) pairs are scored by the Column fold `cosine`. Both sum in
index order, so every score is bit-identical to the other form and to
the DuckDB oracles' list_sum spec.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

from logunifier_spark.operators.kernels import fan_out, vector_udf
from logunifier_spark.operators.stats import grouped_top_k


def dot(a: Column, b: Column) -> Column:
    # widen float→double BEFORE multiplying (float32 products then widened
    # lose bits and drift from double-precision engines on the same data)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column, na: Column | None = None,
           nb: Column | None = None) -> Column:
    """THE Column cosine: dot / (norm * norm + eps), eps = 1e-12, as
    interpreted index-order folds. Pass `na`/`nb` when the norms are
    already per-row columns, so a pair join does not re-fold them per
    pair. A NULL vector or a length mismatch (zip_with pads with null)
    scores NULL; so does a NULL or NaN element — NaN becomes NULL here
    because Spark orders NaN above every double and `cos >= t` would
    hold."""
    na = norm(a) if na is None else na
    nb = norm(b) if nb is None else nb
    return F.nanvl(dot(a, b) / (na * nb + F.lit(1e-12)),
                   F.lit(None).cast("double"))


def _index_order_dots(mat: np.ndarray, cmat: np.ndarray):
    """THE shared battery recurrence for every cosine kernel in this
    module: (dots (n,k), vnorm2 (n,)) where dots/vnorm2 accumulate one
    dimension at a time in index order — exactly the `dot`/`norm`
    F.aggregate recurrence in float64, vectorized ACROSS batch rows — so
    scores (including near-zero sign decisions and tie breaks) stay
    bit-identical to the Column forms and the DuckDB oracles' list_sum
    spec. A matmul's pairwise summation could flip them."""
    d = np.zeros((len(mat), cmat.shape[0]))
    nv = np.zeros(len(mat))
    for i in range(cmat.shape[1]):   # index order == the fold's order
        d = d + mat[:, i:i + 1] * cmat[:, i][None, :]
        nv = nv + mat[:, i] * mat[:, i]
    return d, nv


def _cosines(mat: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """(n, k) cosines of the rows against the constant matrix's rows —
    the numpy twin of `cosine`, same expression shape."""
    dots, nv = _index_order_dots(mat, cmat)
    nc = np.zeros(cmat.shape[0])
    for i in range(cmat.shape[1]):
        nc = nc + cmat[:, i] * cmat[:, i]
    return dots / (np.sqrt(nv)[:, None] * np.sqrt(nc)[None, :] + 1e-12)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "qid") -> DataFrame:
    """Exact top-k against a SMALL query set. Returns (qid, vec_id,
    score, rank).

    The query set rides into the kernel closure as a matrix (collected
    driver-side — the ivf_centroids pattern; one tiny job at
    plan-construction time). Each corpus vector is scored against ALL
    queries in one Arrow batch — a battery — then the score array
    posexplodes JVM-side and position maps back to qid through an array
    literal. Scale shape: a crossJoin + fold runs one interpreted fold
    PER (corpus, query) PAIR — n·q·dim lambda calls — while the battery
    ships each corpus vector ONCE and runs dim numpy ops per Arrow
    batch. At sf0.1 (2k vectors) the row is fixed-overhead bound: the
    query-collect job and worker spin-up lost an interleaved A/B to the
    crossJoin form (~0.9 vs ~0.56 s), while ann_recall went 1.5 → 0.5 s.
    Scores are bit-identical to the `cosine` fold (the shared
    `_index_order_dots` recurrence). Query rows with a NULL qid or NULL
    embedding are DROPPED. Corpus rows that fail the reader's validity
    rule (NULL, wrong dimension, NULL or NaN element) get a NULL score
    array and are DROPPED from the output — not ranked last, as a NULL
    score in the rank window would be."""
    qid_type = queries.schema[qid_col].dataType
    qrows = sorted(queries.select(qid_col, vec_col)
                          .where(F.col(qid_col).isNotNull() &
                                 F.col(vec_col).isNotNull())
                          .collect(),
                   key=lambda r: r[qid_col])
    qids = [r[qid_col] for r in qrows]
    if not qids:  # empty query set: empty result, same schema
        return corpus.select(
            F.lit(None).cast(qid_type).alias(qid_col),
            F.col(id_col), F.lit(0.0).alias("score"),
            F.lit(0).alias("rank")).where(F.lit(False))
    qmat = np.array([[float(x) for x in r[vec_col]] for r in qrows],
                    dtype=np.float64)                       # (q, dim)
    battery = vector_udf(lambda mat: _cosines(mat, qmat), qmat.shape[1],
                         ArrayType(DoubleType()))

    # UDF in its own projection; the posexplode runs in a SEPARATE
    # select (ExtractPythonUDFs cannot place a UDF inside a Generate
    # node — CLAUDE.md)
    c = fan_out(corpus).select(F.col(id_col),
                               battery(F.col(vec_col)).alias("_s"))
    # cast: F.lit of small Python ints is IntegerType — the output qid
    # must carry the QUERY frame's type regardless of row count/values
    qid_arr = F.array(*[F.lit(q) for q in qids])
    scored = (c.select(id_col, F.posexplode("_s").alias("_p", "score"))
               .select(F.element_at(qid_arr, F.col("_p") + 1)
                        .cast(qid_type).alias(qid_col),
                       F.col(id_col), F.col("score")))
    return grouped_top_k(scored, qid_col, "score", k=k, tiebreak=[id_col])


# --------------------------------------------------- random-hyperplane LSH --

def _hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (splitmix-style)."""
    vals = []
    state = (bit + 1) * 0x9E3779B97F4A7C15
    for i in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        vals.append(((state >> 32) / 2**31) - 1.0)  # [-1, 1)
    return vals


def hyperplane_bucket(vec: Column, dim: int, n_bits: int = 12) -> Column:
    """n_bits sign bits against fixed hyperplanes → integer bucket id.
    Arrow-batched numpy kernel with the SAME accumulation order as the
    interpreted fold (per-dimension loop, vectorized across rows) so
    the sign of a near-zero dot product — and therefore the bucket —
    is bit-identical to the `dot` Column form and to the oracle's
    list_sum: a matmul's pairwise summation could flip it. n_bits
    interpreted folds per row were the dominant cost of lsh_topk at
    sf0.1 (the pq.py lesson again). Vectors that fail the reader's
    validity rule get a NULL bucket and drop out of the equi-join."""
    planes = np.array([_hyperplane(dim, b) for b in range(n_bits)],
                      dtype=np.float64)             # (n_bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    def _bucket(mat: np.ndarray) -> np.ndarray:
        dots, _ = _index_order_dots(mat, planes)
        return (dots >= 0).astype(np.int64) @ weights

    return vector_udf(_bucket, dim, LongType())(vec)


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_bits: int = 12, id_col: str = "vec_id",
             vec_col: str = "embedding", qid_col: str = "qid") -> DataFrame:
    """Approximate top-k: join on hyperplane buckets with 1-bit probing.
    Returns (qid, vec_id, score, rank) over the candidate set, scored by
    the `cosine` fold on the joined pairs."""
    c = fan_out(corpus).select(
        F.col(id_col), F.col(vec_col).alias("_cv"),
        hyperplane_bucket(F.col(vec_col), dim, n_bits).alias("bucket"))
    qb = queries.select(
        F.col(qid_col), F.col(vec_col).alias("_qv"),
        hyperplane_bucket(F.col(vec_col), dim, n_bits).alias("b0"))
    # multiprobe: the exact bucket + all single-bit flips
    probes = F.array(*([F.col("b0")] +
                       [F.col("b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]))
    q = qb.select(qid_col, "_qv", F.explode(probes).alias("bucket"))
    scored = (c.join(q, on="bucket")
                .select(qid_col, id_col,
                        cosine(F.col("_cv"), F.col("_qv")).alias("score")))
    return grouped_top_k(scored.dropDuplicates([qid_col, id_col]), qid_col,
                         "score", k=k, tiebreak=[id_col])


# ------------------------------------------------------------------- IVF ---

def ivf_centroids(corpus: DataFrame, n_centroids: int = 16,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic corpus-sample centroids: the n rows with the lowest
    portable hash of id (seedless, engine-portable — expressible in plain
    SQL, unlike xxhash64; the multiplier is sampling.SAMPLE_MULT, the one
    canonical copy), cid = rank in that order with id as tie-break (the
    hash is injective only on [0, 2^31) ids — ids past that can collide).
    Collected to the driver: n_centroids vectors are a few KiB, and holding
    them driver-side is what makes cell assignment a zero-shuffle map (the
    classic kmeans-style broadcast-constants pattern)."""
    from logunifier_spark.operators.sampling import _portable_hash
    rows = (corpus
            .withColumn("_r", _portable_hash(F.col(id_col)))
            .orderBy("_r", id_col).limit(n_centroids)
            .select(vec_col).collect())
    return [(cid, [float(v) for v in r[vec_col]]) for cid, r in enumerate(rows)]


def _argmax_cell(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id over the corpus — Arrow-batched numpy kernel
    (the n_centroids cosine batteries as Column HOF folds are
    interpreted per element, and as a fused scalar tree they blow the
    JIT method budget — the pq.py lesson; this was the dominant cost of
    ivf_topk at sf0.1). Bit-identical to the previous array_max-over-
    structs form: scores accumulate per dimension in index order
    (exactly the `cosine` fold recurrence, same final
    dot/(norm*norm + eps) expression shape), and ties pick the
    LARGER cid (struct comparison was lexicographic on (score, cid)) —
    the reversed-argmax picks the last maximum. Still a pure
    projection: centroids ride into the UDF closure, NO shuffle.
    Vectors that fail the reader's validity rule get a NULL cid and
    drop out of the probe equi-join."""
    cids = [cid for cid, _ in cents]
    assert cids == list(range(len(cents))), "cid must equal list index"
    cmat = np.array([cv for _, cv in cents], dtype=np.float64)  # (k, dim)
    k = cmat.shape[0]

    def _best(mat: np.ndarray) -> np.ndarray:
        # ties -> larger cid: argmax returns the FIRST max, so reverse
        scores = _cosines(mat, cmat)
        return ((k - 1) - np.argmax(scores[:, ::-1], axis=1)).astype(np.int32)

    return vector_udf(_best, cmat.shape[1], IntegerType())(vec)


def _topn_cells(vec: Column, cents: list[tuple[int, list[float]]],
                nprobe: int) -> Column:
    """The nprobe nearest centroid ids, as an array (sorted by descending
    score, ties toward larger cid — mirrors _argmax_cell)."""
    scored = F.array(*[
        F.struct(cosine(vec, F.array(*[F.lit(x) for x in cv])).alias("s"),
                 F.lit(cid).alias("cid"))
        for cid, cv in cents
    ])
    ranked = F.reverse(F.array_sort(scored))
    return F.transform(F.slice(ranked, 1, nprobe), lambda e: e["cid"])


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid") -> DataFrame:
    """IVF coarse quantization: deterministic corpus-sample centroids held
    on the driver; cell assignment is a zero-shuffle projection (one
    numpy kernel against the centroid matrix); queries probe the nprobe
    nearest cells. The only shuffle in the plan is the cell join itself,
    keyed on cid — the corpus is touched once, never multiplied.
    Candidates are scored by the `cosine` fold on the joined pairs."""
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    if not cents:  # empty corpus: no cells; the exact path's empty frame
        return brute_force_topk(corpus, queries, k, id_col, vec_col, qid_col)
    assigned = fan_out(corpus).select(
        F.col(id_col), F.col(vec_col).alias("_cv"),
        _argmax_cell(F.col(vec_col), cents).alias("cid"))
    q = queries.select(
        F.col(qid_col), F.col(vec_col).alias("_qv"),
        F.explode(_topn_cells(F.col(vec_col), cents, nprobe)).alias("cid"))
    # query side is tiny (|queries| x nprobe rows): broadcast it so the
    # corpus side never shuffles at all — the cell "join" degenerates to a
    # map-side hash probe
    scored = (assigned.join(F.broadcast(q), on="cid")
                      .select(qid_col, id_col,
                              cosine(F.col("_cv"), F.col("_qv")).alias("score")))
    return grouped_top_k(scored, qid_col, "score", k=k, tiebreak=[id_col])


# ------------------------------------------------------- index evaluation --

def ann_recall(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
               n_bits: int = 12, id_col: str = "vec_id",
               vec_col: str = "embedding",
               qid_col: str = "qid") -> DataFrame:
    """Recall@k of the hyperplane-LSH index against exact brute-force
    ground truth, per query: (qid, hits, k, recall_ppm). THE
    measure-don't-guess companion to lsh_topk — an ANN index whose
    recall was never measured is a guess, and at corpus scale the only
    affordable ground truth is exact top-k over a SMALL query sample
    (here: the caller's `queries` frame), which is linear
    (|queries| x corpus) and embarrassingly parallel.

    hits counts approximate top-k members that appear in the exact
    top-k (the standard recall@k numerator); the denominator is k even
    when the LSH candidate set returned fewer rows — an index that
    can't fill k slots HAS low recall. recall_ppm is integer DIV
    (Spark/DuckDB double rounding differs, CLAUDE.md). Scale shape:
    both top-k frames are |queries| x k rows, so the semi-join and the
    per-query aggregate are broadcast-sized no matter the corpus."""
    exact = brute_force_topk(corpus, queries, k, id_col, vec_col, qid_col)
    approx = lsh_topk(corpus, queries, dim, k, n_bits, id_col, vec_col,
                      qid_col)
    hits = (approx.join(F.broadcast(exact.select(qid_col, id_col)),
                        [qid_col, id_col], "left_semi")
                  .groupBy(qid_col)
                  .agg(F.count("*").alias("hits")))
    return (queries.select(qid_col).distinct()
                   .join(hits, qid_col, "left")
                   .na.fill({"hits": 0})
                   .select(qid_col, F.col("hits").cast("long").alias("hits"),
                           F.lit(k).cast("long").alias("k"),
                           F.expr(f"CAST((hits * 1000000) DIV {k} AS BIGINT)")
                            .alias("recall_ppm")))


# ------------------------------------------- all-pairs near-dup (bounded) --

def auto_bands(threshold: float, n_bits: int,
               miss_prob: float = 0.005) -> int:
    """Band count for the banded sign-bit LSH so a pair at EXACTLY the
    cosine threshold collides in >= 1 band with probability 1-miss_prob.
    Per Goemans-Williamson, one hyperplane separates a pair at angle θ
    with probability θ/π, so a threshold pair matches a full r-bit band
    with p1^r where p1 = 1 - acos(threshold)/π; bands = ln(1/miss_prob)
    / p1^r makes (1-p1^r)^bands ≈ miss_prob. Pairs ABOVE the threshold
    are recalled with strictly higher probability."""
    p1 = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if p1 <= 0:
        raise ValueError(f"threshold {threshold} gives no LSH signal")
    return max(1, math.ceil(math.log(1.0 / miss_prob) / p1 ** n_bits))


def _band_buckets_udf(dim: int, n_bits: int, bands: int):
    """array<float> embedding -> array<long> of `bands` band-bucket keys
    ((band << n_bits) | sign bits against the module's deterministic
    hyperplanes). ONE numpy matmul per Arrow batch — the bands×n_bits
    dot products as Column expressions would build a multi-thousand-node
    scalar tree that blows the JIT method budget and deoptimizes the
    whole fused stage (the pq.py lesson: 10-26 s vs 1.3 s). Vectors that
    fail the reader's validity rule get NULL keys: no candidates."""
    planes = np.array([_hyperplane(dim, b) for b in range(bands * n_bits)],
                      dtype=np.float64).T          # (dim, bands*n_bits)
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    offsets = (np.arange(bands, dtype=np.int64) << n_bits)

    def _keys(mat: np.ndarray) -> np.ndarray:
        bits = (mat @ planes >= 0).astype(np.int64)
        return bits.reshape(len(mat), bands, n_bits) @ weights + offsets

    return vector_udf(_keys, dim, ArrayType(LongType()))


def embedding_neardup_pairs(emb: DataFrame, dim: int,
                            threshold: float = 0.45,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            exact: bool = False, n_bits: int = 6,
                            bands: int | None = None,
                            miss_prob: float = 0.005,
                            collapse_exact: bool = True,
                            max_bucket: int | None = 100_000,
                            exact_max_reps: int = 4096) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold, as
    (id_a, id_b, cos). DEFAULT is the bounded composition (round-5, was
    the engine's one remaining intentional O(n²) default):

      1. exact-clone collapse — identical vectors verify once on their
         min-id representative (cos is a pure function of the two
         vectors), then expand back; the round-4 soak lesson applied to
         embeddings (c clones per vector otherwise multiply candidates
         by c²).
      2. banded sign-bit LSH candidates — `bands` bands of `n_bits`
         deterministic-hyperplane sign bits (ONE numpy Arrow matmul,
         exploded to (band_bucket, id) and self-joined), so candidate
         work scales ~ bands · Σ_bucket pop² instead of n²/2. Bands
         default from `auto_bands(threshold, n_bits, miss_prob)`.
      3. exact cosine verify — the identical `cosine` fold as the brute
         path, so PRECISION IS EXACT; the only approximation is
         candidate recall.

    RECALL BOUND (docstring contract): a pair at cosine s >= threshold
    is missed with probability <= (1 - p1^n_bits)^bands where
    p1 = 1 - acos(s)/π — at the defaults (threshold 0.45, n_bits 6,
    miss_prob 0.005, 72 bands) a threshold-grade pair is recalled with
    p >= 0.995 and stronger pairs exponentially better (exact clones
    always, via the collapse). Empirically on the sf0.1 corpus the full
    144-pair truth set is recalled with 1.5× band margin (all pairs
    collide by band 48). `exact=True` keeps the brute-force cross join
    (every pair, fanned out, broadcast right side) for oracles and
    small corpora.

    Scale shape: n_bits should grow ~log2(n / target_bucket_pop) as the
    corpus grows (bands re-derive automatically from the threshold);
    `max_bucket` drops hotter-than-cap band buckets from candidate
    generation (`dedup.bucket_pairs`; with collapse ON, populations
    count DISTINCT vectors — the minhash_lsh_pairs cap rationale). The
    returned frame's `hot_bucket_observation` reports what it dropped;
    it is None when uncapped or when the pairing takes the brute path.

    SIZE-ADAPTIVE exactness: when the collapsed corpus holds <=
    `exact_max_reps` distinct vectors (default 4096 → <= ~8.4M pair
    evaluations), the rep pairing runs the EXACT broadcast cross join
    instead of the banded chain — at that size brute force is both
    faster (the band explode + bucket joins cost ~10 exchanges of fixed
    overhead; measured 3.8 s banded vs 1.2 s brute at 2k vectors,
    sf0.1) and exact, so the recall bound only ever applies where
    approximation is actually needed. The rep count is one narrow
    aggregate at plan-construction time: it picks between two plan
    shapes, which AQE cannot do at run time, so benches time
    construction + execution together."""
    from logunifier_spark.operators.dedup import (
        bucket_pairs,
        exact_groups,
        expand_rep_pairs,
    )

    cos_ab = cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))

    def _brute_pairs(base):
        """Exact all-pairs among `base` (_id, _v): fan the left side out,
        broadcast the right — the ONE brute spec shared by exact=True and
        the size-gate path (a tweak to the epsilon/hint lands in both)."""
        a = (fan_out(base)
             .select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
             .withColumn("_na", norm(F.col("_va"))))
        b = (base.select(F.col("_id").alias("id_b"),
                         F.col("_v").alias("_vb"))
                 .withColumn("_nb", norm(F.col("_vb"))))
        return (a.crossJoin(F.broadcast(b))
                 .where(F.col("id_a") < F.col("id_b"))
                 .withColumn("cos", cos_ab)
                 .where(F.col("cos") >= threshold)
                 .select("id_a", "id_b", "cos"))

    members = None
    if collapse_exact and not exact:
        members, corpus = exact_groups(emb, F.col(vec_col), id_col)
        # reps feed the size-gate count plus the pairing pass: without
        # the cut the groupBy collapse re-executes once per consumer
        # (measured ~3× at sf0.1)
        corpus = corpus.localCheckpoint(eager=False)
        # one aggregate answers both questions (rows vs distinct reps):
        # clone-free corpora skip the expansion joins AND the rep
        # semi-join entirely (corpus = the raw input)
        row = members.agg(F.count("*").alias("_n"),
                          F.countDistinct("_rep").alias("_r")).first()
        n_reps = int(row["_r"])
        if n_reps == int(row["_n"]):
            members = None
            corpus = emb
    else:
        corpus = emb
        n_reps = None

    base = corpus.select(F.col(id_col).alias("_id"),
                         F.col(vec_col).alias("_v"))
    hot_obs = None
    if not exact and n_reps is None:
        n_reps = corpus.count()
    if exact or n_reps <= exact_max_reps:
        pairs = _brute_pairs(base)
        sides = base.select("_id", "_v", norm(F.col("_v")).alias("_n"))
    else:
        if bands is None:
            bands = auto_bands(threshold, n_bits, miss_prob)
        # UDF input is a plain column and the explode happens on a projected
        # array column in a separate select (ExtractPythonUDFs cannot place a
        # Python UDF inside a Generate node — CLAUDE.md)
        with_keys = (fan_out(base)
                     .withColumn("_bb", _band_buckets_udf(dim, n_bits, bands)(
                         F.col("_v")))
                     .localCheckpoint(eager=False))  # both join sides
        banded = with_keys.select(F.col("_id").alias("id"),
                                  F.explode("_bb").alias("_k"))
        cand, hot_obs = bucket_pairs(banded, ["_k"], max_bucket)
        sides = with_keys.select("_id", "_v", norm(F.col("_v")).alias("_n"))
        pairs = (cand
                 .join(sides.select(F.col("_id").alias("id_a"),
                                    F.col("_v").alias("_va"),
                                    F.col("_n").alias("_na")), "id_a")
                 .join(sides.select(F.col("_id").alias("id_b"),
                                    F.col("_v").alias("_vb"),
                                    F.col("_n").alias("_nb")), "id_b")
                 .withColumn("cos", cos_ab)
                 .where(F.col("cos") >= threshold)
                 .select("id_a", "id_b", "cos"))
    if members is not None:
        selfcos = (sides
                   .select(F.col("_id").alias("_rep"),
                           cosine(F.col("_v"), F.col("_v"), F.col("_n"),
                                  F.col("_n")).alias("cos"))
                   .where(F.col("cos") >= threshold))
        pairs = expand_rep_pairs(pairs, members, selfcos)
    pairs.hot_bucket_observation = hot_obs
    return pairs
