"""Fixed-point k-means: cross-checked against an independent numpy Lloyd
implementation (exact integer equality — the operator is integer-exact by
design), plus partitioning invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, LongType, StructField,
                               StructType)

from logunifier_spark.operators.kmeans import kmeans_fixed_point

MOD = 2_147_483_648
MULT = 2_654_435_761

SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
])


def _synth(n=200, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    # three well-separated blobs + noise, float32 like the real table
    centers = rng.uniform(-1, 1, size=(3, dim))
    rows = []
    for i in range(n):
        v = centers[i % 3] + rng.normal(0, 0.05, size=dim)
        rows.append((i, [float(np.float32(x)) for x in v]))
    return rows


def _numpy_kmeans(rows, k, iters, scale=1000):
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    q = np.array([[int(np.floor(float(x) * scale)) for x in r[1]]
                  for r in rows], dtype=np.int64)
    order = np.lexsort((ids, (ids % MOD) * MULT % MOD))
    cents = q[order[:k]].copy()
    for _ in range(iters):
        d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin takes the first (lowest cid) tie
        for cid in range(k):
            m = assign == cid
            if m.any():
                # exact floor division, matching the operator's Python //
                cents[cid] = q[m].sum(axis=0) // int(m.sum())
    d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    return {int(i): (int(a), int(dd))
            for i, a, dd in zip(ids, assign, d[np.arange(len(ids)), assign])}


@pytest.mark.parametrize("k,iters", [(3, 1), (5, 3), (20, 2)])
def test_kmeans_matches_numpy(spark, k, iters):
    rows = _synth()
    df = spark.createDataFrame(rows, SCHEMA)
    got = {int(r["vec_id"]): (int(r["cluster"]), int(r["dist"]))
           for r in kmeans_fixed_point(df, k=k, iters=iters).collect()}
    assert got == _numpy_kmeans(rows, k, iters)


def test_kmeans_partitioning_invariant(spark):
    rows = _synth(n=120)
    a = kmeans_fixed_point(spark.createDataFrame(rows, SCHEMA).coalesce(1),
                           k=4, iters=2).collect()
    b = kmeans_fixed_point(
        spark.createDataFrame(rows, SCHEMA).repartition(13), k=4,
        iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.parametrize("k", [4, 20])
def test_numpy_assignment_matches_python_argmin(spark, k):
    # the numpy kernel against a plain-Python int64 argmin: same
    # floor quantization, exact squared L2, ties to the smaller cid
    from logunifier_spark.operators.kmeans import (assign_np_udf,
                                                   seed_centroids)
    rows = _synth(n=60)
    df = spark.createDataFrame(rows, SCHEMA)
    cents = seed_centroids(df, k=k)
    cents[k - 1] = list(cents[0])  # a duplicate centroid forces exact ties
    want = {}
    for i, v in rows:
        q = [int(np.floor(float(x) * 1000)) for x in v]
        d = [sum((a - b) * (a - b) for a, b in zip(q, c)) for c in cents]
        best = min(range(k), key=lambda c: (d[c], c))
        want[i] = (best, d[best])
    got = df.select(
        "vec_id",
        assign_np_udf(cents, 1000)(F.col("embedding")).alias("_nc"),
    ).selectExpr("vec_id", "_nc[0] AS cluster", "_nc[1] AS dist")
    assert {r[0]: (r[1], r[2]) for r in got.collect()} == want


def test_kmeans_needs_k_rows(spark):
    # fewer rows than k must fail loudly at seeding (ADVICE r3), not
    # IndexError deep inside the Lloyd update; empty corpora too
    rows = [(0, [0.5, 0.5]), (1, [0.1, 0.9])]
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(ValueError, match="need k=3 seeds"):
        kmeans_fixed_point(df, k=3, iters=1)
    with pytest.raises(ValueError, match="need k=2 seeds"):
        kmeans_fixed_point(df.where(F.lit(False)), k=2, iters=1)


def test_kmeans_empty_cluster_keeps_seed(spark):
    # two identical points, k=2: one centroid captures everything, the
    # other keeps its seed and must still exist without crashing
    rows = [(0, [0.5, 0.5]), (1, [0.5, 0.5]), (2, [0.5, 0.5])]
    df = spark.createDataFrame(rows, SCHEMA)
    out = kmeans_fixed_point(df, k=2, iters=2).collect()
    assert len(out) == 3
    assert {int(r["dist"]) for r in out} == {0}


# ------------------------------------------------------------- SemDeDup ----

def _python_semdedup(rows, k, iters, threshold, max_cluster=None):
    """Independent reference: numpy kmeans assignment + ORDERED-fold cosine
    (python loop — same left-to-right summation as similarity.dot's
    F.aggregate) over within-cluster pairs."""
    assign = {i: c for i, (c, _) in _numpy_kmeans(rows, k, iters).items()}
    by_cluster: dict[int, list[tuple[int, list[float]]]] = {}
    for i, v in rows:
        by_cluster.setdefault(assign[i], []).append((i, v))
    if max_cluster is not None:
        by_cluster = {c: m for c, m in by_cluster.items()
                      if len(m) <= max_cluster}
    out = set()
    for c, members in by_cluster.items():
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                (ia, va), (ib, vb) = members[ai], members[bi]
                if ia > ib:
                    ia, ib, va, vb = ib, ia, vb, va
                dot = na = nb = 0.0
                for x, y in zip(va, vb):
                    dot += float(x) * float(y)
                    na += float(x) * float(x)
                    nb += float(y) * float(y)
                cos = dot / ((na ** 0.5) * (nb ** 0.5) + 1e-12)
                if cos >= threshold:
                    out.add((c, ia, ib, round(cos, 4)))
    return out


def test_semdedup_pairs_matches_python(spark):
    from logunifier_spark.operators.semdedup import semdedup_pairs
    rows = _synth(n=150)
    df = spark.createDataFrame(rows, SCHEMA)
    got = {(int(r["cluster"]), int(r["id_a"]), int(r["id_b"]),
            float(r["cos"]))
           for r in semdedup_pairs(df, k=3, iters=2,
                                   threshold=0.999).collect()}
    want = _python_semdedup(rows, k=3, iters=2, threshold=0.999)
    assert got == want
    assert len(got) > 0  # the blobs guarantee near-identical members


def test_semdedup_keepset_drops_higher_ids(spark):
    from logunifier_spark.operators.semdedup import semdedup, semdedup_pairs
    rows = _synth(n=150)
    df = spark.createDataFrame(rows, SCHEMA)
    kw = dict(k=3, iters=2, threshold=0.999)
    pairs = semdedup_pairs(df, **kw).collect()
    dropped = {int(r["id_b"]) for r in pairs}
    kept = {int(r["vec_id"]) for r in semdedup(df, **kw).collect()}
    assert kept == {i for i, _ in rows} - dropped


def test_semdedup_max_cluster_prunes_hot_clusters(spark):
    from logunifier_spark.operators.semdedup import semdedup_pairs
    rows = _synth(n=150)
    df = spark.createDataFrame(rows, SCHEMA)
    # every blob lands ~50 members; a cap below that kills all pairing
    got = semdedup_pairs(df, k=3, iters=2, threshold=0.999,
                         max_cluster=10).collect()
    assert got == []
    want = _python_semdedup(rows, k=3, iters=2, threshold=0.999,
                            max_cluster=10)
    assert want == set()


def test_semdedup_max_cluster_cap_observable(spark):
    # the cap reports exactly how many clusters it dropped and the largest
    # population, from an Observation on its own cluster-count aggregate:
    # reading it runs no job, and an uncapped run reports None
    from collections import Counter

    from logunifier_spark.operators.semdedup import semdedup_pairs
    rows = _synth(n=150)
    df = spark.createDataFrame(rows, SCHEMA)
    pops = Counter(c for c, _ in _numpy_kmeans(rows, k=5, iters=2).values())
    cap = 30
    assert min(pops.values()) <= cap < max(pops.values())
    kw = dict(k=5, iters=2, threshold=0.9)
    capped = semdedup_pairs(df, max_cluster=cap, **kw)
    got = {(int(r["cluster"]), int(r["id_a"]), int(r["id_b"]), float(r["cos"]))
           for r in capped.collect()}
    assert got == _python_semdedup(rows, max_cluster=cap, **kw) != set()
    tracker = spark.sparkContext.statusTracker()
    before = max([-1, *tracker.getJobIdsForGroup()])
    stats = capped.hot_bucket_observation.get
    assert max([-1, *tracker.getJobIdsForGroup()]) == before
    assert stats == {"capped_buckets": sum(n > cap for n in pops.values()),
                     "max_bucket_rows": max(pops.values())}
    assert semdedup_pairs(df, **kw).hot_bucket_observation is None


def test_semdedup_numpy_path_matches_python(spark):
    # k=20: many small clusters through the numpy assignment kernel and
    # the pairing pass
    from logunifier_spark.operators.semdedup import semdedup_pairs
    rows = _synth(n=150)
    df = spark.createDataFrame(rows, SCHEMA)
    got = {(int(r["cluster"]), int(r["id_a"]), int(r["id_b"]),
            float(r["cos"]))
           for r in semdedup_pairs(df, k=20, iters=2,
                                   threshold=0.999).collect()}
    assert got == _python_semdedup(rows, k=20, iters=2, threshold=0.999)


def test_semdedup_collapse_exact_parity(spark):
    # exact clones: collapse-first pairing must expand back to the exact
    # same pair set the uncollapsed run produces (incl. clone-clone pairs
    # at the rep's self-cosine and clone-cross pairs at the rep cosine)
    from logunifier_spark.operators.semdedup import semdedup_pairs
    base = _synth(n=40)
    rows = base + [(1000 + i, v) for i, v in base[:10] for _ in (0,)]
    df = spark.createDataFrame(rows, SCHEMA)
    kw = dict(k=3, iters=2, threshold=0.999)
    fast = {tuple(r) for r in
            semdedup_pairs(df, collapse_exact=True, **kw).collect()}
    slow = {tuple(r) for r in
            semdedup_pairs(df, collapse_exact=False, **kw).collect()}
    assert fast == slow
    # the clone pairs must actually be present (self-cosine 1.0)
    assert any(a + 1000 == b for _, a, b, _c in fast)


def test_semdedup_auto_k_bounds_mean_cluster():
    # scale-aware default: mean cluster population stays <= the paper
    # target at every corpus size, and never dips below the k=8 floor
    from logunifier_spark.operators.semdedup import PAPER_TARGET, auto_k
    for n in (1, 100, 4096, 100_000, 5_000_000_000):
        k = auto_k(n)
        assert k >= 8
        assert n / k <= PAPER_TARGET
    assert auto_k(100_000) == 25


def test_semdedup_auto_k_end_to_end(spark):
    # k=None resolves to the auto_k of the COLLAPSED corpus (distinct
    # vectors), here max(8, ceil(40/4096)) = 8 — result equals pinned k=8
    from logunifier_spark.operators.semdedup import semdedup_pairs
    rows = _synth(n=40)
    df = spark.createDataFrame(rows, SCHEMA)
    auto = {tuple(r) for r in
            semdedup_pairs(df, k=None, iters=2, threshold=0.999).collect()}
    pinned = {tuple(r) for r in
              semdedup_pairs(df, k=8, iters=2, threshold=0.999).collect()}
    assert auto == pinned


# ------------------------------------------------------------- pagerank ----

def _py_pagerank(edges, iters, d=85, q=10**12):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    init = q // n
    tele = ((100 - d) * init) // 100
    r = {v: init for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += r[u] // deg[u]
        r = {v: tele + (d * s[v]) // 100 for v in nodes}
    return r


def test_pagerank_matches_python_recurrence(spark):
    import pytest as _pytest
    from logunifier_spark.operators.graph import pagerank_fixed_point
    edges = [(1, 2), (2, 1), (3, 1), (4, 1), (5, 1), (1, 6), (6, 3),
             (3, 7)]   # 7 is dangling (no out-edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 3):
        got = {r["node"]: r["rank_q"] for r in
               pagerank_fixed_point(df, iters=iters).collect()}
        assert got == _py_pagerank(edges, iters), iters
    got = {r["node"]: r["rank_q"] for r in
           pagerank_fixed_point(df.repartition(7), iters=3).collect()}
    assert got == _py_pagerank(edges, 3)          # partitioning-invariant
    assert got[1] == max(got.values())            # the hub wins
    with _pytest.raises(ValueError):
        pagerank_fixed_point(df, iters=0)


def test_transition_edges_from_event_stream(spark):
    from logunifier_spark.operators.graph import transition_edges
    rows = [(0, "a", 10), (1, "a", 20), (2, "a", 10), (3, "a", 10),
            (4, "b", 20), (5, "b", 30)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, user_id long")
    got = sorted((r["src"], r["dst"]) for r in transition_edges(df).collect())
    # a: 10->20->10->10 gives (10,20),(20,10); self-loop 10->10 dropped
    # b: 20->30
    assert got == [(10, 20), (20, 10), (20, 30)]


def test_pq_encode_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from logunifier_spark.operators.pq import pq_encode

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           pq_encode(df, dim=8, m=2, k=4, iters=1, scale=1000).collect()}

    # independent python recurrence (same spec: floor-quantize, lowest-
    # portable-hash seeding, int64 L2, floor-div update, 1 iteration)
    MOD, MULT = 2**31, 2654435761
    q = np.floor(vecs.astype("float64") * 1000).astype("int64")

    def train(sub):
        order = sorted(range(40), key=lambda i: ((i % MOD) * MULT % MOD, i))
        cents = [sub[i].copy() for i in order[:4]]

        def assign(c):
            out = []
            for r in sub:
                d = [int(((r - cv) ** 2).sum()) for cv in c]
                out.append(min(range(4), key=lambda j: (d[j], j)))
            return out

        for _ in range(1):
            a = assign(cents)
            for cid in range(4):
                mem = [sub[i] for i in range(40) if a[i] == cid]
                if mem:
                    s = np.sum(mem, axis=0)
                    cents[cid] = np.array([v // len(mem) for v in s])
        return cents

    for i in range(40):
        code, err = 0, 0
        for j, sub in enumerate((q[:, :4], q[:, 4:])):
            cents = train(sub)
            d = [int(((sub[i] - cv) ** 2).sum()) for cv in cents]
            cid = min(range(4), key=lambda t: (d[t], t))
            code += cid << (2 * j)
            err += d[cid]
        assert (out[i]["code"], out[i]["err"]) == (code, err), i

    # invariant under input partitioning
    out2 = {r["vec_id"]: (r["code"], r["err"]) for r in
            pq_encode(df.repartition(7), dim=8, m=2, k=4, iters=1,
                      scale=1000).collect()}
    assert out2 == {i: (r["code"], r["err"]) for i, r in out.items()}


def test_pq_encode_validates(spark):
    import pytest
    from logunifier_spark.operators.pq import pq_codebooks, pq_encode
    df = spark.createDataFrame([(1, [0.0] * 8)],
                               "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        pq_codebooks(df, dim=8, m=3)
    with pytest.raises(ValueError):
        pq_encode(df, dim=8, m=8, k=2 ** 10)


def test_ivfpq_prunes_to_nearby_cluster(spark):
    import numpy as np
    from logunifier_spark.operators.pq import ivfpq_topk

    rng = np.random.RandomState(3)
    # two tight, well-separated blobs of 20 vectors each
    a = rng.randn(20, 8) * 0.05 + np.array([5.0] * 8)
    b = rng.randn(20, 8) * 0.05 - np.array([5.0] * 8)
    vecs = np.vstack([a, b])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.where("vec_id IN (0, 25)").selectExpr("vec_id AS qid",
                                                  "embedding")
    out = ivfpq_topk(df, qs, dim=8, m=2, k_codes=4, n_cells=4,
                     nprobe=2, topk=5, iters=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    # the blobs are far apart, so every probed cell — and hence every
    # hit — lies in the query's own blob (hit COUNT depends on how the
    # seeds split the blob into cells: that's the nprobe/recall trade,
    # not a bug)
    assert by_q[0] and all(v < 20 for v in by_q[0])
    assert by_q[25] and all(v >= 20 for v in by_q[25])
    assert all(len(v) <= 5 for v in by_q.values())
    # deterministic under partitioning
    out2 = ivfpq_topk(df.repartition(7), qs, dim=8, m=2, k_codes=4,
                      n_cells=4, nprobe=2, topk=5, iters=1).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))
