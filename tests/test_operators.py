"""Tests for the training-data operators (dedup, similarity, text stats,
multimodal plumbing) and the M1 multiline reassembly."""

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and runs away quickly"),  # near dup
        (4, "completely different content about databases and query engines"),
        (5, "das ist ein ganz anderes deutsches dokument mit vielen worten und nicht englisch"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from logunifier_spark.operators.dedup import exact_dedup
    kept = exact_dedup(docs, "text", "doc_id").collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in kept}
    assert by_id[1] == 2          # rows 1+2 collapse to min id 1
    assert 2 not in by_id
    assert by_id[3] == 1 and by_id[4] == 1


def test_minhash_near_dup(spark, docs):
    from logunifier_spark.operators.dedup import minhash_lsh_pairs
    pairs = {(r["id_a"], r["id_b"]): r["sim"]
             for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # identical
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5   # near dup
    assert (1, 4) not in pairs                         # unrelated


def test_minhash_dedup_keeps_representative(spark, docs):
    from logunifier_spark.operators.dedup import minhash_dedup
    kept = {r["doc_id"] for r in minhash_dedup(docs, threshold=0.5).collect()}
    assert 1 in kept and 2 not in kept and 4 in kept and 5 in kept


def test_minhash_cap_observable(spark, docs):
    # the max_bucket cap trades recall silently -> the returned frame's
    # hot_bucket_observation must report it after the first action
    from logunifier_spark.operators.dedup import minhash_lsh_pairs
    capped = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=1)
    n = capped.count()
    row = capped.hot_bucket_observation.get
    # docs 1 and 2 are identical: every band bucket they share holds >= 2
    assert row["capped_buckets"] >= 1 and row["max_bucket_rows"] >= 2
    assert n == 0 or (1, 2) not in {(r["id_a"], r["id_b"])
                                    for r in capped.collect()}
    uncapped = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=None)
    assert uncapped.hot_bucket_observation is None
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in uncapped.collect()}


def _last_job(spark):
    return max([-1, *spark.sparkContext.statusTracker().getJobIdsForGroup()])


@pytest.fixture(scope="module")
def templated(spark):
    """Adversarial corpus for the hot-bucket caps: 24 distinct texts from
    two templates (many shared grams and simhash blocks), each with one
    exact clone the collapse must not count twice."""
    texts = [f"user {i % 6} logged in from host alpha{i % 4} port {i}"
             if i % 2 else f"job {i % 3} finished in {i} ms on worker beta{i % 5}"
             for i in range(24)]
    rows = [(2 * i + c, t) for i, t in enumerate(texts) for c in range(2)]
    return texts, spark.createDataFrame(rows, "doc_id long, text string")


def _assert_cap_reported(spark, capped, uncapped, populations, cap):
    """The cap reports exactly what it dropped, from the action's own
    Observation (reading .get runs no job while candidate pairs survive
    the cap), and uncapped runs report None."""
    assert min(populations) <= cap < max(populations)  # some, not all, hot
    capped.collect()
    before = _last_job(spark)
    got = capped.hot_bucket_observation.get
    assert _last_job(spark) == before
    assert got == {"capped_buckets": sum(n > cap for n in populations),
                   "max_bucket_rows": max(populations)}
    assert got["capped_buckets"] >= 1
    assert uncapped.hot_bucket_observation is None


def test_simhash_cap_observable(spark, templated):
    from collections import Counter

    from logunifier_spark.operators.dedup import (
        SIMHASH_BLOCK_BITS, simhash_pairs, simhash_udf)
    texts, df = templated
    sh = [r["sh"] for r in spark.createDataFrame([(t,) for t in texts], "text string")
          .select(simhash_udf()(F.col("text")).alias("sh")).collect()]
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    pops = Counter((k, (h >> (SIMHASH_BLOCK_BITS * k)) & mask)
                   for h in sh for k in range(4))
    # max_hamming 60 keeps every surviving candidate
    _assert_cap_reported(spark, simhash_pairs(df, max_hamming=60, max_bucket=5),
                         simhash_pairs(df, max_bucket=None),
                         list(pops.values()), 5)


def test_ngram_max_df_prune_observable(spark, templated):
    from collections import Counter

    from logunifier_spark.operators.dedup import ngram_jaccard_pairs
    texts, df = templated
    pops = Counter(g for t in texts
                   for g in {t[i:i + 3] for i in range(len(t) - 2)})
    _assert_cap_reported(spark, ngram_jaccard_pairs(df, threshold=0.0, max_df=12),
                         ngram_jaccard_pairs(df, max_df=None),
                         list(pops.values()), 12)


def test_embedding_band_cap_observable(spark, vectors):
    from collections import Counter

    from logunifier_spark.operators.similarity import (
        _band_buckets_udf, auto_bands, embedding_neardup_pairs)
    keys = vectors.select(F.explode(_band_buckets_udf(
        16, 6, auto_bands(0.45, 6))(F.col("embedding"))).alias("k")).collect()
    pops = Counter(r["k"] for r in keys)
    kw = dict(dim=16, threshold=0.45, exact_max_reps=0)
    _assert_cap_reported(spark, embedding_neardup_pairs(vectors, max_bucket=4, **kw),
                         embedding_neardup_pairs(vectors, max_bucket=None, **kw),
                         list(pops.values()), 4)
    # the brute path applies no cap
    assert embedding_neardup_pairs(vectors, dim=16, threshold=0.45,
                                   max_bucket=2).hot_bucket_observation is None


def test_verified_neardups_cap_observable(spark, templated):
    from logunifier_spark.operators.dedup import verified_neardup_pairs
    _, df = templated
    capped = verified_neardup_pairs(df, max_bucket=1)
    capped.collect()
    got = capped.hot_bucket_observation.get
    assert got["capped_buckets"] >= 1 and got["max_bucket_rows"] >= 2
    assert verified_neardup_pairs(
        df, max_bucket=None).hot_bucket_observation is None


def test_all_capped_goes_through_fallback(spark):
    """Every gram is in all three texts: max_df=1 prunes every bucket,
    AQE prunes the plan branch carrying the Observation once no
    candidate survives, and .get recomputes the counts (jobs) instead
    of crashing."""
    from logunifier_spark.operators.dedup import ngram_jaccard_pairs
    df = spark.createDataFrame(
        [(1, "abcabc"), (2, "abcabcabc"), (3, "abcabcabcabc")],
        "doc_id long, text string")
    out = ngram_jaccard_pairs(df, threshold=0.0, max_df=1)
    assert out.collect() == []
    before = _last_job(spark)
    assert out.hot_bucket_observation.get == {"capped_buckets": 3,
                                              "max_bucket_rows": 3}
    assert _last_job(spark) > before


def test_simhash_near_dup(spark, docs):
    from logunifier_spark.operators.dedup import simhash_pairs, simhash_udf
    h = {r["doc_id"]: r["sh"] for r in
         docs.select("doc_id", simhash_udf()(F.col("text")).alias("sh")).collect()}
    assert h[1] == h[2]  # identical text → identical simhash
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def test_ngram_jaccard(spark, docs):
    from logunifier_spark.operators.dedup import ngram_jaccard_pairs
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np
    rng = np.random.default_rng(42)
    base = rng.normal(size=(20, 16)).astype("float32")
    base[1] = base[0] + 0.01 * rng.normal(size=16).astype("float32")  # near 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    from logunifier_spark.operators.similarity import brute_force_topk
    q = vectors.where("vec_id = 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    top = brute_force_topk(vectors, q, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["score"] - 1.0) < 1e-6
    assert top[1]["vec_id"] == 1  # the planted near-neighbor
    assert top[0]["rank"] == 1 and top[2]["rank"] == 3


def test_brute_force_topk_empty_queries(spark, vectors):
    """The battery form collects the query set at plan time; an empty
    query set must return an empty frame with the normal schema (the old
    crossJoin form did this for free)."""
    from logunifier_spark.operators.similarity import brute_force_topk
    q = vectors.where("vec_id < 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    out = brute_force_topk(vectors, q, k=3)
    assert out.columns == ["qid", "vec_id", "score", "rank"]
    assert out.count() == 0


def test_ann_kernels_null_and_ragged_vectors(spark, vectors):
    """NULL / wrong-dimension vectors must degrade like the zip_with
    Column forms they replaced (NULL score/bucket/cid → row falls out
    of the join or rank window), never crash the kernel; NULL-qid and
    NULL-embedding query rows are dropped."""
    from logunifier_spark.operators.similarity import (
        brute_force_topk, lsh_topk, ivf_topk)
    bad = spark.createDataFrame(
        [(100, None), (101, [0.5] * 7)],
        "vec_id long, embedding array<float>")
    corpus = vectors.unionByName(bad)
    q = vectors.where("vec_id = 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    top = brute_force_topk(corpus, q, k=25).collect()
    ids = {r["vec_id"] for r in top}
    assert 100 not in ids and 101 not in ids and 0 in ids
    assert len(top) == 20  # the 20 well-formed vectors, nulls absent
    assert dict(top[0].asDict())["qid"] == 0
    assert lsh_topk(corpus, q, dim=16, k=3, n_bits=8).count() > 0
    assert ivf_topk(corpus, q, k=3, n_centroids=4, nprobe=4).count() > 0
    # NULL qid / NULL embedding query rows are dropped, not crashed on
    badq = spark.createDataFrame([(None, [0.1] * 16), (7, None)],
                                 "qid long, embedding array<float>")
    assert brute_force_topk(vectors, badq, k=3).count() == 0
    # qid keeps the query frame's long type on the non-empty path
    assert dict(brute_force_topk(vectors, q, k=1).dtypes)["qid"] == "bigint"


def test_lsh_topk_finds_planted_neighbor(spark, vectors):
    from logunifier_spark.operators.similarity import lsh_topk
    q = vectors.where("vec_id = 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    top = lsh_topk(vectors, q, dim=16, k=3, n_bits=8).orderBy("rank").collect()
    got = [r["vec_id"] for r in top]
    assert got[0] == 0 and 1 in got  # exact self + planted neighbor bucket


def test_ivf_topk(spark, vectors):
    from logunifier_spark.operators.similarity import ivf_topk
    q = vectors.where("vec_id = 0").select(
        F.col("vec_id").alias("qid"), "embedding")
    top = ivf_topk(vectors, q, k=3, n_centroids=4, nprobe=4).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0


def _pair_set(df):
    return {(r["id_a"], r["id_b"], round(r["cos"], 6)) for r in df.collect()}


def test_embedding_neardup_bounded_matches_brute(spark, vectors):
    """The bounded default (collapse + banded LSH + exact verify) must
    agree pair-for-pair with the exact=True brute cross join — precision
    is exact by construction; this asserts recall on the planted
    near-neighbor corpus."""
    from logunifier_spark.operators.similarity import embedding_neardup_pairs
    brute = _pair_set(embedding_neardup_pairs(
        vectors, dim=16, threshold=0.45, exact=True))
    # exact_max_reps=0 pins the BANDED path (the r5 size-adaptive gate
    # would otherwise route this small corpus to brute-among-reps)
    bounded = _pair_set(embedding_neardup_pairs(vectors, dim=16,
                                                threshold=0.45,
                                                exact_max_reps=0))
    assert (0, 1) in {(a, b) for a, b, _ in brute}  # planted pair present
    assert bounded == brute
    # the auto gate (defaults): brute-among-reps at this size, same set
    auto = _pair_set(embedding_neardup_pairs(vectors, dim=16,
                                             threshold=0.45))
    assert auto == brute


def test_embedding_neardup_clone_expansion(spark):
    """Exact-clone collapse + expansion: c identical vectors contribute
    C(c,2) within-group pairs at cos≈1 plus cross-group pairs inheriting
    the representative pair's cosine — identical to what brute emits."""
    import numpy as np
    from logunifier_spark.operators.similarity import embedding_neardup_pairs
    rng = np.random.default_rng(7)
    v0 = [float(x) for x in rng.normal(size=16)]
    v1 = [float(x + 0.01) for x in v0]          # near-dup of v0
    far = [float(x) for x in rng.normal(size=16)]
    rows = [(0, v0), (1, v0), (2, v0), (3, v1), (4, far)]  # 3 clones of v0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = _pair_set(embedding_neardup_pairs(df, dim=16, threshold=0.9,
                                              exact=True))
    bounded = _pair_set(embedding_neardup_pairs(df, dim=16, threshold=0.9,
                                                exact_max_reps=0))
    assert bounded == brute
    # auto gate: brute-among-reps at this size, identical expansion
    assert _pair_set(embedding_neardup_pairs(df, dim=16,
                                             threshold=0.9)) == brute
    ids = {(a, b) for a, b, _ in bounded}
    assert {(0, 1), (0, 2), (1, 2)} <= ids      # clone pairs via expansion
    assert {(0, 3), (1, 3), (2, 3)} <= ids      # cross-group via rep pair
    assert not any(4 in p for p in ids)


def test_embedding_neardup_max_bucket_cap(spark, vectors):
    """max_bucket=1 drops every band bucket (any vector occupies all its
    bands), so no candidates survive — the hot-bucket cap is live."""
    from logunifier_spark.operators.similarity import embedding_neardup_pairs
    out = embedding_neardup_pairs(vectors, dim=16, threshold=0.45,
                                  max_bucket=1, collapse_exact=False,
                                  exact_max_reps=0)
    assert out.count() == 0


def test_text_stats(spark):
    from logunifier_spark.operators.textstats import with_text_stats
    df = spark.createDataFrame(
        [(1, "The cat and the dog sat in the garden, and it was warm."),
         (2, "Der Hund und die Katze sind nicht mit der Maus auf das Dach."),
         (3, ""),
         (4, "xyzzy")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in with_text_stats(df).collect()}
    assert rows[1]["lang_id"] == "en"
    assert rows[2]["lang_id"] == "de"
    assert rows[3]["n_tokens"] == 0
    assert rows[4]["lang_id"] == "und"
    assert rows[1]["n_tokens"] == 13
    assert 0.0 <= rows[1]["quality"] <= 1.0
    assert rows[1]["quality"] > rows[4]["quality"]


def test_multiline_reassembly(spark):
    from logunifier_spark.operators.multiline import reassemble_partials
    rows = [
        # (message, partial_id, ordinal, last, meta)
        ("part2-", "p1", "2", "false", "m-b"),
        ("part1-", "p1", "1", "false", "m-a"),
        ("part3", "p1", "3", "true", "m-c"),
        ("whole message", "", "0", "", "m-w"),
        ("orphan-part", "p2", "1", "false", "m-o"),  # no last → dropped
    ]
    df = spark.createDataFrame(
        rows, "message string, partial_id string, partial_ordinal string, "
              "partial_last string, meta string")
    out = {r["message"]: r for r in reassemble_partials(df).collect()}
    assert "part1-part2-part3" in out
    assert out["part1-part2-part3"]["meta"] == "m-c"  # final part's metadata
    assert "whole message" in out
    assert len(out) == 2  # orphan group dropped


def test_multimodal_plumbing(spark):
    from logunifier_spark.operators.multimodal import (
        extract_features,
        sample_frames,
        synth_media,
    )
    m = synth_media(spark, 12)
    feats = extract_features(m, dim=8, fake=True).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["decode_ok"] == "ok" for r in feats)
    # deterministic: same payload → same feature
    f2 = extract_features(m, dim=8, fake=True).collect()
    assert sorted(map(lambda r: (r["media_id"], tuple(r["feature"])), feats)) == \
           sorted(map(lambda r: (r["media_id"], tuple(r["feature"])), f2))
    frames = sample_frames(m, every_ms=1000).collect()
    vids = m.where("kind = 'video'").count()
    assert len(frames) == vids * 10  # 10s video, 1 frame/s
    with pytest.raises(NotImplementedError):
        extract_features(m, fake=False)


def test_resumable_checkpoint(spark, tmp_path):
    from logunifier_spark.checkpoint import (
        committed_ranges,
        emit_run_metrics,
        run_resumable,
    )
    from logunifier_spark.fixtures import synth_transcripts
    t = synth_transcripts(spark, 400)
    base = str(tmp_path / "sinks")
    first = run_resumable(spark, t, base, n_ranges=4, run_id="r1")
    assert len(first) == 4
    assert committed_ranges(base) == {0, 1, 2, 3}
    # restart: nothing re-processed
    second = run_resumable(spark, t, base, n_ranges=4, run_id="r1")
    assert second == []
    metrics = emit_run_metrics(base)
    assert metrics["routed_rows"] == 400
    assert sum(metrics["sinks"].values()) == 400
    assert sum(metrics["patterns"].values()) == 400


def test_resize_images(spark):
    from logunifier_spark.operators.multimodal import resize_images, synth_media
    m = synth_media(spark, 12)
    out = resize_images(m, 8, 6).collect()
    assert len(out) == 4  # 12 media, every 3rd is an image
    for r in out:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 6
        assert len(r["payload"]) == 8 * 6 * 3
    # deterministic across runs
    again = {r["media_id"]: bytes(r["payload"])
             for r in resize_images(m, 8, 6).collect()}
    assert all(bytes(r["payload"]) == again[r["media_id"]] for r in out)


def test_resumable_partial_recommit(spark, tmp_path):
    # delete 2 of 4 manifests → exactly those ranges re-run (one job) and
    # recommit; totals unchanged
    import os
    from logunifier_spark.checkpoint import (
        committed_ranges,
        emit_run_metrics,
        run_resumable,
    )
    from logunifier_spark.fixtures import synth_transcripts
    t = synth_transcripts(spark, 400)
    base = str(tmp_path / "sinks")
    run_resumable(spark, t, base, n_ranges=4, run_id="r1")
    for r in (1, 3):
        os.remove(os.path.join(base, "_lineage", f"range={r:05d}.json"))
    assert committed_ranges(base) == {0, 2}
    redo = run_resumable(spark, t, base, n_ranges=4, run_id="r1")
    assert sorted(m.range_id for m in redo) == [1, 3]
    assert committed_ranges(base) == {0, 1, 2, 3}
    metrics = emit_run_metrics(base)
    assert metrics["routed_rows"] == 400
    assert sum(metrics["sinks"].values()) == 400


def test_write_sinks_single_pass(spark, tmp_path):
    # sink map comes from the written directory layout — no second pass over
    # the upstream plan (VERDICT r1 "What's wrong #1")
    from logunifier_spark.fixtures import synth_transcripts
    from logunifier_spark.operators.enrich import default_pattern_labels
    from logunifier_spark.operators.route import write_sinks
    from logunifier_spark.pipeline import unify
    t = synth_transcripts(spark, 200)
    u = unify(t, pattern_labels=default_pattern_labels(spark)).drop("loki_labels")
    out = write_sinks(u, str(tmp_path / "out"))
    assert set(out) == {r["sink"] for r in u.select("sink").distinct().collect()}
    total = sum(spark.read.parquet(p).count() for p in out.values())
    assert total == 200


def test_write_sinks_append_only_reports_this_write(spark, tmp_path):
    # append mode: the returned map reflects what THIS DataFrame wrote, not
    # every sink=* directory accumulated on disk (ADVICE r2); sink names are
    # captured by an Observation riding the write job — no upstream recompute
    from logunifier_spark.fixtures import synth_transcripts
    from logunifier_spark.operators.enrich import default_pattern_labels
    from logunifier_spark.operators.route import write_sinks
    from logunifier_spark.pipeline import unify
    base = str(tmp_path / "out")
    u = unify(synth_transcripts(spark, 200),
              pattern_labels=default_pattern_labels(spark)).drop("loki_labels")
    all_sinks = set(write_sinks(u, base))
    assert len(all_sinks) >= 2
    one = sorted(all_sinks)[0]
    second = write_sinks(u.where(F.col("sink") == one), base, mode="append")
    assert set(second) == {one}
    # the other sinks' directories still exist on disk but were not written
    import os
    on_disk = {d[len("sink="):] for d in os.listdir(base) if d.startswith("sink=")}
    assert on_disk == all_sinks


def test_iceberg_path_gated(spark):
    # the writeTo plan is constructed for real; the capability gate raises
    # an actionable error in this sandbox (no Iceberg runtime jar) instead
    # of an opaque ClassNotFoundException at execution time
    import pytest
    from logunifier_spark.fixtures import synth_transcripts
    from logunifier_spark.operators.enrich import default_pattern_labels
    from logunifier_spark.operators.route import (
        iceberg_available,
        write_sinks_iceberg,
    )
    from logunifier_spark.pipeline import unify
    u = unify(synth_transcripts(spark, 50),
              pattern_labels=default_pattern_labels(spark)).drop("loki_labels")
    if iceberg_available(spark):
        write_sinks_iceberg(u, "unified_sinks")  # real commit on a real cluster
        assert spark.table("local.unified_sinks").count() == 50
    else:
        with pytest.raises(RuntimeError, match="Iceberg"):
            write_sinks_iceberg(u, "unified_sinks")


def test_line_limit_byte_semantics(spark):
    # the Loki client's maxLineSize is bytes (client.go:308-319): a
    # multi-byte message must truncate on UTF-8 byte length, never
    # splitting a codepoint
    from logunifier_spark.operators.route import enforce_line_limit
    rows = [("ascii-fits-12",), ("héllo wörld œ",), ("日本語のログ行です",)]
    df = spark.createDataFrame(rows, "message string")
    out = {r["message"] for r in
           enforce_line_limit(df, max_line_size=12, truncate=True).collect()}
    for m in out:
        assert len(m.encode("utf-8")) <= 12
    # maximality: adding the next char of the original would overflow
    assert "ascii-fits-1" in out          # 13 ascii bytes → 12
    assert "héllo wörl" in out            # "é"/"ö" are 2 bytes → 12 exactly
    assert "日本語の" in out               # 3 bytes/char → 12
    dropped = enforce_line_limit(df, max_line_size=12, truncate=False).collect()
    assert [r["message"] for r in dropped] == []


def test_sampling_operators(spark):
    from logunifier_spark.operators.sampling import (
        mixture_sample,
        pack_sequences,
        sample_deterministic,
    )
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = {r["doc_id"] for r in
            sample_deterministic(d, 0.3).select("doc_id").collect()}
    # pure function of the row: same keep-set under a different partitioning
    kept2 = {r["doc_id"] for r in
             sample_deterministic(d.repartition(7), 0.3).select("doc_id").collect()}
    assert kept == kept2 and 0 < len(kept) < d.count()
    # different salt → different (independent-ish) sample
    kept3 = {r["doc_id"] for r in
             sample_deterministic(d, 0.3, salt=99).select("doc_id").collect()}
    assert kept3 != kept
    # mixture: rate 0 drops a source entirely, rate 1 keeps it entirely
    m = mixture_sample(d, {"src0": 1.0, "src1": 0.0}, default_rate=0.5)
    by_src = {r["source"]: r["n"] for r in
              m.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_src0 = d.where("source = 'src0'").count()
    assert by_src.get("src0") == n_src0 and "src1" not in by_src
    # packing invariants: offsets contiguous per shard, packs ordered
    p = pack_sequences(d, budget=128, n_shards=4).collect()
    by_shard = {}
    for r in sorted(p, key=lambda r: (r["shard"], r["doc_id"])):
        prev = by_shard.get(r["shard"], 0)
        assert r["start_offset"] == prev            # end-to-end layout
        by_shard[r["shard"]] = prev + r["tokens"]
        assert r["first_pack"] == r["start_offset"] // 128
        assert r["last_pack"] >= r["first_pack"]


def test_pack_sequences_shard_scaling(spark):
    # n_shards bounds window-sort parallelism; the packing invariants must
    # hold at any shard count, total token mass is shard-invariant, and the
    # DEFAULT layout is fixed (64) — shard is part of the result, so it
    # must not vary with the input's partitioning (ADVICE r3)
    from logunifier_spark.operators.sampling import pack_sequences
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    totals = {}
    for n in (4, 16):
        rows = pack_sequences(d, budget=128, n_shards=n).collect()
        assert {r["shard"] for r in rows} <= set(range(n))
        by_shard = {}
        for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
            assert r["start_offset"] == by_shard.get(r["shard"], 0)
            by_shard[r["shard"]] = r["start_offset"] + r["tokens"]
        totals[n] = sum(r["tokens"] for r in rows)
    assert totals[4] == totals[16] > 0
    key = lambda r: (r["shard"], r["doc_id"])  # noqa: E731
    auto = sorted(pack_sequences(d, budget=128).collect(), key=key)
    relaid = sorted(pack_sequences(d.repartition(7), budget=128).collect(),
                    key=key)
    assert auto == relaid and max(r["shard"] for r in auto) < 64


def test_health_check(spark, tmp_path):
    # S7 health-endpoint analog: named component checks, reference JSON
    # shape ({"status", "details"}), down-propagation on a failing check
    from logunifier_spark.checkpoint import health_check, run_resumable
    from logunifier_spark.fixtures import synth_transcripts
    base = str(tmp_path / "sinks")
    run_resumable(spark, synth_transcripts(spark, 100), base, n_ranges=2)
    h = health_check(spark, base)
    assert h["status"] == "up"
    assert h["details"]["spark"]["status"] == "up"
    assert h["details"]["sinks"]["detail"] == "2 ranges committed"
    assert h["details"]["streams"]["status"] == "up"


def test_portable_hash_survives_64bit_ids(spark):
    # regression: id*MULT overflowed int64 under Spark 4's default ANSI
    # mode for ids >= ~3.47e9 (sequential ids at 100 TB scale, or
    # hash-derived ids) — the id is now reduced mod 2^31 before the multiply
    from logunifier_spark.operators.sampling import (
        pack_sequences,
        sample_deterministic,
    )
    from logunifier_spark.operators.similarity import ivf_centroids
    df = spark.createDataFrame(
        [(4_000_000_000, "alpha beta gamma"), (2**62, "delta"), (7, "eps")],
        "doc_id long, text string")
    assert sample_deterministic(df, 1.0).count() == 3   # rate 1 keeps all
    assert pack_sequences(df, 16, n_shards=4).count() == 3
    vecs = spark.createDataFrame(
        [(2**62, [1.0, 0.0]), (4_000_000_000, [0.0, 1.0]), (1, [1.0, 1.0])],
        "vec_id long, embedding array<float>")
    cents = ivf_centroids(vecs, n_centroids=2)
    assert len(cents) == 2


def test_docker_ingress_dispatch_and_corrupt(spark):
    # S9 (dockerlogs/docker.go:43-72, recreated from the commented spec):
    # task-name precedence over container name, the four dispatch rules,
    # parse-with-defaults, and corrupt-JSON tolerance
    from logunifier_spark.sources.dockerlogs import (
        DOCKER_UNMARSHAL_REASON,
        docker_to_ecs,
    )
    mk = ('{{"container_name":"{c}","host":"h1","message":"{m}",'
          '"source_type":"docker","timestamp":"2024-01-01T00:00:00.000000",'
          '"label":{{"com.hashicorp.nomad.task_name":"{t}"}}}}')
    rows = [
        (1, mk.format(c="ignored", t="keycloak", m="evt a")),
        (2, mk.format(c="nexus", t="", m="evt b")),        # falls to cname
        (3, mk.format(c="x", t="connect-proxy-api", m="evt c")),
        (4, mk.format(c="x", t="mypostgres", m="evt d")),
        (5, mk.format(c="x", t="plain", m="2023-03-20 14:27:28,296 ERROR boom")),
        (6, "{nope"),
    ]
    df = spark.createDataFrame(rows, "k int, raw string")
    out = {r["k"]: r for r in docker_to_ecs(df, keep=("k",)).collect()}
    pat = lambda k: out[k]["labels"]["used_pattern"]  # noqa: E731
    assert pat(1) == "KeyCloakPattern"
    assert pat(2) == "CommonUtcPatternWithCommaTsAndTz"
    assert pat(3) == "ConsulConnectPattern"
    assert pat(4) == "ConsulConnectPattern"
    assert pat(5) == "CommonPattern"
    assert out[1]["container_labels"]["task"] == "keycloak"
    assert out[2]["container_labels"]["task"] == "nexus"   # precedence
    assert out[1]["log_level"] == "unknown"                # default level
    assert str(out[1]["timestamp"]).startswith("2024-01-01")  # default ts
    assert out[5]["log_level"] == "error"                  # parsed level
    assert out[5]["message"].endswith("boom")              # ORIGINAL message
    assert out[6]["log_level"] == "fatal"
    assert out[6]["process_error_reason"] == DOCKER_UNMARSHAL_REASON
    assert out[6]["labels"] is None and out[6]["tags"] is None


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # co-located join: two tables bucketed by doc_id on the same count
    # plan their equi-join with NO shuffle exchange; an unbucketed pairing
    # of the same data does shuffle (the at-scale lever, storage.py)
    from logunifier_spark.storage import (
        bucket_info,
        is_shuffle_free_join,
        write_bucketed,
    )
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
             .withColumnRenamed("vec_id", "doc_id")
    try:
        write_bucketed(d, "b_docs", "doc_id", 4, path=str(tmp_path / "bd"))
        write_bucketed(e, "b_embs", "doc_id", 4, path=str(tmp_path / "be"))
        bd, be = spark.table("b_docs"), spark.table("b_embs")
        assert bucket_info(spark, "b_docs") == {"buckets": 4,
                                                "columns": ["doc_id"]}
        assert is_shuffle_free_join(bd, be, ["doc_id"])
        assert not is_shuffle_free_join(d, e.limit(10**6), ["doc_id"])
        # results identical to the plain join
        assert bd.join(be, "doc_id").count() == d.join(e, "doc_id").count()
        # keyed aggregate on a bucketed table: also exchange-free
        plan = (bd.groupBy("doc_id").count()._jdf.queryExecution()
                  .executedPlan().toString())
        assert not any(l.lstrip(" :+-*").startswith("Exchange")
                       for l in plan.splitlines())
    finally:
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_embs")


def test_salted_join_matches_plain_join(spark):
    # skew lever (operators/join.py): identical results to the plain join,
    # with the big side's hot key spread across salt sub-keys
    from logunifier_spark.operators.join import salted_join
    import pytest as _pytest
    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", f"p{i}") for i in range(2000)],
        "row_id long, key string, payload string")
    dim = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3), ("absent", 4)],
        "key string, weight int")
    got = salted_join(big, dim, "key", salts=8)
    want = big.join(dim, "key")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    left = salted_join(big, dim, "key", salts=8, how="left")
    assert left.count() == 2000        # big-side preserving
    with _pytest.raises(ValueError):
        salted_join(big, dim, "key", how="full")
    # map-typed columns can't feed xxhash64 — the salt must skip them
    big_m = big.withColumn("m", F.create_map(F.lit("k"), F.col("payload")))
    gm = salted_join(big_m, dim, "key", salts=8)
    assert gm.count() == big.join(dim, "key").count()
    # the hot key's rows really do spread: >1 distinct salt value
    from pyspark.sql import functions as FF
    salts_used = (big.withColumn(
        "_s", FF.pmod(FF.xxhash64(*[FF.col(c) for c in big.columns]), FF.lit(8)))
        .where("key = 'hot'").select("_s").distinct().count())
    assert salts_used > 1


def test_conversation_ops_deterministic_across_partitionings(spark):
    # stitching sorts structs INSIDE the group after collect_list, so the
    # result is independent of partitioning / task order (no window)
    from logunifier_spark.operators.conversation import (
        conversation_stats,
        stitch_conversations,
    )
    import datetime as _dt
    rows = [("c1", i, "agent" if i % 2 else "user", f"t{i}",
             "nop", _dt.datetime(2024, 1, 1, 12, 0, i)) for i in (3, 1, 2, 0)]
    rows += [("c2", 0, "agent", None, "nop", _dt.datetime(2024, 1, 1))]
    from logunifier_spark.schema import TRANSCRIPT_SCHEMA
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = {r["conv_id"]: r for r in stitch_conversations(df).collect()}
    assert out["c1"]["conversation"] == "t0\nt1\nt2\nt3"
    assert out["c2"]["conversation"] == ""          # null text → ""
    out7 = {r["conv_id"]: r
            for r in stitch_conversations(df.repartition(7)).collect()}
    assert out7["c1"]["conversation"] == out["c1"]["conversation"]
    s = {r["conv_id"]: r for r in conversation_stats(df).collect()}
    assert s["c1"]["n_turns"] == 4 and s["c1"]["n_roles"] == 2
    assert s["c1"]["agent_turns"] == 2
    assert s["c1"]["first_ts"].second == 0 and s["c1"]["last_ts"].second == 3


def test_turn_context_and_response_pairs(spark):
    from logunifier_spark.operators.conversation import (
        response_pairs,
        turn_context,
    )
    import datetime as _dt
    from logunifier_spark.schema import TRANSCRIPT_SCHEMA
    ts = _dt.datetime(2024, 1, 1)
    rows = [("c1", 0, "user", "q1", "nop", ts),
            ("c1", 1, "agent", "a1", "nop", ts),
            ("c1", 2, "user", "q2", "nop", ts),
            ("c1", 3, "user", "q2b", "nop", ts),   # same-role run: no pair
            ("c1", 4, "agent", "a2", "nop", ts)]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    ctx = {r["turn_idx"]: r["context"] for r in turn_context(df, k=2).collect()}
    assert ctx[0] == ""                      # empty frame
    assert ctx[1] == "q1"
    assert ctx[3] == "a1\nq2"                # previous 2, in order
    pairs = {(r["prompt_turn_idx"], r["response_turn_idx"]):
             (r["prompt"], r["response"]) for r in response_pairs(df).collect()}
    assert pairs == {(0, 1): ("q1", "a1"), (3, 4): ("q2b", "a2")}


def test_connected_components_transitive_chains(spark):
    # A~B~C with A never paired to C must still be ONE component (the case
    # greedy pair-dropping gets wrong); disjoint pairs stay separate;
    # convergence across a multi-hop chain exercises >1 iteration
    from logunifier_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # 5-node chain -> comp 1
         (10, 11),                             # pair -> comp 10
         (20, 22), (21, 22)],                  # star -> comp 20
        "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_log_rounds_on_long_chain(spark):
    # the r5 pointer-doubling fix: a 10^4-node path graph must converge in
    # ~log2(n) rounds (measured 14), not diameter rounds (10^4) — with
    # max_iter=16 the pre-fix propagation-only loop would raise
    from logunifier_spark.operators.dedup import connected_components
    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    out = connected_components(pairs, max_iter=16, strict=True)
    assert (out.where("component != 0").isEmpty()
            and out.count() == n)


def test_connected_components_random_graphs(spark):
    # property check vs an independent union-find on random edge sets
    import random

    from logunifier_spark.operators.dedup import connected_components

    def uf_components(edges):
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        for a, b in edges:
            union(a, b)
        return {n: find(n) for n in parent}

    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(25)})
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["node"]: r["component"]
               for r in connected_components(df).collect()}
        want = uf_components(edges)
        # path-compressed find may leave stale roots; normalize
        want = {k: want[want[k]] if want[k] in want else want[k]
                for k in want}
        while any(want[k] != want.get(want[k], want[k]) for k in want):
            want = {k: want.get(want[k], want[k]) for k in want}
        assert got == want, f"trial {trial}"


def test_epoch_shuffle_matches_python_and_is_shard_invariant(spark):
    from logunifier_spark.operators.sampling import epoch_shuffle
    MOD, MULT = 2**31, 2_654_435_761
    # include ids that collide mod 2^31 (the 100-TB id regime) — the
    # tie-break must order them by raw id
    ids = [0, 1, 5, 7, 2**31, 2**31 + 1, 3_600_000_000, 12345, 99999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def ref(epoch):
        off = (epoch * 0x9E3779B1) % MOD
        order = sorted(ids, key=lambda i: ((i % MOD) * MULT + off) % MOD)
        # stable sort + secondary key by raw id
        order = sorted(order, key=lambda i: (((i % MOD) * MULT + off) % MOD, i))
        return {i: p for p, i in enumerate(order)}

    got = {r["doc_id"]: r["pos"]
           for r in epoch_shuffle(df, epoch=1, n_shards=4).collect()}
    assert got == ref(1)
    # output invariant to BOTH partitioning and shard count
    got2 = {r["doc_id"]: r["pos"]
            for r in epoch_shuffle(df.repartition(5), epoch=1,
                                   n_shards=64).collect()}
    assert got2 == got
    # a different epoch is a different permutation over the same 0..n-1
    other = {r["doc_id"]: r["pos"]
             for r in epoch_shuffle(df, epoch=2, n_shards=4).collect()}
    assert other == ref(2) != got
    assert sorted(other.values()) == list(range(len(ids)))


def test_epoch_shuffle_default_shards_build_no_extra_job(spark):
    """The n_shards default comes from the context, not from the input's
    partition count: over an aggregate (whose AQE stages
    getNumPartitions would run) the default builds with no more jobs
    than an explicit n_shards."""
    from logunifier_spark.operators.sampling import epoch_shuffle
    agg = (spark.range(0, 500, 1, 4)
           .groupBy((F.col("id") % 50).alias("doc_id"))
           .agg(F.count("*").alias("n")))
    default, jobs_default = _jobs_in_group(
        spark, "epoch-default", lambda: epoch_shuffle(agg))
    explicit, jobs_explicit = _jobs_in_group(
        spark, "epoch-explicit", lambda: epoch_shuffle(agg, n_shards=8))
    assert len(jobs_default) <= len(jobs_explicit), (jobs_default,
                                                     jobs_explicit)
    assert sorted(default.collect()) == sorted(explicit.collect())


def test_rollup_report_levels_and_cents(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from logunifier_spark.operators.aggregate import rollup_report
    df = spark.createDataFrame(
        [("a", "x", 1.10), ("a", "x", 2.20), ("a", "y", 0.05),
         ("b", "x", 10.00)],
        "s string, t string, v double")
    cents = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")
    out = {(r["s"], r["t"]): (r["n"], r["sum_cents"]) for r in
           rollup_report(df, ["s", "t"], cents_col=cents).collect()}
    assert out[("a", "x")] == (2, 330)
    assert out[("a", "(all)")] == (3, 335)
    assert out[("(all)", "(all)")] == (4, 1335)
    assert ("(all)", "x") not in out          # rollup, not cube
    assert len(out) == 6
    with _pytest.raises(ValueError, match="null"):
        rollup_report(df.withColumn(
            "s", F.when(F.col("t") == "y", None).otherwise(F.col("s"))),
            ["s", "t"])
    with _pytest.raises(ValueError, match="string-typed"):
        rollup_report(df, ["v"])


def test_compact_sinks_reduces_files_and_preserves_rows(spark, tmp_path):
    import os
    from pyspark.sql import functions as F
    from logunifier_spark.operators.route import compact_sinks, write_sinks
    base = str(tmp_path / "sinks")
    df = spark.range(4000).select(
        F.when(F.col("id") % 2 == 0, "loki").otherwise("s3").alias("sink"),
        (F.col("id") % 3).cast("string").alias("route_partition"),
        F.concat(F.lit("m"), F.col("id")).alias("message"),
        F.col("id"))
    # many small appends -> many small files
    for salt in range(4):
        write_sinks(df.where(F.col("id") % 4 == salt), base, mode="append")
    # materialize the before-state: the swap deletes the old files, so a
    # lazy DataFrame over them would fail post-compaction
    before_rows = sorted((r["sink"], r["route_partition"], r["message"])
                         for r in spark.read.parquet(base).collect())
    n_before_files = sum(len([f for f in files if f.endswith(".parquet")])
                         for _, _, files in os.walk(base))
    out = compact_sinks(spark, base, target_file_bytes=1 << 30)
    assert set(out) == {"loki", "s3"}
    after_rows = sorted((r["sink"], r["route_partition"], r["message"])
                        for r in spark.read.parquet(base).collect())
    assert after_rows == before_rows
    n_after_files = sum(len([f for f in files if f.endswith(".parquet")])
                        for _, _, files in os.walk(base))
    assert n_after_files < n_before_files
    # 1 GiB target -> one file per route_partition dir per sink
    assert n_after_files == sum(out.values()) == 2 * 3
    leftovers = [os.path.join(d, x) for d, dirs, _ in os.walk(str(tmp_path))
                 for x in dirs if "._compact_" in x]
    assert not leftovers                     # staging/backup cleaned up


def test_compact_sinks_recovers_crashed_swap(spark, tmp_path):
    # crash window simulation (ADVICE r3): between the two renames the
    # sink dir is missing and the data sits in ._compact_old; a leftover
    # ._compact_tmp from a crashed staging write may be partial. The next
    # compact_sinks run must restore the old data and drop the staging.
    import os
    import shutil
    from logunifier_spark.operators.route import compact_sinks, write_sinks
    base = str(tmp_path / "sinks")
    df = spark.range(500).select(
        F.lit("loki").alias("sink"),
        (F.col("id") % 2).cast("string").alias("route_partition"),
        F.concat(F.lit("m"), F.col("id")).alias("message"), F.col("id"))
    write_sinks(df, base, mode="append")
    want = sorted(r["message"] for r in spark.read.parquet(base).collect())
    live = os.path.join(base, "sink=loki")
    os.rename(live, live + "._compact_old")          # crash after rename 1
    os.makedirs(live + "._compact_tmp")              # partial staging
    with open(os.path.join(live + "._compact_tmp", "part-junk"), "w") as f:
        f.write("partial")
    out = compact_sinks(spark, base, target_file_bytes=1 << 30)
    assert set(out) == {"loki"}
    got = sorted(r["message"] for r in spark.read.parquet(base).collect())
    assert got == want
    assert not [x for _, dirs, _ in os.walk(base)
                for x in dirs if "._compact_" in x]
    shutil.rmtree(base)


def test_write_sinks_empty_frame_returns_empty_map(spark, tmp_path):
    # Spark 4.1: a zero-row observed write never executes CollectMetrics
    # and Observation.get raises through toPyRow — write_sinks must fall
    # back and still report honestly (an empty write produced no sinks)
    from pyspark.sql import functions as F
    from logunifier_spark.operators.route import write_sinks
    base = str(tmp_path / "empty_sinks")
    df = spark.range(100).select(
        F.lit("loki").alias("sink"), F.lit("p").alias("route_partition"),
        F.col("id").cast("string").alias("message"))
    assert sorted(write_sinks(df, base, mode="append")) == ["loki"]
    out = write_sinks(df.where(F.lit(False)), base, mode="append")
    assert out == {}          # not {'loki': ...} from the earlier append


def test_tool_call_stats_parses_and_buckets_garbage(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.conversation import tool_call_stats
    rows = [('{"fn":"a","args":{"q":"x","top_k":5},"ms":10}',),
            ('{"fn":"a","ms":7}',),
            ('{"fn":"b","args":{"url":"u"}}',),
            ("not json",),
            ('{"args":{"q":"y"}}',),   # valid JSON, fn missing
            (None,)]
    df = spark.createDataFrame(rows, "tool_json string")
    out = {r["fn"]: r for r in tool_call_stats(df).collect()}
    assert set(out) == {"a", "b", "_unparsed"}
    a = out["a"]
    assert (a["n_calls"], a["sum_ms"], a["max_top_k"], a["n_with_query"]) \
        == (2, 17, 5, 1)
    b = out["b"]
    assert (b["n_calls"], b["sum_ms"], b["max_top_k"]) == (1, None, None)
    u = out["_unparsed"]
    # garbage + fn-less + null all land here; the fn-less row still
    # contributes its parsed args.q (classification is by fn only)
    assert (u["n_calls"], u["n_with_query"]) == (3, 1)


def test_stratified_sample_exact_quota_and_invariance(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.sampling import stratified_sample
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), F.pmod("id", F.lit(3))).alias("grp"))
    # group g2 is tiny: only ids < 9 survive this filter for grp g2
    df = df.where((F.pmod("doc_id", F.lit(3)) != 2) | (F.col("doc_id") < 9))
    out = stratified_sample(df, "grp", n=50, id_col="doc_id")
    sizes = {r["grp"]: r["n"] for r in
             out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"g0": 50, "g1": 50, "g2": 3}   # small group keeps all
    # partitioning invariance: same keep-set regardless of layout
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in
         stratified_sample(df.repartition(7), "grp", n=50,
                           id_col="doc_id").collect()}
    assert a == b
    # salt re-windows the quota
    c = {r["doc_id"] for r in
         stratified_sample(df, "grp", n=50, id_col="doc_id",
                           salt=1).collect()}
    assert a != c and len(c) == 103


def test_latest_state_total_order_and_counts(spark):
    from logunifier_spark.operators.aggregate import latest_state
    rows = [(1, 10, 100, "a"), (1, 20, 101, "b"),
            (1, 20, 99, "c"),          # ts tie -> higher id (101) wins
            (2, 5, 7, "d")]
    df = spark.createDataFrame(rows, "k long, ts long, id long, v string")
    out = {r["k"]: r for r in
           latest_state(df, "k", order_by=["ts", "id"],
                        payload=["v", "id"]).collect()}
    assert (out[1]["v"], out[1]["id"], out[1]["n_rows"]) == ("b", 101, 3)
    assert (out[2]["v"], out[2]["n_rows"]) == ("d", 1)


def test_normalize_text_nfc_and_ws(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.normalize import normalize_text
    rows = [("cafe\u0301  x",),  # decomposed e+U+0301 + double space
            ("caf\u00e9 x",),      # precomposed \u00e9 — same after NFC
            ("a\u00a0b",),         # NBSP is NOT ASCII ws — kept
            (None,)]
    df = spark.createDataFrame(rows, "text string")
    out = [r["text_norm"] for r in
           normalize_text(df).select("text_norm").collect()]
    assert out[0] == out[1] == "caf\u00e9 x"
    assert out[2] == "a\u00a0b"
    assert out[3] is None
    # collapse_ws=False keeps spacing but still composes
    raw = [r["n"] for r in
           normalize_text(df, out_col="n", collapse_ws=False).collect()]
    assert raw[0] == "caf\u00e9  x"


def test_hashed_linear_score_matches_python(spark):
    import hashlib
    from logunifier_spark.operators.classifier import hashed_linear_score
    rows = [(1, "the quick brown fox"), (2, "  "), (3, "one"),
            (4, "the the the")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           hashed_linear_score(df, n_buckets=64, bias_milli=5).collect()}

    def w(tok):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % 64
        return ((b * 2654435761) % 2**31) % 2001 - 1000

    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        if not toks:
            assert doc_id not in out      # no tokens -> no row
            continue
        m = 5 + sum(w(t) for t in toks)
        r = out[doc_id]
        assert (r["n_tokens"], r["margin_milli"], r["keep"]) == \
            (len(toks), m, m > 0)


def test_skew_report_shares_and_ranks(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.join import skew_report
    # 60 'hot', 30 'warm', 10 distinct singletons -> total 100
    df = spark.range(100).select(
        F.when(F.col("id") < 60, F.lit("hot"))
         .when(F.col("id") < 90, F.lit("warm"))
         .otherwise(F.concat(F.lit("c"), F.col("id"))).alias("k"))
    out = skew_report(df, "k", top=3).collect()
    by_rank = {r["rank"]: r for r in out}
    assert len(out) == 3
    assert (by_rank[1]["k"], by_rank[1]["rows"], by_rank[1]["share_ppm"]) \
        == ("hot", 60, 600000)
    assert (by_rank[2]["k"], by_rank[2]["rows"]) == ("warm", 30)
    assert by_rank[3]["rows"] == 1 and by_rank[3]["k"] == "c90"  # tie->asc
    # invariant under partitioning
    out2 = skew_report(df.repartition(5), "k", top=3).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))


def test_corpus_diff_statuses(spark):
    from logunifier_spark.operators.diff import corpus_diff, diff_summary
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string")
    d = {r["doc_id"]: r["status"]
         for r in corpus_diff(old, new, content_cols=["text"]).collect()}
    assert d == {2: "changed", 3: "removed", 4: "added"}
    s = {r["status"]: r["n"] for r in
         diff_summary(old, new, content_cols=["text"]).collect()}
    assert s == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}
    # default content_cols = shared non-id columns
    d2 = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert d2 == d


def test_blocked_fuzzy_pairs_recall_and_uniqueness(spark):
    from logunifier_spark.operators.linkage import blocked_fuzzy_pairs
    left = spark.createDataFrame(
        [("abcd",), ("abcde",), ("axcd",), ("xbcd",), ("",), (None,)],
        "name string")
    right = spark.createDataFrame(
        [("abc",), ("abcd",), ("abcdef",)], "name string")
    out = [(r["name"], r["name_r"], r["dist"])
           for r in blocked_fuzzy_pairs(left, right, "name",
                                        max_dist=1).collect()]
    # band width 3: 'abc' (band 1) vs 'abcd' (band 1); 'abcde' (band 1)
    # vs 'abcdef' (band 2) crosses a band boundary -> the +1 probe
    expect = {("abcd", "abc", 1), ("abcd", "abcd", 0),
              ("abcde", "abcd", 1), ("abcde", "abcdef", 1),
              ("axcd", "abcd", 1)}
    assert set(out) == expect
    assert len(out) == len(set(out))        # each pair exactly once
    # 'xbcd' vs 'abcd' is dist 1 but differs at position 0 — the
    # documented first-letter blocking loss
    assert ("xbcd", "abcd", 1) not in set(out)


def test_watermark_lag_stats_manual(spark):
    from logunifier_spark.operators.timeseries import watermark_lag_stats
    rows = [("k", 1, 100), ("k", 2, 90),   # 10 late
            ("k", 3, 120), ("k", 4, 120),  # tie -> not late
            ("k", 5, 80),                  # 40 late
            ("q", 1, 50), ("q", 2, 60)]    # in order
    df = spark.createDataFrame(rows, "key string, arr long, ts long")
    out = {r["key"]: r for r in
           watermark_lag_stats(df, "key", arrival="arr", ts="ts").collect()}
    k = out["k"]
    assert (k["n"], k["n_late"], k["max_lag_us"], k["sum_lag_us"]) == \
        (5, 2, 40, 50)
    q = out["q"]
    assert (q["n"], q["n_late"], q["max_lag_us"], q["sum_lag_us"]) == \
        (2, 0, 0, 0)


def test_zorder_key_interleave(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.storage import zorder_key
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255)], "x long, y long")
    z = zorder_key([F.col("x"), F.col("y")], bits=8)
    got = [r["z"] for r in df.select(z.alias("z")).collect()]

    def morton(x, y):
        v = 0
        for i in range(8):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    assert got == [morton(*r) for r in
                   [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255)]]
    assert got[-1] == 65535
    import pytest as _pt
    with _pt.raises(ValueError):
        zorder_key([F.col("x")], bits=8)
    with _pt.raises(ValueError):
        zorder_key([F.col("x"), F.col("y")], bits=31)


def test_grouped_top_k_exact_and_partitioning_invariant(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.stats import grouped_top_k
    rows = [("a", "t1", 5), ("a", "t2", 5), ("a", "t3", 9), ("a", "t4", 1),
            ("b", "x", 2), ("b", "y", 2)]
    df = spark.createDataFrame(rows, "g string, term string, n long")
    out = [(r["g"], r["rank"], r["term"]) for r in
           grouped_top_k(df, "g", "n", k=2, tiebreak=["term"]).collect()]
    assert set(out) == {("a", 1, "t3"), ("a", 2, "t1"),
                        ("b", 1, "x"), ("b", 2, "y")}
    out2 = [(r["g"], r["rank"], r["term"]) for r in
            grouped_top_k(df.repartition(5), "g", "n", k=2,
                          tiebreak=["term"]).collect()]
    assert set(out2) == set(out)


def _final_plan(df):
    """The final AQE plan of `df` after a collect, as a string."""
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.isFinalPlan()
    return adaptive.executedPlan().toString()


def test_grouped_top_k_plans_one_shuffle(spark, tmp_path):
    """Over a parquet scan the grouped top-k is one shuffle with a partial
    WindowGroupLimit below it (every map partition is cut to k rows per
    group before the exchange); the global form is one TakeOrdered with
    no shuffle."""
    from logunifier_spark.operators.stats import grouped_top_k
    path = str(tmp_path / "t.parquet")
    spark.range(0, 2000, 1, 4).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 7919) % 1009).alias("v"), "id").write.parquet(path)
    df = spark.read.parquet(path)
    grouped = _final_plan(grouped_top_k(df, "g", "v", k=5, tiebreak=["id"]))
    assert grouped.count("ShuffleQueryStage") == 1, grouped
    below = grouped[grouped.index("ShuffleQueryStage"):]
    assert "WindowGroupLimit" in below and ", Partial" in below, grouped
    top = _final_plan(grouped_top_k(df, [], "v", k=5, tiebreak=["id"]))
    assert "TakeOrderedAndProject" in top, top
    assert "ShuffleQueryStage" not in top and "Exchange" not in top, top


@pytest.mark.parametrize("k", [5, 64])
def test_top_k_hot_group_equals_python_sort(spark, k):
    """One key holds every row, spread over 8 partitions: grouped_top_k,
    kmv_distinct and stratified_sample each equal a Python sort."""
    import hashlib
    from logunifier_spark.operators.sampling import stratified_sample
    from logunifier_spark.operators.stats import grouped_top_k, kmv_distinct
    n = 4000
    df = spark.range(0, n, 1, 8).select(
        F.lit("hot").alias("g"), "id",
        ((F.col("id") * 7919) % 1009).alias("v"))
    rows = [(i, (i * 7919) % 1009) for i in range(n)]

    top = grouped_top_k(df, "g", "v", k=k, tiebreak=["id"]).collect()
    want = sorted(rows, key=lambda r: (-r[1], r[0]))[:k]
    assert sorted((r["rank"], r["id"]) for r in top) == \
        [(i + 1, r[0]) for i, r in enumerate(want)]

    hashes = sorted({int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)
                     for _, v in rows})
    (est,) = kmv_distinct(df, "g", "v", k=k).collect()
    assert (est["est_distinct"], est["exact"]) == \
        ((k - 1) * (1 << 48) // hashes[k - 1], False)

    kept = stratified_sample(df, "g", n=k, id_col="id").collect()
    ph = lambda i: (i % 2**31) * 2_654_435_761 % 2**31  # noqa: E731
    assert sorted(r["id"] for r in kept) == \
        sorted(sorted(range(n), key=lambda i: (ph(i), i))[:k])


def test_blocklist_suffix_semantics(spark):
    from logunifier_spark.operators.blocklist import (
        blocklist_filter,
        blocklist_hits,
    )
    docs = spark.createDataFrame(
        [(1, "https://cdn.tracker.example.com/x"),   # parent match
         (2, "https://example.com/y"),               # exact match
         (3, "https://notexample.com/z"),            # NOT a suffix match
         (4, "https://ok.org/"),
         (5, "nota url"),                            # no host -> kept
         (6, "https://sub.deep.tracker.example.com/q")],
        "doc_id long, url string")
    bl = spark.createDataFrame([("example.com",), ("tracker.example.com",)],
                               "domain string")
    hits = {r["doc_id"]: r["matched_domain"]
            for r in blocklist_hits(docs, bl).collect()}
    # most specific entry wins
    assert hits == {1: "tracker.example.com", 2: "example.com",
                    6: "tracker.example.com"}
    kept = sorted(r["doc_id"] for r in blocklist_filter(docs, bl).collect())
    assert kept == [3, 4, 5]


def test_conversation_qc_flags(spark):
    from logunifier_spark.operators.conversation import conversation_qc
    rows = [
        # c1: perfect alternation starting at 0
        ("c1", 0, "user", "a"), ("c1", 1, "agent", "b"),
        ("c1", 2, "user", "c"),
        # c2: gap (0 -> 2), role repeat, empty text, starts at 0
        ("c2", 0, "user", "x"), ("c2", 2, "user", ""),
        # c3: starts at 1; duplicate ordinal 1
        ("c3", 1, "user", "p"), ("c3", 1, "agent", "q"),
    ]
    df = spark.createDataFrame(rows,
                               "conv_id string, turn_idx int, role string, "
                               "text string")
    out = {r["conv_id"]: r for r in conversation_qc(df).collect()}
    c1 = out["c1"]
    assert c1["clean"] and (c1["n_gaps"], c1["n_role_repeats"],
                            c1["n_empty"], c1["dup_turn_idx"]) == (0, 0, 0, 0)
    c2 = out["c2"]
    assert not c2["clean"]
    assert (c2["n_gaps"], c2["n_role_repeats"], c2["n_empty"]) == (1, 1, 1)
    c3 = out["c3"]
    assert not c3["clean"] and c3["first_idx"] == 1
    assert c3["dup_turn_idx"] == 1


def test_mixture_weights_math(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.sampling import mixture_weights
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 81, F.lit("big"))
         .otherwise(F.lit("small")).alias("source"))
    out = {r["source"]: r for r in mixture_weights(df).collect()}
    assert out["big"]["n"] == 81 and out["small"]["n"] == 19
    # weights proportional to sqrt(share): sqrt(.81)=.9, sqrt(.19)~=.4359
    w = 0.81 ** 0.5 + 0.19 ** 0.5
    assert out["big"]["weight_ppm"] == int(0.81 ** 0.5 / w * 1_000_000)
    # the smallest source keeps everything (rate hits the cap)
    assert out["small"]["rate_ppm"] == 1_000_000
    big_rate = int((1 / 0.81 ** 0.5) / (1 / 0.19 ** 0.5) * 1_000_000)
    assert out["big"]["rate_ppm"] == big_rate
    assert mixture_weights(df.where(F.lit(False))).count() == 0


def test_range_bounds_exact_vs_sorted(spark):
    import pytest
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.stats import range_bounds

    # deterministic, duplicate-heavy, non-uniform values
    df = spark.range(1000).select(
        (F.pmod(F.col("id") * 37, F.lit(101)) * F.pmod("id", F.lit(3)))
        .alias("v"))
    vals = sorted(r["v"] for r in df.collect())
    n = len(vals)
    for parts, bins in [(4, 8), (7, 64), (10, 1000)]:
        got = {r["bound_idx"]: r["value"] for r in
               range_bounds(df, "v", parts, coarse_bins=bins).collect()}
        want = {i: vals[(n * i + parts - 1) // parts - 1]
                for i in range(1, parts)}
        assert got == want, (parts, bins)
    # degenerate: constant column and empty input
    const = spark.range(10).select(F.lit(5).cast("long").alias("v"))
    assert {r["bound_idx"]: r["value"]
            for r in range_bounds(const, "v", 3).collect()} == {1: 5, 2: 5}
    empty = df.where(F.lit(False))
    assert range_bounds(empty, "v", 3).count() == 0
    with pytest.raises(ValueError):
        range_bounds(df, "v", 1)


def test_inverted_index_caps_and_df(spark):
    from logunifier_spark.operators.bm25 import inverted_index
    docs = spark.createDataFrame(
        [(1, "aa bb x"), (2, "bb cc bb"), (3, "bb")],
        "doc_id long, text string")
    out = {r["term"]: r for r in
           inverted_index(docs, max_postings=2).collect()}
    # 'x' fails the >=2-letter term filter
    assert set(out) == {"aa", "bb", "cc"}
    bb = out["bb"]
    # TRUE df, capped ascending postings, truncation flagged
    assert (bb["df"], bb["postings"], bb["truncated"]) == (3, "1,2", True)
    assert (out["aa"]["df"], out["aa"]["postings"],
            out["aa"]["truncated"]) == (1, "1", False)
    assert out["cc"]["postings"] == "2"


def test_triangle_counts_manual_and_python(spark):
    import itertools
    from logunifier_spark.operators.graph import triangle_counts
    # K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a pendant
    # and a duplicate/reversed/self-loop edge to exercise normalization
    edges = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    edges += [(2, 1), (5, 1), (3, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # random graph vs python reference
    import random
    rng = random.Random(11)
    redges = [(rng.randrange(12), rng.randrange(12)) for _ in range(60)]
    df2 = spark.createDataFrame(redges, "src long, dst long")
    got = {r["node"]: r["triangles"]
           for r in triangle_counts(df2).collect()}
    adj = {}
    for a, b in redges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert got == want


def test_label_propagation_two_cliques(spark):
    import itertools
    from logunifier_spark.operators.graph import label_propagation
    # two 4-cliques joined by one bridge edge
    edges = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    edges += [(a, b) for a, b in itertools.combinations([10, 11, 12, 13], 2)]
    edges += [(4, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["label"]
           for r in label_propagation(df, iters=3).collect()}
    # each clique converges to its minimum id; the bridge does not
    # flood across (the clique majority dominates)
    assert {out[n] for n in (1, 2, 3, 4)} == {1}
    assert {out[n] for n in (10, 11, 12, 13)} == {10}
    # python reference for the exact synchronous recurrence
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(3):
        nxt = {}
        for n in adj:
            cnt = {}
            for v in adj[n]:
                cnt[lab[v]] = cnt.get(lab[v], 0) + 1
            nxt[n] = min(cnt, key=lambda k: (-cnt[k], k))
        lab = nxt
    assert out == lab


def test_rolling_counts_range_frame_ages_out(spark):
    import datetime as dt
    from logunifier_spark.operators.timeseries import rolling_counts
    day = dt.timedelta(days=1)
    base = dt.datetime(2024, 1, 1)
    # k: days 0 (x2), 1, 5; day 5's 3-day window excludes days 0-1
    rows = [("k", base), ("k", base + dt.timedelta(hours=2)),
            ("k", base + day), ("k", base + 5 * day)]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    out = {r["bucket_us"] // 86400000000 % 100: r for r in
           rolling_counts(df, "key", bucket_s=86400, trailing=2).collect()}
    d0 = min(out)
    assert (out[d0]["cnt"], out[d0]["trail_sum"], out[d0]["n_obs"]) \
        == (2, 2, 1)
    assert (out[d0 + 1]["trail_sum"], out[d0 + 1]["n_obs"]) == (3, 2)
    # day 5: both earlier buckets are outside [day3, day5] -> fresh
    assert (out[d0 + 5]["trail_sum"], out[d0 + 5]["n_obs"],
            out[d0 + 5]["avg_milli"]) == (1, 1, 1000)


def test_cms_overestimates_and_is_exact_when_wide(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.stats import cms_estimate, cms_sketch
    # 30 keys with known frequencies key k -> k+1 occurrences
    df = spark.range(30).select(F.explode(
        F.sequence(F.lit(0), F.col("id"))).alias("_"),
        F.col("id").alias("k")).select("k")
    truth = {k: k + 1 for k in range(30)}
    # tight sketch: collisions -> one-sided overestimates
    sk = cms_sketch(df, "k", d=3, w=8)
    est = {r["k"]: r["est"] for r in
           cms_estimate(sk, df, "k", d=3, w=8).collect()}
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)
    # wide sketch: no collisions at this scale -> exact
    sk2 = cms_sketch(df, "k", d=4, w=4096)
    est2 = {r["k"]: r["est"] for r in
            cms_estimate(sk2, df, "k", d=4, w=4096).collect()}
    assert est2 == truth
    # sketch is bounded at d*w cells and mergeable by summing
    assert cms_sketch(df, "k", d=3, w=8).count() <= 24


def test_weighted_sample_properties(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.sampling import weighted_sample
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        # two weight bands: 90% weight 1, 10% weight 50
        F.when(F.pmod("id", F.lit(10)) == 0, F.lit(50.0))
         .otherwise(F.lit(1.0)).alias("w"))
    out = weighted_sample(df, n=100, weight_col="w")
    rows = out.collect()
    assert len(rows) == 100
    heavy = sum(1 for r in rows if r["w"] == 50.0)
    # 200 heavy rows carry ~53% of total weight; they must dominate the
    # sample far beyond their 10% population share
    assert heavy > 35
    # invariance under partitioning
    a = sorted(r["doc_id"] for r in rows)
    b = sorted(r["doc_id"] for r in
               weighted_sample(df.repartition(7), n=100,
                               weight_col="w").collect())
    assert a == b
    # non-positive / null weights are excluded
    df2 = df.withColumn("w", F.when(F.col("doc_id") < 1000, F.lit(-1.0)))
    assert weighted_sample(df2, n=100, weight_col="w").count() == 0


def test_blocked_fuzzy_pairs_fuzz_equals_brute_force(spark):
    # random small-alphabet strings: blocked result must equal the
    # brute-force candidate set restricted to same-first-letter pairs
    # (the documented blocking loss) — hypothesis-style fuzz with a
    # fixed seed for reproducibility
    import random
    from logunifier_spark.operators.linkage import blocked_fuzzy_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(42)
    for trial in range(3):
        mk = lambda: "".join(rng.choice("abc")
                             for _ in range(rng.randint(1, 7)))
        ls = list({mk() for _ in range(25)})
        rs = list({mk() for _ in range(25)})
        for d in (1, 2):
            left = spark.createDataFrame([(s,) for s in ls], "name string")
            right = spark.createDataFrame([(s,) for s in rs],
                                          "name string")
            got = {(r["name"], r["name_r"]) for r in
                   blocked_fuzzy_pairs(left, right, "name",
                                       max_dist=d).collect()}
            want = {(a, b) for a in ls for b in rs
                    if a[0] == b[0] and lev(a, b) <= d}
            assert got == want, (trial, d)


def test_range_bounds_hypothesis_random_multisets(spark):
    # randomized multisets with heavy duplication, random parts/bins —
    # always equals the sorted-list reference (fixed seed, 6 cases)
    import random
    from logunifier_spark.operators.stats import range_bounds
    rng = random.Random(7)
    for case in range(6):
        n = rng.randint(5, 400)
        vals = [rng.randint(-50, 50) * rng.choice([1, 1, 1, 1000])
                for _ in range(n)]
        parts = rng.randint(2, 9)
        bins = rng.choice([2, 8, 64, 1024])
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {r["bound_idx"]: r["value"] for r in
               range_bounds(df, "v", parts, coarse_bins=bins).collect()}
        svals = sorted(vals)
        want = {i: svals[(n * i + parts - 1) // parts - 1]
                for i in range(1, parts)}
        assert got == want, (case, n, parts, bins)


def test_verified_neardups_kills_sketch_false_positives(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from logunifier_spark.operators.dedup import (
        minhash_lsh_pairs,
        verified_neardup_pairs,
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base + " tail"),           # true near-dup
            (3, "completely different content with other words entirely"),
            (4, base.replace("quick", "slow"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r for r in
           verified_neardup_pairs(df, est_threshold=0.2,
                                  exact_threshold=0.5).collect()}
    assert (1, 2) in out and (1, 4) in out
    assert all(3 not in p for p in out)
    r = out[(1, 2)]
    # exact jaccard is the real bar and est is the sketch's estimate
    assert 0.5 <= r["jaccard"] <= 1.0 and 0.0 <= r["est_sim"] <= 1.0
    # raising the exact bar prunes pairs the loose candidates admit
    n_loose = minhash_lsh_pairs(df, threshold=0.2).count()
    n_tight = verified_neardup_pairs(df, est_threshold=0.2,
                                     exact_threshold=0.95).count()
    assert n_tight <= n_loose and n_tight < len(out) + 1


def test_cross_doc_substring_dedup(spark):
    # shared 3-token windows across docs; within-doc repeats alone must
    # NOT count (min_docs is about DISTINCT docs)
    from logunifier_spark.operators.dedup import (
        cross_doc_grams,
        doc_duplication_stats,
    )
    rows = [(0, "all rights reserved terms apply"),
            (1, "copyright all rights reserved terms"),
            (2, "totally unique words here only"),
            (3, "all rights reserved all rights reserved")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shared = cross_doc_grams(df, gram_len=3, min_docs=2).collect()
    # 'all rights reserved' occurs in docs 0,1,3 (twice in 3);
    # 'rights reserved terms' in docs 0,1
    by_docs = sorted((r["n_docs"], r["n_occurrences"], r["sample_doc"])
                     for r in shared)
    assert (3, 4, 0) in by_docs and (2, 2, 0) in by_docs
    stats = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_ppm"])
             for r in doc_duplication_stats(df, gram_len=3,
                                            min_docs=2).collect()}
    assert stats[2] == (3, 0, 0)                    # clean doc
    assert stats[0][0] == 3 and stats[0][1] == 2    # 2 of 3 windows shared
    assert stats[0][2] == 2 * 1_000_000 // 3
    assert stats[3][1] >= 2                         # both 'all rights...' hits


def test_collapsed_pair_oracles_on_cloned_corpus(spark, tmp_path):
    # the sf0.01 gate has ZERO exact clones, so it cannot distinguish
    # the collapsed implementations from the direct ones — this corpus
    # can: every text has 3 exact copies, so within-group pairs,
    # inherited cross-group scores, and clone-invariant df/bucket
    # populations are all load-bearing. Operator (collapse ON) must
    # equal the collapse-mirrored DuckDB oracle exactly.
    import duckdb

    import __spark_entry__ as entrymod
    from logunifier_spark.duck_oracles import (
        simhash_pairs_sql,
        verified_pairs_sql,
    )
    from logunifier_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
        verified_neardup_pairs,
    )
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",
        "completely different content about spark shuffle joins",
        "completely different content about spark shuffle joins!",
        "unrelated third topic mentioning nothing shared at all",
    ]
    rows = [(t_i * 3 + c, t) for t_i, t in enumerate(texts)
            for c in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "docs_pq")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    d20 = df.where(F.length("text") >= 20)

    got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                 simhash_pairs(d20, "text", "doc_id",
                               max_hamming=3).collect())
    want = sorted(map(tuple, con.execute(simhash_pairs_sql()).fetchall()))
    assert got == want and len(got) >= len(texts) * 3
    # every clone pair present at hamming 0
    assert (0, 1, 0) in got and (0, 2, 0) in got

    got = sorted((r["id_a"], r["id_b"], round(r["est_sim"], 4),
                  round(r["jaccard"], 4)) for r in
                 verified_neardup_pairs(d20, "text", "doc_id",
                                        est_threshold=0.35,
                                        exact_threshold=0.5,
                                        max_bucket=500).collect())
    want = sorted((a, b, round(e, 4), round(j, 4)) for a, b, e, j in
                  con.execute(verified_pairs_sql(
                      min_len=20, est_threshold=0.35, exact_threshold=0.5,
                      max_bucket=500)).fetchall())
    assert got == want and (0, 1, 1.0, 1.0) in got

    got = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 4)) for r in
                 ngram_jaccard_pairs(d20, "text", "doc_id", n=3,
                                     threshold=0.8).collect())
    want = sorted(map(tuple, con.execute(
        entrymod.oracle_sql()["ngram_jaccard"]).fetchall()))
    assert got == want and (0, 1, 1.0) in got


def test_minhash_dedup_collapses_clones(spark, tmp_path):
    # collapsed keep-set == the duckdb oracle on a corpus WITH clones,
    # and equals the direct computation when no bucket caps bind
    import duckdb
    from logunifier_spark.duck_oracles import minhash_dedup_sql
    from logunifier_spark.operators.dedup import minhash_dedup
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",
        "unrelated third topic mentioning nothing shared at all",
    ]
    rows = [(t_i * 3 + c, t) for t_i, t in enumerate(texts)
            for c in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "docs_pq")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    kept = sorted(r["doc_id"] for r in
                  minhash_dedup(df, "text", "doc_id").collect())
    want = sorted(r[0] for r in con.execute(minhash_dedup_sql()).fetchall())
    assert kept == want
    # reps 0 and 6 survive; 3 (near-dup of 0) and every clone are gone
    assert kept == [0, 6]
    direct = sorted(r["doc_id"] for r in
                    minhash_dedup(df, "text", "doc_id",
                                  collapse_exact=False).collect())
    assert direct == kept


def test_assign_splits_deterministic_and_exhaustive(spark):
    import pytest as _pytest
    from logunifier_spark.operators.sampling import assign_splits
    d = spark.range(20_000).withColumnRenamed("id", "doc_id")
    out = assign_splits(d, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000          # every row assigned
    assert abs(counts["train"] - 16_000) < 400     # ~binomial tolerance
    # membership is a pure function of id: append half the corpus again
    # under a different partitioning — originals keep their split
    base = {r["doc_id"]: r["split"] for r in out.collect()}
    again = {r["doc_id"]: r["split"] for r in
             assign_splits(d.limit(10_000).repartition(7),
                           {"train": 0.8, "val": 0.1, "test": 0.1})
             .collect()}
    assert all(base[i] == s for i, s in again.items())
    # different salt re-deals
    salted = {r["doc_id"]: r["split"] for r in
              assign_splits(d, {"train": 0.8, "val": 0.1, "test": 0.1},
                            salt=7).collect()}
    assert salted != base
    with _pytest.raises(ValueError, match="sum to 1"):
        assign_splits(d, {"train": 0.5, "val": 0.1})


def test_compact_sinks_drops_stale_backup_when_swap_completed(spark, tmp_path):
    # crash AFTER rename 2 but before the backup delete: live sink holds
    # the compacted data, ._compact_old holds the pre-compaction copy.
    # The next run must DELETE the backup (not resurrect it) or every
    # read of base_path double-counts the sink (review r4).
    import os
    import shutil
    from logunifier_spark.operators.route import compact_sinks, write_sinks
    base = str(tmp_path / "sinks")
    df = spark.range(300).select(
        F.lit("loki").alias("sink"),
        (F.col("id") % 2).cast("string").alias("route_partition"),
        F.concat(F.lit("m"), F.col("id")).alias("message"), F.col("id"))
    write_sinks(df, base, mode="append")
    want = sorted(r["message"] for r in spark.read.parquet(base).collect())
    live = os.path.join(base, "sink=loki")
    shutil.copytree(live, live + "._compact_old")    # completed-swap state
    out = compact_sinks(spark, base, target_file_bytes=1 << 30)
    assert set(out) == {"loki"}
    got = sorted(r["message"] for r in spark.read.parquet(base).collect())
    assert got == want                               # no double counting
    assert not os.path.exists(live + "._compact_old")
    shutil.rmtree(base)


def test_minhash_cap_observation_composes(spark, docs):
    # two capped pair frames in ONE plan: hard-coded Observation names
    # collide with DUPLICATED_METRICS_NAME (review r4)
    from logunifier_spark.operators.dedup import minhash_lsh_pairs
    a = minhash_lsh_pairs(docs, threshold=0.9, max_bucket=100)
    b = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=100)
    assert a.unionByName(b).count() >= 0


def test_longest_dup_run_matches_python(spark):
    """Gaps-and-islands vs a plain-Python reference: docs 0 and 1 share
    an 11-token prefix → with G=8 that is 4 consecutive duplicated
    windows → longest_dup_tokens = 4 + 7 = 11; doc 2 shares nothing;
    doc 3 is shorter than G (no row); doc 4 duplicates doc 0 entirely."""
    import re
    from collections import Counter
    from logunifier_spark.operators.dedup import longest_dup_run
    shared = "a b c d e f g h i j k"          # 11 tokens
    texts = {0: shared + " zero only tail words here",
             1: shared + " completely different ending tokens now",
             2: "nothing in common with anybody at all in this doc",
             3: "too short",
             4: shared + " zero only tail words here"}  # exact clone of 0
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    G, MIN = 8, 2

    def windows(t):
        ws = re.split(r"[ \t\r\n\f\x0B]+", t.strip().lower())
        if len(ws) < G:
            return []
        return [" ".join(ws[i:i + G]) for i in range(len(ws) - G + 1)]

    counts = Counter()
    for t in texts.values():
        for w in set(windows(t)):
            counts[w] += 1  # distinct docs per window
    expect = {}
    for i, t in texts.items():
        wins = windows(t)
        if not wins:
            continue
        marked = [counts[w] >= MIN for w in wins]
        best = run = 0
        for m in marked:
            run = run + 1 if m else 0
            best = max(best, run)
        expect[i] = (len(wins), best, best + G - 1 if best else 0)

    got = {r["doc_id"]: (r["n_grams"], r["longest_run"],
                         r["longest_dup_tokens"])
           for r in longest_dup_run(df, gram_len=G, min_docs=MIN).collect()}
    assert got == expect
    assert got[1][2] == 11      # the planted 11-token shared prefix
    assert got[2][1] == 0 and got[2][2] == 0
    assert 3 not in got          # shorter than gram_len: no row
    assert got[0][1] == got[0][0]  # full clone: every window duplicated


def test_paragraph_dedup_matches_python(spark):
    """Token-window mode against a plain-Python re-implementation of
    the spec: 3-token windows, corpus-wide count >= 2 drops the
    paragraph EVERYWHERE (including the first copy), survivors rejoin
    in order with a single space."""
    import hashlib
    import re
    from collections import Counter
    from logunifier_spark.operators.dedup import paragraph_dedup
    texts = {0: "the cookie banner text unique alpha words here now",
             1: "the cookie banner text other beta words extra",
             2: "totally distinct document body with nothing shared",
             3: "tiny",
             4: None}  # NULL text drops the doc in both engines
    # doc0/doc1 share their first 3-token window ("the cookie banner")
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    P, MIN = 3, 2

    def split_paras(t):
        ws = re.split(r"[ \t\r\n\f\x0B]+", t.strip().lower())
        return [" ".join(ws[i * P:i * P + P])
                for i in range((len(ws) + P - 1) // P)]

    counts = Counter(p for t in texts.values() if t is not None
                     for p in split_paras(t))
    expect = {}
    for i, t in texts.items():
        if t is None:
            continue
        paras = split_paras(t)
        kept = [p for p in paras if counts[p] < MIN]
        clean = " ".join(kept)
        expect[i] = (len(paras), len(paras) - len(kept), len(clean),
                     hashlib.md5(clean.encode()).hexdigest())

    out = paragraph_dedup(df, para_tokens=P, min_dup=MIN).collect()
    got = {r["doc_id"]: (r["n_paras"], r["n_dropped"], r["clean_chars"],
                         r["clean_md5"]) for r in out}
    assert got == expect
    assert got[0][1] == 1 and got[1][1] == 1  # the shared window dropped
    assert got[2][1] == 0 and got[3][1] == 0


def test_paragraph_dedup_sep_mode(spark):
    """Separator mode: real paragraph boundaries, shared boilerplate
    dropped corpus-wide, per-paragraph whitespace normalization makes
    re-spaced AND tab-indented clones match (collapse-before-trim),
    empty paragraphs from trailing separators are skipped."""
    import hashlib
    from logunifier_spark.operators.dedup import paragraph_dedup
    rows = [(0, "Subscribe to our list\n\nunique body one\n\n"),
            (1, "subscribe  to   our list\n\nunique body two"),
            (2, "only original content here"),
            (3, "\tSubscribe to our list \n\nunique body three"),
            (4, "\n\n\n\n")]  # all-empty: no row
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           paragraph_dedup(df, sep=r"\n{2,}", min_dup=2).collect()}
    # doc 0's trailing separator adds no empty paragraph
    assert out[0]["n_paras"] == 2 and out[0]["n_dropped"] == 1
    assert out[1]["n_dropped"] == 1  # re-spaced clone still matches
    assert out[3]["n_dropped"] == 1  # tab-indented clone still matches
    assert out[0]["clean_md5"] == hashlib.md5(
        b"unique body one").hexdigest()
    assert out[2]["n_dropped"] == 0 and out[2]["clean_md5"] == \
        hashlib.md5(b"only original content here").hexdigest()
    assert 4 not in out


def test_paragraph_dedup_fuzz_random_corpora(spark):
    """Seeded fuzz (the blocked_fuzzy_pairs pattern): tiny-vocabulary
    random corpora force plenty of duplicated windows; random
    para_tokens / min_dup; always equals the plain-Python reference."""
    import hashlib
    import random
    from collections import Counter
    from logunifier_spark.operators.dedup import paragraph_dedup
    rng = random.Random(11)
    for case in range(4):
        P = rng.randint(1, 4)
        MIN = rng.randint(2, 3)
        vocab = ["aa", "bb", "cc"]
        texts = {i: " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(1, 17)))
                 for i in range(rng.randint(3, 12))}

        def split_paras(t):
            ws = t.split(" ")
            return [" ".join(ws[i * P:i * P + P])
                    for i in range((len(ws) + P - 1) // P)]

        counts = Counter(p for t in texts.values() for p in split_paras(t))
        expect = {}
        for i, t in texts.items():
            paras = split_paras(t)
            kept = [p for p in paras if counts[p] < MIN]
            clean = " ".join(kept)
            expect[i] = (len(paras), len(paras) - len(kept), len(clean),
                         hashlib.md5(clean.encode()).hexdigest())

        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        got = {r["doc_id"]: (r["n_paras"], r["n_dropped"],
                             r["clean_chars"], r["clean_md5"])
               for r in paragraph_dedup(df, para_tokens=P,
                                        min_dup=MIN).collect()}
        assert got == expect, (case, P, MIN)


def test_winnow_fingerprints_match_python(spark):
    import hashlib
    import re
    from logunifier_spark.operators.dedup import winnow_fingerprints
    texts = {0: "one two three four five six seven eight nine ten",
             1: "alpha beta gamma delta alpha beta gamma delta epsilon",
             2: "too few"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    G, W = 3, 4

    def select(t):
        ws = re.split(r"[ \t\r\n\f\x0B]+", t.strip().lower())
        if len(ws) < G:
            return set()
        hs = [int(hashlib.md5(" ".join(ws[i:i + G]).encode())
                  .hexdigest()[:12], 16) for i in range(len(ws) - G + 1)]
        keys = [(h % (1 << 40)) * (1 << 16) + ((i + 1) % (1 << 16))
                for i, h in enumerate(hs)]
        if len(keys) < W:
            return set()
        return {min(keys[i:i + W]) for i in range(len(keys) - W + 1)}

    got = {i: set() for i in texts}
    for r in winnow_fingerprints(df, gram_len=G, window=W).collect():
        got[r["doc_id"]].add(r["fp"] * (1 << 16) + r["pos"])
    for i, t in texts.items():
        assert got[i] == select(t), i
    # density guarantee: selected <= windows, and every (G+W-1)-token
    # shared run between docs 0 and a copy would share a fingerprint —
    # identical docs select identical sets
    df2 = spark.createDataFrame([(9, texts[1])], "doc_id long, text string")
    clone = {r["fp"] for r in
             winnow_fingerprints(df2, gram_len=G, window=W).collect()}
    assert clone == {k >> 16 for k in got[1]}


def test_winnow_fingerprints_long_doc_exact_decode(spark):
    # ADVICE r4 regression: a 65,600-gram document reaches pos mod 2^16
    # >= 65532, where the old float-division decode of _sel rounded fp
    # across the 2^16 boundary (off by one). Brute-force python is the
    # ground truth; every fp must ALSO be a real 40-bit gram hash.
    import hashlib
    from logunifier_spark.operators.dedup import winnow_fingerprints
    G, W = 3, 4
    n_tokens = 65_600
    words = [f"w{(i * 2654435761) % 9973}" for i in range(n_tokens)]
    text = " ".join(words)
    hs = [int(hashlib.md5(" ".join(words[i:i + G]).encode())
              .hexdigest()[:12], 16) for i in range(n_tokens - G + 1)]
    keys = [(h % (1 << 40)) * (1 << 16) + ((i + 1) % (1 << 16))
            for i, h in enumerate(hs)]
    want = {min(keys[i:i + W]) for i in range(len(keys) - W + 1)}
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    rows = winnow_fingerprints(df, gram_len=G, window=W).collect()
    got = {r["fp"] * (1 << 16) + r["pos"] for r in rows}
    assert got == want
    h40 = {h % (1 << 40) for h in hs}
    assert all(r["fp"] in h40 for r in rows)


# ------------------------------------------- Python-UDF stages (kernels) ----

def _jobs_in_group(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_fan_out_over_collapsed_reps_runs_no_job(spark, docs):
    """fan_out decides from the plan's size estimate: over the collapse's
    reps (an aggregate and a semi-join, not a bare scan) it runs no job."""
    from logunifier_spark.operators.dedup import exact_groups
    from logunifier_spark.operators.kernels import fan_out
    _, reps = exact_groups(docs, F.md5(F.col("text")), "doc_id")
    out, jobs = _jobs_in_group(spark, "fan-out-reps", lambda: fan_out(reps))
    assert jobs == []
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_fan_out_sizes_from_plan(spark, docs, tmp_path):
    """A small parquet input comes back with one partition per core; an
    input past parallelism × the file split size comes back unchanged,
    and neither decision runs a job."""
    from logunifier_spark.operators.kernels import fan_out
    path = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.parquet(path)
    small = spark.read.parquet(path)
    assert small.rdd.getNumPartitions() == 1
    out, jobs = _jobs_in_group(spark, "fan-out-small", lambda: fan_out(small))
    assert jobs == []
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    big = spark.range(10**10)
    out, jobs = _jobs_in_group(spark, "fan-out-big", lambda: fan_out(big))
    assert jobs == [] and out is big


HOSTILE_TEXTS = [None, "", "ab", "Ab  C", "\U0001d518\U0001d52b\U0001d526",
                 "e\u0301 caf\u00e9 \U0001f600\U0001f600 x",
                 "the quick brown fox jumps over the lazy dog"]


def _expected_grams(texts, n, bases):
    import pandas as pd

    from logunifier_spark.operators.dedup import _horner_grams, _norm_series
    return [[int(g) for g in gs]
            for gs in _horner_grams(_norm_series(pd.Series(texts, dtype=object)),
                                    n, bases)]


def test_text_udfs_on_hostile_input(spark):
    """The four text UDFs on NULL, empty, shorter-than-shingle, non-BMP
    and combining-mark text, each value recomputed in plain Python from
    the gram family (or `unicodedata`) on the same strings, plus an empty
    frame through each. NULL text hashes as "" (one zero-padded gram)."""
    import unicodedata

    from logunifier_spark.operators.dedup import (
        _GRAM_BASE_1, _GRAM_BASE_2, _MINHASH_P, SIMHASH_BITS,
        minhash_signature_udf, portable_grams_udf, simhash_udf)
    from logunifier_spark.operators.normalize import nfc_udf
    k = 8
    df = spark.createDataFrame(list(enumerate(HOSTILE_TEXTS)),
                               "i int, text string")
    udfs = {"sig": minhash_signature_udf(k, 5), "sh": simhash_udf(4),
            "grams": portable_grams_udf(5), "nfc": nfc_udf}
    rows = sorted(df.select("i", *[u(F.col("text")).alias(c)
                                   for c, u in udfs.items()]).collect())
    grams5 = _expected_grams(HOSTILE_TEXTS, 5, (_GRAM_BASE_1,))
    pairs4 = _expected_grams(HOSTILE_TEXTS, 4, (_GRAM_BASE_1, _GRAM_BASE_2))
    assert [r["i"] for r in rows] == list(range(len(HOSTILE_TEXTS)))
    for r, text, g5, g4 in zip(rows, HOSTILE_TEXTS, grams5, pairs4):
        assert r["grams"] == g5
        assert r["sig"] == [min((g * (2 * i + 1) + ((i + 7) * 1_000_003)
                                 % _MINHASH_P) % _MINHASH_P for g in g5)
                            for i in range(k)]
        half = SIMHASH_BITS // 2
        want = 0
        for i in range(SIMHASH_BITS):
            src = 31 + i if i < half else i - half
            if 2 * sum((g >> src) & 1 for g in g4) > len(g4):
                want |= 1 << i
        assert r["sh"] == want
        assert r["nfc"] == (None if text is None
                            else unicodedata.normalize("NFC", text))
    empty = spark.createDataFrame([], "text string")
    assert empty.select(*[u(F.col("text")) for u in udfs.values()]).collect() == []
