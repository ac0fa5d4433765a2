import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime(2024, 1, 1, 12, 0, s)


@pytest.fixture()
def quotes(spark):
    # (key, ts, qid) — two keys, q3/q4 share k2's timeline
    rows = [("k1", _ts(0), 10), ("k1", _ts(10), 11), ("k1", _ts(20), 12),
            ("k2", _ts(5), 20), ("k2", _ts(15), 21)]
    return spark.createDataFrame(rows, "key string, ts timestamp, qid long")


def test_asof_backward_semantics(spark, quotes):
    from logunifier_spark.operators.temporal import asof_join
    trades = spark.createDataFrame(
        [("k1", _ts(0), 1),    # exact tie -> inclusive (matches qid 10)
         ("k1", _ts(15), 2),   # between -> latest preceding (11)
         ("k1", _ts(25), 3),   # after all -> 12
         ("k2", _ts(4), 4),    # before all k2 quotes -> no match
         ("k3", _ts(10), 5)],  # key absent on the right -> no match
        "key string, ts timestamp, tid long")
    out = {r["tid"]: r for r in
           asof_join(trades, quotes, on="key", ts="ts").collect()}
    assert out[1]["qid"] == 10 and out[1]["matched_ts"] == _ts(0)
    assert out[2]["qid"] == 11
    assert out[3]["qid"] == 12
    assert out[4]["qid"] is None and out[4]["matched_ts"] is None
    assert out[5]["qid"] is None
    assert len(out) == 5          # left-preserving: no drops, no dups


def test_asof_forward_and_tolerance(spark, quotes):
    from logunifier_spark.operators.temporal import asof_join
    trades = spark.createDataFrame(
        [("k1", _ts(1), 1),    # next quote at t10 -> 11
         ("k1", _ts(20), 2),   # forward tie inclusive -> 12
         ("k1", _ts(21), 3)],  # nothing after -> null
        "key string, ts timestamp, tid long")
    fwd = {r["tid"]: r for r in
           asof_join(trades, quotes, on="key", ts="ts",
                     direction="forward").collect()}
    assert fwd[1]["qid"] == 11 and fwd[2]["qid"] == 12 and fwd[3]["qid"] is None
    # tolerance: t15 matches t10 within 5s, not within 4s
    tol = {r["tid"]: r for r in
           asof_join(spark.createDataFrame([("k1", _ts(15), 1)],
                                           "key string, ts timestamp, tid long"),
                     quotes, on="key", ts="ts",
                     tolerance_us=4_000_000).collect()}
    assert tol[1]["qid"] is None
    tol5 = asof_join(spark.createDataFrame([("k1", _ts(15), 1)],
                                           "key string, ts timestamp, tid long"),
                     quotes, on="key", ts="ts",
                     tolerance_us=5_000_000).collect()[0]
    assert tol5["qid"] == 11


def test_asof_tiebreak_and_partition_invariance(spark):
    from logunifier_spark.operators.temporal import asof_join
    # duplicate (key, ts) on the right: tiebreak picks the LARGEST for
    # backward, deterministically, regardless of input partitioning
    right = spark.createDataFrame(
        [("k", _ts(10), i) for i in (3, 1, 2)],
        "key string, ts timestamp, qid long")
    left = spark.createDataFrame([("k", _ts(11), 1)],
                                 "key string, ts timestamp, tid long")
    for parts in (1, 7):
        got = asof_join(left, right.repartition(parts), on="key", ts="ts",
                        tiebreak="qid").collect()[0]
        # qid is the tiebreak column, so it is excluded from the payload;
        # the deterministic choice shows through matched_ts only — verify
        # via a payload column instead
        assert got["matched_ts"] == _ts(10)
    right2 = right.withColumn("tag", F.concat(F.lit("q"), F.col("qid")))
    for parts in (1, 7):
        got = asof_join(left, right2, on="key", ts="ts",
                        tiebreak="qid").collect()[0]
        assert got["tag"] == "q3"      # largest tiebreak wins (backward)
    fwd = asof_join(spark.createDataFrame([("k", _ts(9), 1)],
                                          "key string, ts timestamp, tid long"),
                    right2, on="key", ts="ts", direction="forward",
                    tiebreak="qid").collect()[0]
    assert fwd["tag"] == "q1"          # smallest tiebreak wins (forward)


def test_asof_rejects_column_collisions(spark, quotes):
    from logunifier_spark.operators.temporal import asof_join
    left_bad = spark.createDataFrame([("k1", _ts(0), 9)],
                                     "key string, ts timestamp, qid long")
    with pytest.raises(ValueError):
        asof_join(left_bad, quotes, on="key", ts="ts")


def test_sessionize_gaps_and_stats(spark):
    from logunifier_spark.operators.temporal import session_stats, sessionize
    # u1: events at 0s, 10s, 2h, 2h+30s -> sessions {0,0,1,1}
    base = dt.datetime(2024, 3, 1)
    rows = [(1, base), (1, base + dt.timedelta(seconds=10)),
            (1, base + dt.timedelta(hours=2)),
            (1, base + dt.timedelta(hours=2, seconds=30)),
            (2, base)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    s = sessionize(df, "user_id", ts="ts", gap_s=3600.0)
    got = sorted((r["user_id"], r["ts"], r["session_id"]) for r in s.collect())
    assert [g[2] for g in got if g[0] == 1] == [0, 0, 1, 1]
    assert [g[2] for g in got if g[0] == 2] == [0]
    st = {(r["user_id"], r["session_id"]): r
          for r in session_stats(df, "user_id", gap_s=3600.0).collect()}
    assert st[(1, 0)]["n_events"] == 2 and st[(1, 0)]["duration_s"] == 10
    assert st[(1, 1)]["n_events"] == 2 and st[(1, 1)]["duration_s"] == 30
    assert st[(2, 0)]["n_events"] == 1 and st[(2, 0)]["duration_s"] == 0
    # partition-invariant (ts unique per user here)
    s7 = sessionize(df.repartition(7), "user_id", gap_s=3600.0)
    assert sorted((r["user_id"], r["ts"], r["session_id"])
                  for r in s7.collect()) == got


def test_redact_pii_rules_and_counts(spark):
    from logunifier_spark.operators.redact import redact_pii
    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "call +4915112345678 or visit 192.168.0.1"),
        (3, "card 4111111111111111 exp 12/26"),
        (4, "email hides digits a1234567890123456@x.io"),  # no longnum fire
        (5, "clean text, nothing to redact"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in redact_pii(df, "text").collect()}
    assert out[1]["text"] == "mail <EMAIL> now" and out[1]["n_email"] == 1
    assert out[2]["text"] == "call <PHONE> or visit <IP>"
    assert out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 1
    assert out[3]["text"] == "card <LONGNUM> exp 12/26"
    assert out[3]["n_longnum"] == 1
    # ordering: the email rule consumed the digits before longnum ran
    assert out[4]["text"] == "email hides digits <EMAIL>"
    assert out[4]["n_longnum"] == 0
    assert out[5]["text"] == rows[4][1]
    assert all(out[5][f"n_{k}"] == 0
               for k in ("email", "phone", "ipv4", "longnum"))
    assert out[6]["text"] is None     # null passthrough
    # out= keeps the original column
    kept = redact_pii(df.where("id = 1"), "text", out="clean").collect()[0]
    assert kept["text"].startswith("mail bob") and kept["clean"] == "mail <EMAIL> now"


def test_asof_matches_pandas_merge_asof(spark):
    # property check vs an independent implementation: pandas.merge_asof
    # (backward+forward, inclusive), over seeded random inputs with
    # unmatched keys, boundary timestamps, and unique (key, ts) rights
    import random

    import pandas as pd
    from logunifier_spark.operators.temporal import asof_join

    rng = random.Random(13)
    base = dt.datetime(2024, 6, 1)
    for trial, direction in [(0, "backward"), (1, "forward"), (2, "backward")]:
        keys = ["a", "b", "c", "zz"]          # zz: left-only key
        lrows = [(rng.choice(keys), base + dt.timedelta(seconds=rng.randrange(100)), i)
                 for i in range(40)]
        seen = set()
        rrows = []
        for j in range(30):
            k = rng.choice(keys[:3])
            t = base + dt.timedelta(seconds=rng.randrange(100))
            if (k, t) not in seen:            # unique (key, ts) on the right
                seen.add((k, t))
                rrows.append((k, t, 100 + j))
        left = spark.createDataFrame(lrows, "key string, ts timestamp, lid long")
        right = spark.createDataFrame(rrows, "key string, ts timestamp, rid long")
        got = sorted((r["lid"], r["rid"]) for r in
                     asof_join(left.repartition(5), right.repartition(3),
                               on="key", ts="ts",
                               direction=direction).collect())
        lp = pd.DataFrame(lrows, columns=["key", "ts", "lid"]).sort_values("ts", kind="stable")
        rp = pd.DataFrame(rrows, columns=["key", "ts", "rid"]).sort_values("ts", kind="stable")
        m = pd.merge_asof(lp, rp, on="ts", by="key", direction=direction,
                          allow_exact_matches=True)
        want = sorted((int(r.lid), None if pd.isna(r.rid) else int(r.rid))
                      for r in m.itertuples())
        assert got == want, f"trial {trial} ({direction})"


def test_redact_is_pure_projection(spark):
    # no shuffle, no python: the whole chain is one JVM projection
    from logunifier_spark.operators.redact import redact_pii
    df = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id"), F.lit("@x.io")).alias("text"))
    plan = redact_pii(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_rate_spikes_detects_bursts(spark):
    from logunifier_spark.operators.timeseries import bucket_counts, rate_spikes
    base = dt.datetime(2024, 5, 1)
    rows = []
    # key "k": 6 calm hours at 2 events, then a 10-event burst in hour 6
    for h in range(6):
        rows += [("k", base + dt.timedelta(hours=h, minutes=m)) for m in (5, 25)]
    rows += [("k", base + dt.timedelta(hours=6, minutes=m)) for m in range(10)]
    # key "q": flat rate, no spike ever
    for h in range(8):
        rows.append(("q", base + dt.timedelta(hours=h)))
    df = spark.createDataFrame(rows, "key string, ts timestamp")

    bc = {(r["key"], r["bucket_us"]): r["cnt"]
          for r in bucket_counts(df, "key", bucket_s=3600).collect()}
    h0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert bc[("k", h0)] == 2 and bc[("k", h0 + 6 * 3600_000_000)] == 10

    got = rate_spikes(df, "key", bucket_s=3600, trailing=6, mult=2).collect()
    assert [(r["key"], r["bucket_us"], r["cnt"], r["trail_sum"], r["n_trail"])
            for r in got] == [("k", h0 + 6 * 3600_000_000, 10, 12, 6)]
    # first bucket (no trailing history) never flags even at mult=0
    first = rate_spikes(df, "key", bucket_s=3600, trailing=6, mult=0)
    assert all(r["n_trail"] > 0 for r in first.collect())


def test_asof_null_left_ts_never_matches(spark, quotes):
    # a null left ts is unmatchable in BOTH directions — forward's
    # descending scan must not hand it the running payload
    from logunifier_spark.operators.temporal import asof_join
    left = spark.createDataFrame([("k1", None, 1)],
                                 "key string, ts timestamp, tid long")
    for direction in ("backward", "forward"):
        got = asof_join(left, quotes, on="key", ts="ts",
                        direction=direction).collect()
        assert len(got) == 1
        assert got[0]["qid"] is None and got[0]["matched_ts"] is None


def test_rate_spikes_pre_epoch_buckets(spark):
    # negative epoch micros: bucket id must FLOOR (pmod), not truncate —
    # the documented Spark-vs-DuckDB % divergence
    from logunifier_spark.operators.timeseries import bucket_counts
    pre = dt.datetime(1969, 12, 31, 23, 30, 0)   # -1800s epoch
    df = spark.createDataFrame([("k", pre)], "key string, ts timestamp")
    [(bucket, cnt)] = [(r["bucket_us"], r["cnt"])
                       for r in bucket_counts(df, "key", bucket_s=3600).collect()]
    assert bucket == -3600 * 1_000_000 and cnt == 1   # floor, not trunc(0)


def test_group_quantiles_exact(spark):
    from logunifier_spark.operators.stats import group_quantiles
    import pytest as _pytest
    # n=4 and n=5 groups with known type-1 quantiles (pos = ceil(q*n));
    # nulls ignored; ties deterministic by value
    rows = ([("a", v) for v in (40, 10, 30, 20)]
            + [("b", v) for v in (50, 10, 30, 20, 40)]
            + [("t", v) for v in (7, 7, 7, 9)]
            + [("nul", None), ("nul", 5)])
    df = spark.createDataFrame(rows, "key string, x long")
    out = {r["key"]: r for r in
           group_quantiles(df, "key", "x", percents=(25, 50, 95)).collect()}
    assert (out["a"]["n"], out["a"]["p25"], out["a"]["p50"], out["a"]["p95"]) \
        == (4, 10, 20, 40)
    assert (out["b"]["n"], out["b"]["p50"], out["b"]["p95"]) == (5, 30, 50)
    assert (out["t"]["p50"], out["t"]["p95"]) == (7, 9)
    assert (out["nul"]["n"], out["nul"]["p50"]) == (1, 5)
    with _pytest.raises(ValueError):
        group_quantiles(df, "key", "x", percents=(0,))
    with _pytest.raises(ValueError):
        group_quantiles(df, "key", "x", percents=(50.0,))


def test_group_quantiles_skewed_group_matches_bruteforce(spark):
    # one group holds ~all rows (the 90%-one-language corpus, or the
    # dataset card's constant group): results must stay exact AND the
    # plan must never rank row-scale data in a window partitioned by
    # the group key alone — every row_number window must include the
    # coarse-bucket column (the round-3 verdict's scale-killer)
    import math
    import re
    from logunifier_spark.operators.stats import group_quantiles
    df = (spark.range(5000)
          .select(F.when(F.col("id") < 4900, "hot").otherwise("cold")
                   .alias("key"),
                  # non-uniform values incl. heavy ties
                  ((F.col("id") * F.col("id")) % 977).alias("x")))
    rows = df.collect()
    out = group_quantiles(df, "key", "x", percents=(25, 50, 95, 100),
                          coarse_bins=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"row_number\(\) windowspecdefinition\([^)]*",
                           plan):
        assert "_gq_b" in spec, f"row-scale rank without bucket: {spec}"
    got = {r["key"]: r for r in out.collect()}
    for key in ("hot", "cold"):
        vals = sorted(r["x"] for r in rows if r["key"] == key)
        assert got[key]["n"] == len(vals)
        for p in (25, 50, 95, 100):
            want = vals[math.ceil(len(vals) * p / 100) - 1]
            assert got[key][f"p{p}"] == want, (key, p)


def test_group_quantiles_single_value_group_skips_second_pass(spark):
    # lo == hi groups (incl. n == 1) answer from pass-1 stats directly
    from logunifier_spark.operators.stats import group_quantiles
    df = spark.createDataFrame(
        [("same", 3)] * 1000 + [("one", 42)], "key string, x long")
    got = {r["key"]: r for r in
           group_quantiles(df, "key", "x", percents=(50, 95)).collect()}
    assert (got["same"]["n"], got["same"]["p50"], got["same"]["p95"]) \
        == (1000, 3, 3)
    assert (got["one"]["n"], got["one"]["p50"]) == (1, 42)


def test_curate_funnel_stages(spark):
    from logunifier_spark.curate import curate
    en = ("the cat and the dog sat in the house, and it was warm. "
          "the light of the day is good for the garden and the trees.")
    rows = [
        (0, en, "s0"),          # survives everything (even id, hash-kept)
        (1, en, "s0"),          # exact dup of 0 -> dropped by dedup
        (2, "der hund und die katze, das ist nicht ein mit auf zu", "s1"),
        (3, "zzz qqq xxx", "s1"),              # lang 'und'
        (4, "!!!! ???? ....", "s2"),           # junk -> low quality
        (5, en + " extra tail of the story.", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(df, langs=("en",), min_quality=0.3, sample_rate=None)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 5]                   # dup, de, und, junk all gone
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["lang_id"] == "en" and got[0]["quality"] >= 0.3
    # stages are individually optional
    no_dedup = curate(df, dedup=False, langs=None, min_quality=None)
    assert no_dedup.count() == 6
    # sampling keep-set is monotone in rate (auditable superset property)
    lo = {r["doc_id"] for r in
          curate(df, langs=None, min_quality=None, sample_rate=0.3).collect()}
    hi = {r["doc_id"] for r in
          curate(df, langs=None, min_quality=None, sample_rate=0.8).collect()}
    assert lo <= hi


# ------------------------------------------------------- interval join ----

def test_interval_join_semantics(spark):
    from logunifier_spark.operators.temporal import interval_join
    ev = spark.createDataFrame(
        [(1, _ts(0)),    # == start of i1 -> inclusive
         (2, _ts(10)),   # inside i1
         (3, _ts(20)),   # == end of i1 AND start of i2 -> both
         (4, _ts(35)),   # inside i2 only
         (5, _ts(50)),   # covered by no interval
         (6, None)],     # null ts -> dropped
        "event_id long, ts timestamp")
    iv = spark.createDataFrame(
        [(100, _ts(0), _ts(20)),
         (200, _ts(20), _ts(40)),
         (300, _ts(30), _ts(10)),   # end < start -> dropped
         (400, None, _ts(40))],     # null start -> dropped
        "interval_id long, start timestamp, end timestamp")
    got = sorted((r["event_id"], r["interval_id"]) for r in
                 interval_join(ev, iv, bucket_s=7.0).collect())
    assert got == [(1, 100), (2, 100), (3, 100), (3, 200), (4, 200)]


def test_interval_join_bucket_invariance_and_keys(spark):
    import random
    from logunifier_spark.operators.temporal import interval_join
    rng = random.Random(7)
    ev = [(i, rng.choice("ab"), rng.randrange(0, 10_000_000))
          for i in range(300)]
    iv = []
    for j in range(40):
        s = rng.randrange(0, 10_000_000)
        iv.append((j, rng.choice("ab"), s, s + rng.randrange(0, 2_000_000)))
    edf = spark.createDataFrame(ev, "event_id long, k string, ts long")
    idf = spark.createDataFrame(
        iv, "interval_id long, k string, start long, end long")
    want = sorted((e, j) for e, ek, t in ev for j, jk, s, x in iv
                  if ek == jk and s <= t <= x)
    for bucket_s in (0.05, 1.0, 60.0):
        got = sorted((r["event_id"], r["interval_id"]) for r in
                     interval_join(edf, idf, on="k",
                                   bucket_s=bucket_s).collect())
        assert got == want, bucket_s


def test_interval_join_rejects_collisions(spark):
    import pytest as _pytest
    from logunifier_spark.operators.temporal import interval_join
    ev = spark.createDataFrame([(1, 5, "x")], "id long, ts long, tag string")
    iv = spark.createDataFrame([(2, 0, 9, "y")],
                               "iid long, start long, end long, tag string")
    with _pytest.raises(ValueError, match="tag"):
        interval_join(ev, iv)
    with _pytest.raises(ValueError, match="positive"):
        interval_join(ev, iv.drop("tag"), bucket_s=0)


# ---------------------------------------------------------- KMV sketch ----

def test_kmv_exact_below_k_and_estimate_above(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from logunifier_spark.operators.stats import kmv_distinct
    df = spark.range(50_000).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 2 == 0, F.col("id") % 40)     # 20 distinct (even)
         .otherwise(F.col("id")).alias("v"))               # 25k distinct
    out = {r["g"]: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert out[0]["exact"] and out[0]["est_distinct"] == 20
    assert not out[1]["exact"]
    assert abs(out[1]["est_distinct"] - 25_000) / 25_000 < 0.35
    with _pytest.raises(ValueError, match="k must be"):
        kmv_distinct(df, "g", "v", k=1)
    with _pytest.raises(ValueError, match="integral"):
        kmv_distinct(df.select("g", F.col("v").cast("double").alias("v")),
                     "g", "v")


def test_kmv_is_partitioning_invariant(spark):
    from pyspark.sql import functions as F
    from logunifier_spark.operators.stats import kmv_distinct
    df = spark.range(3_000).select(
        F.lit("x").alias("g"), (F.col("id") % 991).alias("v"))
    base = kmv_distinct(df, "g", "v", k=32).collect()[0]["est_distinct"]
    for variant in (kmv_distinct(df.repartition(13), "g", "v", k=32),
                    kmv_distinct(df.repartition(1), "g", "v", k=32),
                    kmv_distinct(df.repartition(64, "v"), "g", "v", k=32)):
        assert variant.collect()[0]["est_distinct"] == base


def test_group_histogram_buckets_and_clamping(spark):
    import pytest as _pytest
    from logunifier_spark.operators.stats import group_histogram
    rows = [("a", -5.0), ("a", 0.0), ("a", 9.99), ("a", 10.0), ("a", 25.0),
            ("a", 100.0), ("a", 120.0), ("b", 50.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {(r["g"], r["bucket"]): r["n"] for r in
           group_histogram(df, "g", "x", lo=0.0, hi=100.0, bins=10).collect()}
    # -5 clamps into 0; 9.99 -> 0; 10.0 -> 1; 100/120 clamp into 9
    assert out[("a", 0)] == 3 and out[("a", 1)] == 1
    assert out[("a", 2)] == 1 and out[("a", 9)] == 2
    assert out[("b", 5)] == 1 and ("b", 0) not in out
    assert sum(n for (g, _), n in out.items() if g == "a") == 7
    with _pytest.raises(ValueError):
        group_histogram(df, "g", "x", lo=1.0, hi=1.0)


def test_session_paths_order_truncation_topk(spark):
    import datetime as dt
    from logunifier_spark.operators.temporal import session_paths
    base = dt.datetime(2024, 1, 1)
    SEC, HOUR = dt.timedelta(seconds=1), dt.timedelta(hours=2)
    rows = []
    # user 1: two sessions "a>b" then "a>b"
    rows += [(1, base, 1, "a"), (1, base + SEC, 2, "b"),
             (1, base + HOUR, 3, "a"), (1, base + HOUR + SEC, 4, "b")]
    # user 2: one long session truncating to 3 steps
    rows += [(2, base + i * SEC, 10 + i, t)
             for i, t in enumerate("abcde")]
    # user 3: same-instant events -> tiebreak by id decides order
    rows += [(3, base, 21, "y"), (3, base, 20, "x")]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = {r["path"]: (r["n_sessions"], r["rank"]) for r in
           session_paths(df, "user_id", gap_s=3600.0,
                         tiebreak="event_id", k=10, max_len=3).collect()}
    assert out == {"a>b": (2, 1), "a>b>c": (1, 2), "x>y": (1, 3)}


def test_group_quantiles_non_numeric_fallback(spark):
    # strings can't be fixed-width-bucketed: the histogram path's double
    # cast would crash under ANSI (review r4) — non-numeric columns use
    # the type-agnostic sorted path with identical type-1 semantics
    from logunifier_spark.operators.stats import group_quantiles
    rows = [("a", v) for v in ("pear", "apple", "mango", "fig")] \
        + [("b", v) for v in ("zz", "aa", "mm")] + [("b", None)]
    df = spark.createDataFrame(rows, "key string, s string")
    got = {r["key"]: r for r in
           group_quantiles(df, "key", "s", percents=(50, 100)).collect()}
    assert (got["a"]["n"], got["a"]["p50"], got["a"]["p100"]) \
        == (4, "fig", "pear")
    assert (got["b"]["n"], got["b"]["p50"], got["b"]["p100"]) \
        == (3, "mm", "zz")
