"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: full parse→normalize→enrich→route pipeline over
                transcripts synthesized from sf0.001 events, returning
                per-sink routed-row counts.
queries()     — one entry per implemented operator (SURVEY.md §2), derived
                from this module's `q_<name>` functions: each callable
                takes (spark, sf_dir), ships the package to the executors
                and returns a DataFrame.
oracle_sql()  — DuckDB-equivalent SQL for EVERY query, keyed by the same
                <name> (the approximate operators use engine-portable
                hash families re-implemented independently in SQL —
                logunifier_spark/duck_oracles.py).

A query is a `q_<name>` function plus an `oracle_sql()` entry; nothing
else registers it (tools/check_oracles.py fails on a key mismatch).

Pipeline queries synthesize a transcripts table from `events` with an
INVERTIBLE generator (text embeds event_id), so the oracle can compute the
expected parse/route output directly from the generating columns — any
regression in grok/logfmt/ts/level/validate/route semantics breaks the
value-hash equality.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ship(spark: SparkSession) -> None:
    from logunifier_spark.session import ship_package
    ship_package(spark)


# ---------------------------------------------------------------------------
# transcripts synthesized from events (invertible; 8 pattern families)
# ---------------------------------------------------------------------------

def _transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    m = F.pmod(eid, F.lit(8))
    ms = F.lpad(F.pmod(eid, F.lit(1000)).cast("string"), 3, "0")
    text = (
        F.when(m == 0, F.concat(F.lit("2023-03-20T15:06:45."), ms,
                                F.lit("Z [DEBUG] evt "), eid))
         .when(m == 1, F.concat(F.lit("2023-03-20 14:27:28,296 WARNING evt "), eid))
         .when(m == 2, F.concat(F.lit('level=err msg="evt '), eid,
                                F.lit('" user=u'), F.pmod(F.col("user_id"), F.lit(10))))
         .when(m == 3, F.concat(F.lit("raw text "), eid))
         .when(m == 4, F.concat(F.lit("[2023-03-30 10:51:43.705]["),
                                F.pmod(eid, F.lit(100)),
                                F.lit("][info][cluster] evt "), eid))
         .when(m == 5, F.concat(F.lit("2024-12-19T18:22:09Z TRC some/file.go:42 > evt "), eid))
         .when(m == 6, F.concat(F.lit('{"@timestamp":"2023-06-07T12:00:00Z","message":"evt '),
                                eid, F.lit('","log":{"level":"INFO"}}')))
         .otherwise(F.lit("Invalid message"))
    )
    tool = (
        F.when(m.isin(0, 1, 7), F.lit("tslevelmsg"))
         .when(m == 2, F.lit("logfmt"))
         .when(m == 3, F.lit("nop"))
         .when(m == 4, F.lit("envoy"))
         .when(m == 5, F.lit("traefik"))
         .otherwise(F.lit("ecs"))
    )
    return e.select(
        F.concat(F.lit("conv"), F.pmod(eid, F.lit(97))).alias("conv_id"),
        eid.cast("int").alias("turn_idx"),
        F.lit("agent").alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


# the same generator, for DuckDB (keep in lockstep with the Spark version)
_SQL_M = "(event_id % 8)"
_SQL_EXPECTED_LEVEL = f"""
  CASE {_SQL_M} WHEN 0 THEN 'debug' WHEN 1 THEN 'warn' WHEN 2 THEN 'error'
                WHEN 3 THEN 'unknown' WHEN 4 THEN 'info' WHEN 5 THEN 'trace'
                WHEN 6 THEN 'info' ELSE 'unknown' END
"""
_SQL_EXPECTED_PATTERN = f"""
  CASE {_SQL_M} WHEN 0 THEN 'TsLevelMsg' WHEN 1 THEN 'TsLevelMsg'
                WHEN 2 THEN 'LogFmt' WHEN 3 THEN 'Nop' WHEN 4 THEN 'Envoy'
                WHEN 5 THEN 'Traefik' WHEN 6 THEN 'Ecs' ELSE 'TsLevelMsg' END
"""
# DEFAULT_PATTERN_LABELS sink assignment (operators/enrich.py)
_SQL_EXPECTED_SINK = f"""
  CASE {_SQL_EXPECTED_PATTERN} WHEN 'Nop' THEN 'loki_infra'
       WHEN 'Envoy' THEN 'loki_infra' WHEN 'Traefik' THEN 'loki_infra'
       WHEN 'Clf' THEN 'loki_infra' ELSE 'loki_app' END
"""
# full raw-text replica of _transcripts_from_events (pre-parse input text)
_SQL_RAW_TEXT = f"""
  CASE {_SQL_M}
    WHEN 0 THEN '2023-03-20T15:06:45.' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
                || 'Z [DEBUG] evt ' || event_id
    WHEN 1 THEN '2023-03-20 14:27:28,296 WARNING evt ' || event_id
    WHEN 2 THEN 'level=err msg="evt ' || event_id || '" user=u' || (user_id % 10)
    WHEN 3 THEN 'raw text ' || event_id
    WHEN 4 THEN '[2023-03-30 10:51:43.705][' || (event_id % 100)
                || '][info][cluster] evt ' || event_id
    WHEN 5 THEN '2024-12-19T18:22:09Z TRC some/file.go:42 > evt ' || event_id
    WHEN 6 THEN '{{"@timestamp":"2023-06-07T12:00:00Z","message":"evt '
                || event_id || '","log":{{"level":"INFO"}}}}'
    ELSE 'Invalid message' END
"""

# Morton interleave of (u, d) at 8 bits — mirrors storage.zorder_key
# term-for-term: bit i of column j lands at position i*2+j
_SQL_ZORDER = " | ".join(
    f"(((u >> {i}) & 1) << {2 * i}) | (((d >> {i}) & 1) << {2 * i + 1})"
    for i in range(8))

_SQL_EXPECTED_MESSAGE = f"""
  CASE {_SQL_M}
    WHEN 0 THEN 'evt ' || event_id
    WHEN 1 THEN 'evt ' || event_id
    WHEN 2 THEN 'evt ' || event_id
    WHEN 3 THEN 'raw text ' || event_id
    WHEN 4 THEN '[cluster] evt ' || event_id
    WHEN 5 THEN 'evt ' || event_id
    WHEN 6 THEN 'evt ' || event_id
    ELSE 'Invalid message' END
"""


def _unified(spark: SparkSession, sf_dir: str, enrich: bool = True) -> DataFrame:
    from logunifier_spark.operators.enrich import default_pattern_labels
    from logunifier_spark.pipeline import unify
    t = _transcripts_from_events(spark, sf_dir)
    labels = default_pattern_labels(spark) if enrich else None
    return unify(t, pattern_labels=labels)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_pattern_histogram(spark, sf_dir):
    from logunifier_spark.operators.aggregate import pattern_histogram
    return pattern_histogram(_unified(spark, sf_dir))


def q_level_histogram(spark, sf_dir):
    from logunifier_spark.operators.aggregate import level_histogram
    return level_histogram(_unified(spark, sf_dir))


def q_sink_counts(spark, sf_dir):
    from logunifier_spark.operators.aggregate import sink_counts
    return sink_counts(_unified(spark, sf_dir))


def q_sink_bytes(spark, sf_dir):
    """A2/A3 batch-size accounting parity: per-sink payload bytes
    (batch.go:113-123 sizeBytes) next to the routed-row count."""
    from logunifier_spark.operators.aggregate import sink_bytes
    return sink_bytes(_unified(spark, sf_dir))


def q_routed_messages(spark, sf_dir):
    u = _unified(spark, sf_dir)
    return u.select("conv_id", "turn_idx", "message")


def q_parsed_timestamps(spark, sf_dir):
    u = _unified(spark, sf_dir)
    return (u.where(F.col("log_pattern_key") == "TsLevelMsg")
             .select("turn_idx",
                     F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts_str")))


def q_emoji_histogram(spark, sf_dir):
    u = _unified(spark, sf_dir)
    return (u.groupBy(F.col("log_level_emoji").alias("emoji"))
             .agg(F.count("*").alias("hits")))


def q_logfmt_users(spark, sf_dir):
    u = _unified(spark, sf_dir)
    return (u.where(F.col("log_pattern_key") == "LogFmt")
             .groupBy(F.element_at(F.col("labels"), "logfmt_user").alias("user_label"))
             .agg(F.count("*").alias("hits")))


def q_process_errors(spark, sf_dir):
    u = _unified(spark, sf_dir)
    return (u.where(F.col("process_error_reason").isNotNull())
             .groupBy(F.col("log_pattern_key").alias("pattern_key"),
                      F.col("process_error_reason").alias("reason"))
             .agg(F.count("*").alias("hits")))


def q_validation_errors(spark, sf_dir):
    u = _unified(spark, sf_dir, enrich=False)
    return (u.groupBy(F.col("validation_errors").alias("verrs"))
             .agg(F.count("*").alias("hits")))


def q_tenant_counts(spark, sf_dir):
    """Per-tenant routing (X-Scope-OrgID analog): the reference ships one
    batch per tenant (lokiclient/client.go:273-363); here tenant=org_name
    is a first-class partition key next to sink."""
    from logunifier_spark.operators.route import with_routing
    u = _unified(spark, sf_dir)
    t = with_routing(u, tenant=True)
    return (t.groupBy("tenant", "sink")
             .agg(F.count("*").alias("routed_rows")))


def q_stable_order(spark, sf_dir):
    """M2: stable (conv_id, turn_idx) turn ordering — the window that makes
    per-turn text equality well-defined (north-star invariant)."""
    from logunifier_spark.pipeline import stable_order
    u = stable_order(_unified(spark, sf_dir))
    return u.select("conv_id", "turn_idx", "turn_rank", "message")


def q_stream_keys(spark, sf_dir):
    u = _unified(spark, sf_dir)
    return (u.groupBy("stream_key").agg(F.count("*").alias("entries")))


# --- relational capability (general joins/aggs/windows for the harness) ----

def q_tpch_pricing(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    # double aggregates rounded: FP summation order differs across engines
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                   F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("sum_disc_price"),
                   F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                   F.count("*").alias("count_order")))


def q_top_customer_revenue(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    return (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
             .groupBy("c_custkey", "c_name")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                  F.count("*").alias("n_orders"))
             .orderBy(F.desc("revenue"), F.asc("c_custkey"))
             .limit(10))


def q_region_revenue(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
              .join(c, o["o_custkey"] == c["c_custkey"])
              .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
              .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
              .groupBy("r_name")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue")))


def q_nation_trade(spark, sf_dir):
    """TPC-H Q7-style cross-border trade volume: lineitem ⋈ supplier ⋈
    orders ⋈ customer with the nation dim broadcast TWICE under
    different aliases (supplier's and customer's nation). Volume is
    summed as int64 ten-thousandths — floor(x·10⁴+0.5) of the identical
    double expression tree on both engines — so the aggregate is
    order-free and the value hash exact, unlike a raw double SUM."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    s = _load(spark, sf_dir, "supplier")
    n1 = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("supp_nation"))
    n2 = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"),
        F.col("n_name").alias("cust_nation"))
    vol_q = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000 + F.lit(0.5)).cast("long")
    return (li.join(s, li["l_suppkey"] == s["s_suppkey"])
              .join(o, li["l_orderkey"] == o["o_orderkey"])
              .join(c, o["o_custkey"] == c["c_custkey"])
              .join(F.broadcast(n1), s["s_nationkey"] == F.col("_sn_key"))
              .join(F.broadcast(n2), c["c_nationkey"] == F.col("_cn_key"))
              .where(F.col("supp_nation") != F.col("cust_nation"))
              .groupBy("supp_nation", "cust_nation")
              .agg(F.count("*").alias("n_items"),
                   F.sum(vol_q).alias("volume_q")))


def q_conversation_stats(spark, sf_dir):
    """Per-conversation filter features as ONE hash aggregate (axis-B
    transcript unit): partial aggregation reduces map-side to one row per
    (conv, partition) — the shuffle carries the conversation set, not the
    turn set."""
    from logunifier_spark.operators.conversation import conversation_stats
    t = _transcripts_from_events(spark, sf_dir)
    s = conversation_stats(t)
    return s.select(
        "conv_id", "n_turns", "n_roles",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("first_ts_str"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("last_ts_str"),
        "total_chars", "agent_turns")


def q_stitch_conversations(spark, sf_dir):
    """Ordered conversation stitching without a window or global sort:
    collect (turn_idx, text) structs per conv, array_sort INSIDE the
    group, join. Oracle: string_agg(... ORDER BY)."""
    from logunifier_spark.operators.conversation import stitch_conversations
    t = _transcripts_from_events(spark, sf_dir)
    return stitch_conversations(t)


def q_turn_context(spark, sf_dir):
    """SFT context assembly: each turn with its previous k=2 turns joined
    in order — per-conversation window (sorts only within a conv after
    the conv_id hash shuffle, never globally)."""
    from logunifier_spark.operators.conversation import turn_context
    t = _transcripts_from_events(spark, sf_dir)
    return turn_context(t, k=2).select("conv_id", "turn_idx", "context")


def q_response_pairs(spark, sf_dir):
    """Instruction-pair extraction: adjacent user→agent turn pairs via
    lag() over the per-conversation window."""
    from logunifier_spark.operators.conversation import response_pairs
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    t = e.select(
        F.concat(F.lit("conv"), F.pmod(eid, F.lit(97))).alias("conv_id"),
        eid.cast("int").alias("turn_idx"),
        F.when(F.pmod(eid, F.lit(2)) == 0, F.lit("user"))
         .otherwise(F.lit("agent")).alias("role"),
        F.concat(F.lit("evt "), eid).alias("text"))
    return response_pairs(t)


def q_salted_join(spark, sf_dir):
    """Skew-aware equi-join (operators/join.py): events' hot event_type
    keys spread over 8 deterministic salts, dim replicated per salt —
    result rows identical to the plain join (which IS the oracle)."""
    from logunifier_spark.operators.join import salted_join
    e = _load(spark, sf_dir, "events").select("event_id", "event_type")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3), ("login", 4)],
        "event_type string, weight int")
    return salted_join(e, dim, "event_type", salts=8) \
        .select("event_id", "event_type", "weight")


def q_first_event_per_user(spark, sf_dir):
    """First event per user as a PARTIAL-AGGREGABLE min_by, not a window:
    row_number() would shuffle-and-sort every event, while the aggregate
    reduces map-side to one row per (user, partition) before the exchange
    — at 10^12 events with events-per-user >> partitions that is the
    difference between shuffling the table and shuffling the user set.
    (event_id is unique, so the (ts, event_id) ordering key is total and
    both formulations are deterministic and value-identical — verified.)"""
    e = _load(spark, sf_dir, "events")
    return (e.groupBy("user_id")
             .agg(F.min_by(F.struct("event_id", "event_type"),
                           F.struct("ts", "event_id")).alias("_s"))
             .select("user_id", F.col("_s.event_id").alias("event_id"),
                     F.col("_s.event_type").alias("event_type")))


def q_event_type_stats(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    return (e.groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.round(F.sum("value"), 3).alias("sum_value"),
                  F.count_distinct("user_id").alias("n_users")))


def q_asof_clicks(spark, sf_dir):
    """As-of join (operators/temporal.py): each purchase matched to the
    same user's most recent preceding click — union + one keyed window
    sort, no join explosion. Oracle = DuckDB's NATIVE ASOF LEFT JOIN, an
    entirely independent implementation of the semantics. (user_id, ts)
    is unique in `events`, so the match is well-defined without a
    tiebreak."""
    from logunifier_spark.operators.temporal import asof_join
    e = _load(spark, sf_dir, "events")
    left = e.where(F.col("event_type") == "purchase") \
            .select("user_id", "event_id", "ts")
    right = e.where(F.col("event_type") == "click") \
             .select("user_id", F.col("event_id").alias("click_id"), "ts")
    aj = asof_join(left, right, on="user_id", ts="ts")
    gap = F.floor((F.unix_micros(F.col("ts").cast("timestamp"))
                   - F.unix_micros(F.col("matched_ts").cast("timestamp")))
                  / F.lit(1_000_000)).cast("long")
    return aj.select("user_id", "event_id", "click_id", gap.alias("gap_s"))


def q_user_sessions(spark, sf_dir):
    """Gap sessionization (operators/temporal.py): 1-hour-gap sessions per
    user over `events`, rolled up to per-session stats. One shuffle on
    user_id; the lag and the running session counter share a window
    spec (single sort), the roll-up partial-aggregates."""
    from logunifier_spark.operators.temporal import session_stats
    e = _load(spark, sf_dir, "events")
    s = session_stats(e, "user_id", ts="ts", gap_s=3600.0)
    return s.select("user_id", "session_id", "n_events", "duration_s")


def q_curate_corpus(spark, sf_dir):
    """The full curation funnel (logunifier_spark/curate.py): exact dedup
    → language filter → quality filter → deterministic sample, verified
    END TO END by one oracle — stage-boundary bugs break the hash even
    when each stage passes in isolation."""
    from logunifier_spark.curate import curate
    d = _load(spark, sf_dir, "documents")
    out = curate(d, langs=("en",), min_quality=0.5, sample_rate=0.5)
    return out.select("doc_id", "source", "lang_id", "quality")


def q_decontam_hits(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): training docs
    sharing any word 4-gram with the benchmark slice (doc_id % 97 == 0),
    with the distinct shared-gram count. Bench gram set is broadcast; the
    corpus side is probed map-side (no corpus shuffle)."""
    from logunifier_spark.operators.decontam import contaminated_ids
    d = _load(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    return contaminated_ids(train, bench, n=4)


def q_chunk_windows(spark, sf_dir):
    """Token-window chunking (operators/chunk.py): 32-word windows with
    stride 24 (8-word overlap); chunk text carried as md5 so the oracle
    hash stays small."""
    from logunifier_spark.operators.chunk import chunk_by_tokens
    d = _load(spark, sf_dir, "documents")
    c = chunk_by_tokens(d, size=32, stride=24)
    return c.select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
                    "n_tokens", F.md5("chunk_text").alias("chunk_md5"))


def q_gopher_stats(spark, sf_dir):
    """Gopher-style repetition/shape filters (operators/textstats.py
    repetition_stats): word count, mean word length, alpha-word fraction,
    duplicate-line and duplicate-2gram fractions, and the combined pass
    flag."""
    from logunifier_spark.operators.textstats import repetition_stats
    d = _load(spark, sf_dir, "documents")
    return repetition_stats(d).select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_frac",
        "dup_line_frac", "dup_2gram_frac", "gopher_pass")


def q_kmeans_clusters(spark, sf_dir):
    """Fixed-point k-means (operators/kmeans.py): 2 exact Lloyd iterations,
    k=8, over int64-quantized embeddings — final per-vector assignment and
    squared distance. Deterministic end to end, so the iterative algorithm
    is value-hash oracleable (the oracle unrolls both iterations in SQL)."""
    from logunifier_spark.operators.kmeans import kmeans_fixed_point
    e = _load(spark, sf_dir, "embeddings")
    return kmeans_fixed_point(e, k=8, iters=2)


def q_doc_length_quantiles(spark, sf_dir):
    """Exact per-group discrete quantiles (operators/stats.py): doc-length
    p50/p95 per source with integer-only rank math (pos = ceil(n*p/100)
    computed as floor((n*p+99)/100) — float q flips positions at exact
    multiples), computed skew-safely via the per-group two-pass coarse
    histogram (no per-group sort task — a dominant group costs the same
    as a balanced one). Oracle = DuckDB's NATIVE quantile_disc, an
    independent implementation of the same type-1 semantics."""
    from logunifier_spark.operators.stats import group_quantiles
    d = _load(spark, sf_dir, "documents")
    return group_quantiles(d, "source", "n_chars", percents=(50, 95))


def q_interval_events(spark, sf_dir):
    """Bucketized interval join (operators/temporal.py::interval_join):
    every 97th event opens a 30-minute incident window; events are
    matched to the windows containing them via fixed time buckets —
    an equi-join on bucket id plus an exact containment filter, never
    the O(|E|·|I|) BroadcastNestedLoopJoin Spark plans for a raw
    BETWEEN join. Oracle = DuckDB's native inequality join, an
    independent evaluation strategy for the same semantics."""
    from logunifier_spark.operators.temporal import interval_join
    e = _load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    incidents = (e.where(F.col("event_id") % 97 == 0)
                  .select(F.col("event_id").alias("incident_id"),
                          us.alias("start"),
                          (us + F.lit(1_800_000_000)).alias("end")))
    ev = e.select("event_id", "user_id", "ts")
    j = interval_join(ev, incidents, ts="ts", bucket_s=1800.0)
    return (j.groupBy("incident_id")
             .agg(F.count("*").alias("n_events"),
                  F.countDistinct("user_id").alias("n_users"),
                  F.min("event_id").alias("min_event"),
                  F.max("event_id").alias("max_event")))


def q_value_histogram(spark, sf_dir):
    """Per-event-type fixed-width histogram
    (operators/stats.py::group_histogram): one map-side-combinable hash
    aggregate; explicit [lo, hi) bounds (monitoring histograms must be
    stable across runs, so no data-dependent min/max scan), bucket index
    floor((x-lo)/(hi-lo)·bins) in one fixed double expression tree,
    out-of-range rows clamped into the edge buckets."""
    from logunifier_spark.operators.stats import group_histogram
    e = _load(spark, sf_dir, "events")
    return group_histogram(e, "event_type", "value",
                           lo=0.0, hi=20.0, bins=10)


def q_user_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/graph.py) over the
    who-follows-whom user-transition graph derived from the event
    stream. Like kmeans_clusters, an ITERATIVE algorithm with a full
    value-hash oracle: every power iteration is exact int64
    floor-division arithmetic, and the oracle unrolls each iteration as
    a SQL CTE. Per iteration: one src-keyed equi-join + one
    map-side-combinable dst aggregate."""
    from logunifier_spark.operators.graph import (
        pagerank_fixed_point,
        transition_edges,
    )
    e = _load(spark, sf_dir, "events")
    pr = pagerank_fixed_point(transition_edges(e), iters=3)
    return pr.select(F.col("node").alias("user_id"), "rank_q")


def q_event_rollup(spark, sf_dir):
    """OLAP ROLLUP drill-down (operators/aggregate.py::rollup_report):
    per (event_type, month) counts and exact money sums with subtotal
    and grand-total rows. Money enters as int64 cents — floor(x*100+0.5)
    is portable where round() is not (Spark half-up vs DuckDB half-even)
    — so every group shape sums associatively with no float
    order-dependence. Spark plans ROLLUP as Expand + one hash aggregate
    with map-side combine."""
    from logunifier_spark.operators.aggregate import rollup_report
    e = _load(spark, sf_dir, "events")
    d = e.select("event_type",
                 F.month(F.col("ts").cast("timestamp"))
                  .cast("string").alias("month"),
                 "value")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return rollup_report(d, ["event_type", "month"], cents_col=cents)


def q_kmv_users(spark, sf_dir):
    """KMV distinct-count sketch (operators/stats.py::kmv_distinct):
    estimated distinct users per event type from the k smallest 48-bit
    md5-prefix hashes. Unlike approx_count_distinct (HLL++, an
    engine-internal sketch no SQL oracle can reproduce), the KMV
    estimate is a pure deterministic function of the value set — the
    DuckDB oracle recomputes it with a single global ranking while the
    operator ranks per event type through grouped_top_k (a partial
    WindowGroupLimit before the shuffle), and the results must agree
    bit-for-bit."""
    from logunifier_spark.operators.stats import kmv_distinct
    e = _load(spark, sf_dir, "events")
    return kmv_distinct(e, "event_type", "user_id", k=64)


def q_rate_spikes(spark, sf_dir):
    """Burst detection (operators/timeseries.py): hourly event counts per
    event_type, flagged when a bucket exceeds 2× the mean of its 6
    trailing observed buckets. Integer arithmetic end to end (bucket id =
    us - us%w in int64; criterion cross-multiplied) — no float drift
    between engines."""
    from logunifier_spark.operators.timeseries import rate_spikes
    e = _load(spark, sf_dir, "events")
    return rate_spikes(e, "event_type", ts="ts", bucket_s=3600,
                       trailing=6, mult=2)


def q_event_funnel(spark, sf_dir):
    """Ordered-event funnel (operators/funnel.py::funnel_reach): per
    user, the earliest signup -> view -> purchase completion times in
    int64 epoch micros (strict > between consecutive steps). Each step
    is one user-keyed hash aggregate + one join against the reach frame
    (one row per step-1 user — broadcast-sized at cluster scale); the
    step filter pushes to the scan. The oracle chains the same
    semantics as sequential CTEs."""
    from logunifier_spark.operators.funnel import funnel_reach
    e = _load(spark, sf_dir, "events")
    r = funnel_reach(e, ["signup", "view", "purchase"])
    return r.select(F.col("user").alias("user_id"), "steps_completed",
                    "t1_us", "t2_us", "t3_us")


def q_funnel_summary(spark, sf_dir):
    """Funnel step rollup (operators/funnel.py::funnel_counts): users
    reaching each ordered step, monotone non-increasing by
    construction. One aggregate over the per-user reach frame,
    unpivoted via a struct-array explode (a single job, not one count
    job per step)."""
    from logunifier_spark.operators.funnel import funnel_counts
    e = _load(spark, sf_dir, "events")
    return funnel_counts(e, ["signup", "view", "purchase"])


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (operators/funnel.py::cohort_retention):
    users bucketed by first-activity week, counted in each later active
    week. Bucket math is us - us mod w in int64 (double floor is off by
    one past 2^53); offsets divide exactly (both operands are multiples
    of the width). One first-seen aggregate, one distinct, one
    user-keyed join, one final count. Daily buckets here (the synthetic
    corpus spans 30 days, so a daily grid exercises a real
    cohort x offset matrix; the production default is weekly)."""
    from logunifier_spark.operators.funnel import cohort_retention
    e = _load(spark, sf_dir, "events")
    return (cohort_retention(e, bucket_s=24 * 3600)
            .withColumnRenamed("week_offset", "day_offset"))


def q_log_templates(spark, sf_dir):
    """Template mining (operators/templates.py::mine_templates): discover
    the pattern bank from raw lines via deterministic masking (hex-run ->
    <HEX>, digit-run -> <N>; plain character-class regexes so Java regex
    and RE2 agree). Two codegen regexp_replace + ONE hash aggregate whose
    key cardinality is the number of distinct templates, with min(raw) as
    the deterministic family example."""
    from logunifier_spark.operators.templates import mine_templates
    t = _transcripts_from_events(spark, sf_dir)
    return mine_templates(t, text="text")


def q_tool_call_stats(spark, sf_dir):
    """Semi-structured tool-call extraction
    (operators/conversation.py::tool_call_stats): agent transcripts carry
    tool invocations as JSON; parse with an explicit schema (Spark
    Jackson vs DuckDB's JSON lib — independent parsers) and roll up per
    function. One malformed family per 4 rows proves the poisoned-row
    path: from_json yields an all-null struct (never throws) and the row
    lands in '_unparsed', mirrored in SQL via json_valid()."""
    from logunifier_spark.operators.conversation import tool_call_stats
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    m = F.pmod(eid, F.lit(4))
    j = (F.when(m == 0, F.concat(
            F.lit('{"fn":"search","args":{"q":"evt '), eid,
            F.lit('","top_k":'), F.pmod(eid, F.lit(20)),
            F.lit('},"ms":'), F.pmod(eid, F.lit(500)), F.lit("}")))
         .when(m == 1, F.concat(
            F.lit('{"fn":"fetch","args":{"url":"http://ex/'), eid,
            F.lit('"},"ms":'), F.pmod(eid, F.lit(300)), F.lit("}")))
         .when(m == 2, F.lit('{"fn":"exec","args":{}}'))
         .otherwise(F.lit('{"fn":"exec","ms":')))
    return tool_call_stats(e.select(j.alias("tool_json")))


def q_stratified_sample(spark, sf_dir):
    """Exact per-group quota sampling
    (operators/sampling.py::stratified_sample): the 20 smallest
    portable-hash docs per language — deterministic under any
    partitioning (a rate gate can't hit an exact count). The quota is
    grouped_top_k's window filter, whose partial WindowGroupLimit keeps
    20 rows per language in every map partition before the shuffle; the
    oracle uses one global window — a different evaluation strategy."""
    from logunifier_spark.operators.sampling import stratified_sample
    d = _load(spark, sf_dir, "documents")
    s = stratified_sample(d, "lang", n=20)
    return s.select("doc_id", "lang", "source", "n_chars")


def q_latest_events(spark, sf_dir):
    """CDC latest-wins compaction (operators/aggregate.py::latest_state):
    one row per user with the payload of their maximal (ts, event_id)
    event plus the history depth. A single map-side-combinable hash
    aggregate of max_by's — the shuffle carries one partially-reduced
    row per (user, partition), never the history; the oracle uses the
    row_number()-over-desc window form (an independent strategy) and
    must agree."""
    from logunifier_spark.operators.aggregate import latest_state
    e = _load(spark, sf_dir, "events")
    d = e.select(
        "user_id", "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
         .alias("cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    out = latest_state(d, "user_id", order_by=["us", "event_id"],
                       payload=["event_type", "cents", "us"])
    return out.select("user_id", F.col("event_type").alias("last_type"),
                      F.col("cents").alias("last_cents"),
                      F.col("us").alias("last_us"), "n_rows")


def q_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnostics (operators/join.py::skew_report) —
    the measurement that decides between plain hash join, broadcast, and
    salted_join (north-rule skew lever). Key synthesized half-hot on
    purpose; shares in exact integer ppm (rows*1e6 DIV total — float
    shares drift between engines). One count aggregate to the distinct
    key frame + grouped_top_k's global form (TakeOrderedAndProject)."""
    from logunifier_spark.operators.join import skew_report
    e = _load(spark, sf_dir, "events")
    key = (F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"),
                                F.pmod(F.col("event_id"), F.lit(1000)))))
    return skew_report(e.select(key.alias("key")), "key", top=10)


def q_corpus_diff(spark, sf_dir):
    """Corpus snapshot diff (operators/diff.py::corpus_diff): dataset
    versioning as ONE full-outer id join over (id, content-hash)
    projections — added / removed / changed classification with
    engine-portable md5-over-unit-separator hashes. The 'new' snapshot
    is a deterministic mutation of documents (drop %97, edit %11,
    append %13 under shifted ids)."""
    from logunifier_spark.operators.diff import corpus_diff
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    mutated = d.where(F.pmod(did, F.lit(97)) != 0).withColumn(
        "text",
        F.when(F.pmod(did, F.lit(11)) == 0,
               F.concat(F.col("text"), F.lit(" v2")))
         .otherwise(F.col("text")))
    added = (d.where(F.pmod(did, F.lit(13)) == 0)
              .select((did + F.lit(1_000_000)).alias("doc_id"), "text"))
    new = mutated.unionByName(added)
    return corpus_diff(d, new, content_cols=["text"])


def q_fuzzy_match(spark, sf_dir):
    """Blocked fuzzy matching (operators/linkage.py::blocked_fuzzy_pairs):
    record linkage between a dirty and a clean service-name set via
    first-letter + length-band blocking (exact recall within a first
    letter, see module docstring) and a levenshtein verify. Cross-engine
    check is real: Spark's JVM edit distance vs DuckDB's C++ one, and
    the oracle uses a BRUTE-FORCE cross join (no blocking) — the blocked
    result must equal it exactly on this corpus (all names share a first
    letter)."""
    from logunifier_spark.operators.linkage import blocked_fuzzy_pairs
    e = _load(spark, sf_dir, "events")
    base = F.concat(F.lit("svc"), F.pmod(F.col("user_id"), F.lit(20)))
    dirty = F.concat(base, F.when(F.pmod(F.col("event_id"), F.lit(3)) == 0,
                                  F.lit("x")).otherwise(F.lit("")))
    left = e.select(dirty.alias("name")).distinct()
    right = e.select(base.alias("name")).distinct()
    out = blocked_fuzzy_pairs(left, right, "name", max_dist=1)
    return out.select(F.col("name").alias("l_name"),
                      F.col("name_r").alias("r_name"), "dist")


def q_watermark_lag(spark, sf_dir):
    """Event-time disorder measurement
    (operators/timeseries.py::watermark_lag_stats) — how late events
    arrive relative to the running event-time max in arrival order
    (arrival proxy: event_id). This is the statistic that SIZES the
    streaming watermark delay in stream_unify; one window + one reusing
    hash aggregate, int64 micros throughout."""
    from logunifier_spark.operators.timeseries import watermark_lag_stats
    e = _load(spark, sf_dir, "events")
    return watermark_lag_stats(e, "event_type", arrival="event_id")


def q_zorder_layout(spark, sf_dir):
    """Z-order layout key (storage.py::zorder_key): Morton interleave of
    (user mod 256, epoch-day mod 256), bucketed by the key's high bits —
    the per-bucket min/max spans of BOTH dimensions are what parquet
    min/max pruning would see after a zorder-sorted write. Pure int64
    shift/or projection (bits*cols = 16 terms, far under the JIT method
    budget) + one hash aggregate; the oracle rebuilds the interleave
    from the same per-term SQL."""
    from logunifier_spark.storage import zorder_key
    e = _load(spark, sf_dir, "events")
    u = F.pmod(F.col("user_id"), F.lit(256))
    d = F.pmod(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"),
               F.lit(256))
    z = zorder_key([u, d], bits=8)
    b = e.select(u.alias("u"), d.alias("d"), z.alias("z"))
    return (b.groupBy(F.shiftright("z", 6).alias("bucket"))
             .agg(F.count("*").alias("n"),
                  F.min("u").alias("min_u"), F.max("u").alias("max_u"),
                  F.min("d").alias("min_d"), F.max("d").alias("max_d")))


def q_heavy_hitters(spark, sf_dir):
    """Per-language heavy-hitter terms
    (operators/stats.py::grouped_top_k over the token-count frame): the
    vocabulary-pruning / stopword-discovery rollup. One token-stream
    shuffle with map-side combine down to (lang, term) counts, then a
    row_number window filter whose partial WindowGroupLimit keeps 8
    terms per language in every map partition before the shuffle (no
    sort ever holds a language's whole vocabulary); oracle = one global
    window."""
    from logunifier_spark.operators.stats import grouped_top_k
    from logunifier_spark.operators.textstats import ASCII_WS
    from logunifier_spark.operators.tfidf import TERM_RE
    d = _load(spark, sf_dir, "documents")
    toks = (d.select("lang",
                     F.explode(F.split(F.lower(F.col("text")),
                                       ASCII_WS + "+")).alias("term"))
             .where(F.col("term").rlike(TERM_RE)))
    counts = toks.groupBy("lang", "term").agg(F.count("*").alias("n"))
    return grouped_top_k(counts, "lang", "n", k=8, tiebreak=["term"])


def q_blocklist_hits(spark, sf_dir):
    """Domain blocklist matching (operators/blocklist.py): URL host ->
    domain-suffix chain (row-local HOF, bounded fan-out) -> broadcast
    join against the blocklist; matched_domain = the most specific
    (longest) entry via max_by. URLs synthesized invertibly from
    doc_id; blocklist entries are the same three literals on both
    sides."""
    from logunifier_spark.operators.blocklist import blocklist_hits
    d = _load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m = F.pmod(did, F.lit(4))
    url = (F.when(m == 0, F.concat(F.lit("https://www.bad"),
                                   F.pmod(did, F.lit(7)),
                                   F.lit(".com/a")))
            .when(m == 1, F.concat(F.lit("https://ok"),
                                   F.pmod(did, F.lit(5)),
                                   F.lit(".org/b")))
            .when(m == 2, F.concat(F.lit("https://x.sub.tracker.net/c?q="),
                                   did))
            .otherwise(F.concat(F.lit("ftp://good.com/"), did)))
    docs = d.select("doc_id", url.alias("url"))
    bl = spark.createDataFrame(
        [("bad0.com",), ("bad3.com",), ("tracker.net",)], "domain string")
    return blocklist_hits(docs, bl)


def q_conversation_qc(spark, sf_dir):
    """Transcript structural QC
    (operators/conversation.py::conversation_qc): per-conversation
    role-alternation / ordinal-continuity / empty-text accounting, the
    gate before SFT ingestion. Input synthesized with deliberate
    violations (forced role repeats every 11th turn, dropped ordinals
    every 13th, empty text every 17th); one per-conv window + one
    reusing hash aggregate."""
    from logunifier_spark.operators.conversation import conversation_qc
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    turn = F.expr("event_id DIV 97")
    role = (F.when(F.pmod(turn, F.lit(11)) == 5, F.lit("user"))
             .when(F.pmod(turn, F.lit(2)) == 0, F.lit("user"))
             .otherwise(F.lit("agent")))
    text = (F.when(F.pmod(turn, F.lit(17)) == 9, F.lit(""))
             .otherwise(F.concat(F.lit("t"), eid)))
    d = (e.select(F.concat(F.lit("c"), F.pmod(eid, F.lit(97)))
                   .alias("conv_id"),
                  turn.cast("int").alias("turn_idx"),
                  role.alias("role"), text.alias("text"))
          .where(F.pmod(F.col("turn_idx"), F.lit(13)) != 6))
    return conversation_qc(d)


def q_mixture_weights(spark, sf_dir):
    """Temperature-based mixture rates
    (operators/sampling.py::mixture_weights): per-source sqrt-share
    upweighting (α=1/2 — sqrt is IEEE-correctly-rounded, hence
    engine-portable where pow is not) normalized to integer ppm, plus
    the realized down-sampling keep rate for mixture_sample. The
    sqrt-sum runs in sorted source order on both sides (a float sum is
    order-dependent; the oracle mirrors with ORDER BY inside the
    aggregate)."""
    from logunifier_spark.operators.sampling import mixture_weights
    d = _load(spark, sf_dir, "documents")
    return mixture_weights(d, "source")


def q_pq_encode(spark, sf_dir):
    """Product quantization (operators/pq.py::pq_encode): 8 per-subspace
    integer-exact k-means codebooks (driver-held literals, zero-shuffle
    assignment) packing each 64-dim vector into one int64 code +
    exact reconstruction error. The oracle re-trains ALL EIGHT codebooks
    as prefixed unrolled-Lloyd CTE chains (duck_oracles.pq_encode_sql)
    and must match bit-for-bit — cross-engine equality over a
    multi-model iterative training."""
    from logunifier_spark.operators.pq import pq_encode
    e = _load(spark, sf_dir, "embeddings")
    return pq_encode(e, dim=64, m=8, k=16, iters=1)


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ search (operators/pq.py::ivfpq_topk): coarse integer
    k-means cells prune the corpus, PQ distance-table lookups (ADC)
    rank inside them — the memory shape that scales ANN to 10^12
    vectors (codes + driver-held codebooks, never the raw vectors).
    The oracle re-trains all nine models (8 codebooks + coarse) as
    prefixed unrolled-Lloyd CTE chains and computes ADC by the
    mathematically-equal reconstruction route."""
    from logunifier_spark.operators.pq import ivfpq_topk
    emb = _load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("qid"), "embedding"))
    return ivfpq_topk(emb, q, dim=64, m=8, k_codes=16, n_cells=8,
                      nprobe=2, topk=5, iters=1)


def q_inverted_index(spark, sf_dir):
    """Inverted-index build (operators/bm25.py::inverted_index): one
    (term, doc) pass, TRUE df before the cap, posting lists capped at
    the 30 smallest ids via grouped_top_k (a stopword's full list is
    the corpus itself), serialized as a comma-joined
    string for cross-engine hashability."""
    from logunifier_spark.operators.bm25 import inverted_index
    d = _load(spark, sf_dir, "documents")
    return inverted_index(d, max_postings=30)


def q_user_triangles(spark, sf_dir):
    """Triangle counting (operators/graph.py::triangle_counts) over the
    user-transition graph: degree-ordered forward counting — edge
    orientation from the (degree, id)-smaller endpoint caps every
    out-degree at O(sqrt(m)), so the wedge self-join is bounded on
    power-law graphs; the closing-edge check is a pure equi-join (the
    wedge pair is ordered by the SAME orientation key). Oracle =
    id-ordered brute-force enumeration, an independent strategy."""
    from logunifier_spark.operators.graph import (
        transition_edges,
        triangle_counts,
    )
    e = _load(spark, sf_dir, "events")
    return triangle_counts(transition_edges(e)) \
        .withColumnRenamed("node", "user_id")


def q_user_communities(spark, sf_dir):
    """Synchronous label propagation
    (operators/graph.py::label_propagation) over the user-transition
    graph — the third iterative algorithm carrying a FULL value-hash
    oracle (after k-means and PageRank): deterministic
    most-frequent-neighbor-label rounds, argmax as an all-int
    min-struct (stays a HashAggregate), every round unrolled as oracle
    CTEs."""
    from logunifier_spark.operators.graph import (
        label_propagation,
        transition_edges,
    )
    e = _load(spark, sf_dir, "events")
    out = label_propagation(transition_edges(e), iters=3)
    return out.withColumnRenamed("node", "user_id")


def q_rolling_rates(spark, sf_dir):
    """Trailing 7-day rolling metrics
    (operators/timeseries.py::rolling_counts): RANGE frame on the int64
    day bucket — empty buckets age out by calendar time (vs
    rate_spikes' observed-rows frame). Two engines' range-frame
    implementations must agree; the average is exact integer
    milli-units."""
    from logunifier_spark.operators.timeseries import rolling_counts
    e = _load(spark, sf_dir, "events")
    return rolling_counts(e, "event_type", bucket_s=86400, trailing=6)


def q_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py::bpe_train):
    iterative most-frequent-pair merges on the word-frequency table
    (one corpus pass, then per-merge vocab-frame-only jobs). Greedy
    merge application is plain string replace under the double-space
    trick — identical left-to-right non-overlapping semantics in the
    JVM and DuckDB — so the WHOLE training unrolls as oracle CTEs and
    the learned merge table must match exactly."""
    from logunifier_spark.operators.bpe import bpe_train
    d = _load(spark, sf_dir, "documents")
    return bpe_train(d, iters=6)


def q_pmi_collocations(spark, sf_dir):
    """PMI phrase mining (operators/tfidf.py::pmi_collocations): top-20
    adjacent term pairs by ln((c_ab*N)/(c_a*c_b)) with c_ab >= 3. Both
    products are exact int64 counts cast to double; single
    correctly-rounded division + one libm ln (the tfidf float
    discipline), ranking ties by pair ascending."""
    from logunifier_spark.operators.tfidf import pmi_collocations
    d = _load(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=3, k=20)


def q_bpe_token_counts(spark, sf_dir):
    """Trained-tokenizer application (operators/bpe.py::bpe_apply): the
    merge table learned by bpe_train (6 merges) applied to every
    document — (doc_id, bpe_tokens). The oracle re-learns the merges
    (unrolled CTEs) AND re-applies them as six chained
    replace-with-scalar-subquery steps over the boundary-marked
    char-split text: the full train->apply loop held to cross-engine
    equality."""
    from logunifier_spark.operators.bpe import bpe_apply, bpe_train
    d = _load(spark, sf_dir, "documents")
    rows = bpe_train(d, iters=6).orderBy("step").collect()
    merges = [(r["lhs"], r["rhs"]) for r in rows]
    return bpe_apply(d, merges).select("doc_id", "bpe_tokens")


def q_cms_user_counts(spark, sf_dir):
    """Count-Min sketch (operators/stats.py::cms_sketch/cms_estimate):
    portable CMS of event frequencies per user (w=64 forces real
    collisions at 150 users, so the one-sided overestimate is
    exercised), probed for every user alongside the exact count —
    (user_id, est, true_n, est >= true_n always). Hash rows are
    independent 24-bit slices of ONE md5 — engine-portable, so the
    DuckDB oracle rebuilds the identical sketch."""
    from logunifier_spark.operators.stats import cms_estimate, cms_sketch
    e = _load(spark, sf_dir, "events")
    sk = cms_sketch(e, "user_id", d=4, w=64)
    est = cms_estimate(sk, e, "user_id", d=4, w=64)
    true = e.groupBy("user_id").agg(F.count("*").alias("true_n"))
    return est.join(true, "user_id")


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators/sampling.py::weighted_sample, Efraimidis-Spirakis): the
    50 docs with the largest ln(u)/weight, weight = n_chars — inclusion
    proportional to length, keep-set a pure function of (id, weight).
    grouped_top_k's global form (TakeOrderedAndProject); oracle = one
    global ranking with the bit-identical key expression."""
    from logunifier_spark.operators.sampling import weighted_sample
    d = _load(spark, sf_dir, "documents")
    out = weighted_sample(d, n=50, weight_col="n_chars")
    return out.select("doc_id", "source", "n_chars")


def q_session_paths(spark, sf_dir):
    """Top user journeys (operators/temporal.py::session_paths): most
    frequent per-session event-type sequences (1h gap sessions, paths
    truncated at 5 steps). One sessionize window + one per-session
    hash aggregate with in-group array_sort (collect order is
    partition-arbitrary) + a global TakeOrdered; oracle uses DuckDB's
    ordered list() aggregate — an independent ordered-collection
    mechanism."""
    from logunifier_spark.operators.temporal import session_paths
    e = _load(spark, sf_dir, "events")
    return session_paths(e, "user_id", gap_s=3600.0,
                         tiebreak="event_id", k=15, max_len=5)


def q_corpus_report(spark, sf_dir):
    """The dataset card: one long-format (metric STRING, value BIGINT)
    frame — row/char/token totals, vocabulary-of-metadata cardinalities,
    per-language counts, exact length percentiles — the artifact a
    curation run publishes next to the corpus. One multi-aggregate, one
    lang rollup, and one exact whole-corpus quantile unioned into a
    single plan; integer-exact throughout. The percentiles ride
    group_quantiles' two-pass coarse-histogram (operators/stats.py), so
    the constant group costs distributed hash aggregates plus a rank
    over ~n/coarse_bins rows per task — NOT one global sort task (the
    round-3 scale-killer; plan-asserted in test_oracles)."""
    from logunifier_spark.operators.stats import group_quantiles
    from logunifier_spark.operators.textstats import token_count
    d = _load(spark, sf_dir, "documents")
    d = d.withColumn("_toks", token_count(F.col("text")))
    base = d.agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum("_toks").alias("total_tokens"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.countDistinct("source").alias("n_sources"))
    metrics = ["n_docs", "total_chars", "total_tokens", "n_langs",
               "n_sources"]
    rows = [F.struct(F.lit(m).alias("metric"),
                     F.col(m).cast("long").alias("value"))
            for m in metrics]
    scalars = (base.select(F.explode(F.array(*rows)).alias("r"))
                   .select("r.metric", "r.value"))
    langs = (d.groupBy("lang").agg(F.count("*").alias("value"))
              .select(F.concat(F.lit("docs_lang_"), F.col("lang"))
                       .alias("metric"), "value"))
    q = (group_quantiles(d.withColumn("_g", F.lit(1)), "_g", "n_chars",
                         percents=(50, 95))
         .select(F.explode(F.array(
             F.struct(F.lit("p50_chars").alias("metric"),
                      F.col("p50").cast("long").alias("value")),
             F.struct(F.lit("p95_chars").alias("metric"),
                      F.col("p95").cast("long").alias("value"))))
             .alias("r"))
         .select("r.metric", "r.value"))
    return scalars.unionByName(langs).unionByName(q)


def q_range_bounds(spark, sf_dir):
    """Exact range-partitioner boundaries
    (operators/stats.py::range_bounds): type-1 quantiles of doc length
    at ceil(n*i/7) via the two-pass coarse-histogram algorithm — no
    global sort, second pass touches only the boundary buckets. Spark's
    RangePartitioner samples; this is the reproducible version a
    resumable sorted layout needs. Oracle = one brute-force global
    ranking (independent strategy)."""
    from logunifier_spark.operators.stats import range_bounds
    d = _load(spark, sf_dir, "documents")
    return range_bounds(d, "n_chars", parts=7, coarse_bins=64)


def q_normalize_text(spark, sf_dir):
    """Unicode NFC normalization (operators/normalize.py): deterministic
    decomposed/precomposed suffixes appended per doc prove real
    composition (e+U+0301 -> é, A+U+030A -> Å; the precomposed family is
    the no-op control). Two genuinely independent NFC engines must
    agree byte-for-byte: CPython unicodedata (Spark Arrow UDF) vs
    DuckDB's utf8proc nfc_normalize — the md5 column is the proof."""
    from logunifier_spark.operators.normalize import normalize_text
    d = _load(spark, sf_dir, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    suffix = (F.when(m == 0, F.decode(F.unhex(F.lit("65CC81")), "UTF-8"))
               .when(m == 1, F.decode(F.unhex(F.lit("C3A9")), "UTF-8"))
               .otherwise(F.decode(F.unhex(F.lit("41CC8A")), "UTF-8")))
    base = d.select("doc_id",
                    F.concat(F.col("text"), F.lit(" "), suffix)
                     .alias("raw"))
    out = normalize_text(base, "raw", "norm")
    return out.select("doc_id", F.length("raw").alias("len_raw"),
                      F.length("norm").alias("len_norm"),
                      F.md5(F.col("norm")).alias("h"))


def q_quality_classifier(spark, sf_dir):
    """Hashed-feature linear classifier inference
    (operators/classifier.py::hashed_linear_score): fastText-style
    quality gate as explode + codegen bucket/weight projection + ONE
    map-side-combinable margin aggregate. Int64 milli-unit weights make
    the dot product associative (a float sum isn't even run-stable);
    the oracle re-runs the classifier from the same portable 48-bit
    md5 bucket hash."""
    from logunifier_spark.operators.classifier import hashed_linear_score
    d = _load(spark, sf_dir, "documents")
    return hashed_linear_score(d, n_buckets=1024, bias_milli=100)


def q_redact_pii(spark, sf_dir):
    """PII redaction (operators/redact.py): ordered engine-portable regex
    rules (email→phone→ipv4→long-digit-run) as a pure JVM-side
    projection, with per-rule replacement counts. Input text synthesized
    invertibly from `events` so every rule fires; the oracle re-types the
    patterns as independent SQL literals — a transcription slip on either
    side breaks the value hash."""
    from logunifier_spark.operators.redact import redact_pii
    e = _load(spark, sf_dir, "events")
    uid, eid = F.col("user_id"), F.col("event_id")
    text = F.concat(
        F.lit("user u"), uid, F.lit("@example.com via 10."),
        F.pmod(uid, F.lit(256)), F.lit(".0."), F.pmod(eid, F.lit(256)),
        F.when(F.pmod(eid, F.lit(3)) == 0,
               F.concat(F.lit(" tel +1415555"),
                        F.lpad(F.pmod(eid, F.lit(10000)).cast("string"),
                               4, "0"))).otherwise(F.lit("")),
        F.lit(" card 4111111111"),
        F.lpad(F.pmod(eid, F.lit(1000000)).cast("string"), 6, "0"),
        F.lit(" evt "), eid)
    d = e.select("event_id", text.alias("text"))
    return redact_pii(d, "text")


# --- training-data operators ------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from logunifier_spark.operators.dedup import exact_dedup
    d = _load(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


def q_ngram_jaccard(spark, sf_dir):
    from logunifier_spark.operators.dedup import ngram_jaccard_pairs
    d = _load(spark, sf_dir, "documents").where(F.length("text") >= 20)
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jac"))


def q_minhash_dedup(spark, sf_dir):
    # portable Horner-mod-p hash family — value-hash-verified against an
    # independent DuckDB SQL re-implementation (duck_oracles.py)
    from logunifier_spark.operators.dedup import minhash_dedup
    d = _load(spark, sf_dir, "documents").where(F.length("text") >= 20)
    # max_bucket=500: the scale path (one sf0.1 bucket holds 1170 docs →
    # 684k candidate pairs in ONE join task); the oracle mirrors the cap
    return minhash_dedup(d, "text", "doc_id", max_bucket=500).select("doc_id")


def q_verified_neardups(spark, sf_dir):
    """Candidate -> verify near-dup composition
    (operators/dedup.py::verified_neardup_pairs): loose banded-minhash
    candidates, confirmed by TRUE Jaccard over the same portable gram
    sets — sketch error never decides a deletion. The oracle reuses
    the shared minhash CTE chain and verifies against its own `grams`
    CTE."""
    from logunifier_spark.operators.dedup import verified_neardup_pairs
    d = _load(spark, sf_dir, "documents").where(F.length("text") >= 20)
    return verified_neardup_pairs(d, "text", "doc_id",
                                  est_threshold=0.35,
                                  exact_threshold=0.5, max_bucket=500)


def q_dedup_components(spark, sf_dir):
    """Exact transitive near-dup clustering: connected components of the
    minhash pair graph via iterative min-label propagation (narrow join +
    aggregate per iteration, lineage cut per step). Oracle: an INDEPENDENT
    algorithm — recursive-CTE transitive closure in DuckDB."""
    from logunifier_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    d = _load(spark, sf_dir, "documents").where(F.length("text") >= 20)
    pairs = minhash_lsh_pairs(d, "text", "doc_id", max_bucket=500)
    return connected_components(pairs).select("node", "component")


def q_simhash_pairs(spark, sf_dir):
    # portable 60-bit simhash — value-hash-verified (duck_oracles.py)
    from logunifier_spark.operators.dedup import simhash_pairs
    d = _load(spark, sf_dir, "documents").where(F.length("text") >= 20)
    return simhash_pairs(d, "text", "doc_id", max_hamming=3)


def q_ann_bruteforce(spark, sf_dir):
    from logunifier_spark.operators.similarity import brute_force_topk
    emb = _load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("qid"), "embedding"))
    top = brute_force_topk(emb, q, k=5)
    return top.select("qid", "vec_id", "rank")


def q_ann_lsh(spark, sf_dir):
    # deterministic hyperplane constants — value-hash-verified against the
    # same constants embedded as SQL literals (duck_oracles.py)
    from logunifier_spark.operators.similarity import lsh_topk
    emb = _load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("qid"), "embedding"))
    return lsh_topk(emb, q, dim=64, k=5, n_bits=10).select("qid", "vec_id", "rank")


def q_ann_recall(spark, sf_dir):
    """Index-quality evaluation (operators/similarity.py::ann_recall):
    recall@k of the hyperplane-LSH index against exact brute-force
    ground truth over a 25-query sample — the measure-don't-guess
    number every ANN deployment needs before trusting the fast path.
    Both top-k frames are |queries|*k rows, so everything after the
    scans is broadcast-sized."""
    from logunifier_spark.operators.similarity import ann_recall
    emb = _load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 25)
            .select(F.col("vec_id").alias("qid"), "embedding"))
    return ann_recall(emb, q, dim=64, k=10, n_bits=10)


def q_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (operators/projection.py::
    rp_project): deterministic Achlioptas ±1 sketch of each embedding,
    16 components in long format — the standard shrink-before-index
    step at billion-vector scale. Row-local numpy Arrow kernel, zero
    shuffles; exact fixed-point per-term floors make the sums
    order-free and engine-portable."""
    from logunifier_spark.operators.projection import rp_project
    emb = _load(spark, sf_dir, "embeddings")
    return rp_project(emb, dim=64, r=16)


def q_vocab_zipf(spark, sf_dir):
    """Corpus Zipf rank-frequency table (operators/textstats.py::
    vocab_zipf): rank, frequency, exact-integer zipf constant
    (rank*freq) and cumulative coverage ppm for the top vocabulary —
    the corpus-health curve that spots boilerplate floods and dedup
    failures. Only corpus-sized shuffle is the map-side-combined token
    count; ranking runs over the vocabulary (types, Heaps-bounded)."""
    from logunifier_spark.operators.textstats import vocab_zipf
    d = _load(spark, sf_dir, "documents")
    return vocab_zipf(d, top_k=4096)


def q_source_overlap(spark, sf_dir):
    """Pairwise source-overlap matrix (operators/dedup.py::
    source_overlap): Jaccard (ppm, exact integers) of each source
    pair's distinct 8-token-window fingerprint sets — the mixture-
    design signal for weighting sources into a training blend. One
    fingerprint-keyed self-join over per-source DISTINCT sets;
    `max_sources` caps near-universal boilerplate grams at web scale
    (unused here: 20 sources)."""
    from logunifier_spark.operators.dedup import source_overlap
    d = _load(spark, sf_dir, "documents")
    return source_overlap(d, gram_len=8)


def q_token_counts(spark, sf_dir):
    from logunifier_spark.operators.textstats import bpe_ish_token_count, token_count
    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id",
                    token_count(F.col("text")).alias("n_tokens"),
                    bpe_ish_token_count(F.col("text")).alias("n_subtokens"))


def q_language_histogram(spark, sf_dir):
    from logunifier_spark.operators.textstats import language_id
    d = _load(spark, sf_dir, "documents")
    return (d.select(language_id(F.col("text")).alias("lang"))
             .groupBy("lang").agg(F.count("*").alias("n")))


def q_fingerprint_dupes(spark, sf_dir):
    """Winnowing-style fingerprint duplicate groups via the corpus-scan
    shape (textstats.fingerprint_frame): explode-positions + codegen md5
    projection + map-side-combined min — ~25x faster than the transform()
    lambda Column form, which runs interpreted per gram."""
    from logunifier_spark.operators.textstats import fingerprint_frame
    d = _load(spark, sf_dir, "documents")
    return (fingerprint_frame(d).groupBy("fp")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1))


def q_multiline_reassembly(spark, sf_dir):
    """M1: partial-message reassembly (journald CONTAINER_PARTIAL_*
    semantics, reference journald.go:110-133). Parts synthesized from
    events: groups of 4 consecutive event_ids, ~20% of rows whole;
    groups whose last part is missing are dropped."""
    from logunifier_spark.operators.multiline import reassemble_partials
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    is_whole = F.pmod(eid, F.lit(10)) >= 8
    svc = F.concat(F.lit("svc"), F.pmod(eid, F.lit(7)))
    df = e.select(
        F.when(is_whole, F.concat(F.lit("whole "), eid))
         .otherwise(F.concat(F.lit("seg"), eid, F.lit(";"))).alias("message"),
        F.when(~is_whole,
               F.concat(F.lit("p"), F.floor(eid / F.lit(4)).cast("long")))
         .alias("partial_id"),
        F.when(~is_whole, (F.pmod(eid, F.lit(4)) + 1).cast("int"))
         .alias("partial_ordinal"),
        F.when(~is_whole, F.pmod(eid, F.lit(4)) == 3).alias("partial_last"),
        svc.alias("svc"),
    )
    return reassemble_partials(df).select("message", "svc")


def q_docker_parse(spark, sf_dir):
    """S9: vector-docker ingress (the reference's dormant converter,
    dockerlogs/docker.go:1-116) — task-name/container-name pattern-key
    precedence, the keycloak/nexus/connect-proxy-*/*postgres dispatch
    rules, parse-with-defaults ts/level, container identity + indexed
    nomad labels, ingress/used_pattern entry labels, corrupt-JSON
    tolerance."""
    from logunifier_spark.sources.dockerlogs import docker_to_ecs
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    m = F.pmod(eid, F.lit(6))
    iso = F.date_format(F.col("ts").cast("timestamp"),
                        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    task = (F.when(m == 0, F.lit("keycloak"))
             .when(m == 1, F.lit(""))
             .when(m == 2, F.lit("connect-proxy-web"))
             .when(m == 3, F.lit("apppostgres"))
             .otherwise(F.lit("mysvc")))
    cname = F.when(m == 1, F.lit("nexus")).otherwise(
        F.concat(F.lit("cnt"), F.pmod(eid, F.lit(5))))
    msg = F.when(m == 0, F.concat(
        F.lit("2023-03-20 14:27:28,296 WARNING evt "), eid)).otherwise(
        F.concat(F.lit("evt "), eid))
    raw = F.when(m == 5, F.lit("{corrupt")).otherwise(F.concat(
        F.lit('{"container_created_at":"'), iso,
        F.lit('","container_id":"c'), F.pmod(eid, F.lit(7)),
        F.lit('","container_name":"'), cname,
        F.lit('","host":"h'), F.pmod(eid, F.lit(13)),
        F.lit('","image":"img:'), F.pmod(eid, F.lit(3)),
        F.lit('","label":{"com.hashicorp.nomad.job_name":"job'),
        F.pmod(eid, F.lit(4)),
        F.lit('","com.hashicorp.nomad.task_group_name":"tg'),
        F.pmod(eid, F.lit(3)),
        F.lit('","com.hashicorp.nomad.task_name":"'), task,
        F.lit('","com.hashicorp.nomad.namespace":"ns"},"message":"'), msg,
        F.lit('","source_type":"docker","stream":"stdout","timestamp":"'),
        iso, F.lit('"}')))
    d = docker_to_ecs(e.select(eid, raw.alias("raw")), keep=("event_id",))
    return d.select(
        "event_id", "id",
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts_str"),
        "message", "log_level", "container_name", "container_image",
        "host_name",
        F.element_at("labels", "used_pattern").alias("used_pattern"),
        F.element_at("container_labels", "task").alias("task_label"),
        F.element_at("container_labels", "stack_name").alias("stack_label"),
        "tags",
        F.col("process_error_reason").alias("perr"),
    )


def q_journald_parse(spark, sf_dir):
    """P1/P12-P14/P9: journald JSON envelope — priority→level map, facility→
    job-type map, nomad/container/systemd service-name precedence, ANSI
    strip gate, corrupt-JSON tolerance (journald.go:152-275,297-428)."""
    from logunifier_spark.sources.journald import journald_envelope
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    m = F.pmod(eid, F.lit(6))
    i5 = F.pmod(eid, F.lit(5))
    us = F.unix_micros(F.col("ts").cast("timestamp")).cast("string")
    raw = (
        F.when(m == 0, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"3","COM_HASHICORP_NOMAD_ALLOC_ID":"alloc1",'
                  '"COM_HASHICORP_NOMAD_TASK_NAME":"task'), i5,
            F.lit('","__REALTIME_TIMESTAMP":"'), us, F.lit('"}')))
         .when(m == 1, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"4","CONTAINER_NAME":"cnt'), i5,
            F.lit('","CONTAINER_TAG":"t1,t2"}')))
         .when(m == 2, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"6","SYSLOG_FACILITY":"3","_SYSTEMD_UNIT":"unit'),
            i5, F.lit('.service"}')))
         .when(m == 3, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"2","SYSLOG_FACILITY":"0",'
                  '"SYSLOG_IDENTIFIER":"krn"}')))
         .when(m == 4, F.concat(
            F.lit('{"message":"\\u001b[31mred\\u001b[0m msg '), eid,
            F.lit('","PRIORITY":"7","COM_GITHUB_LOGUNIFIER_APPLICATION_NAME":"app'),
            i5,
            F.lit('","COM_GITHUB_LOGUNIFIER_APPLICATION_PATTERN_KEY":"logfmt",'
                  '"COM_GITHUB_LOGUNIFIER_APPLICATION_STRIP_ANSI":"true"}')))
         .otherwise(F.concat(F.lit("not json "), eid))
    )
    env = journald_envelope(e.select(eid.alias("event_id"), raw.alias("raw")),
                            keep=("event_id",))
    return env.select(
        F.col("event_id").cast("int").alias("eid"),
        "text",
        F.col("log_pattern_key").alias("pattern_key"),
        "service_type",
        F.col("fallback_level").alias("level"),
        "service_name",
        F.coalesce(F.size("tags"), F.lit(-1)).alias("n_tags"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


def q_line_limit(spark, sf_dir):
    """O3: Loki max-entry-size guard — oversize messages truncated to the
    limit (client.go:308-319)."""
    from logunifier_spark.operators.route import enforce_line_limit
    u = _unified(spark, sf_dir)
    return (enforce_line_limit(u, max_line_size=12, truncate=True)
            .select("conv_id", "turn_idx", "message"))


def q_ship_label_folds(spark, sf_dir):
    """A5: tags→labels fold as shipped to Loki (tags_<i> keys, empty values
    skipped with their index preserved, lokishipper.go:127-139)."""
    from logunifier_spark.pipeline import ship_labels, unify
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    text = F.concat(
        F.lit('{"@timestamp":"2023-06-07T12:00:00Z","message":"evt '), eid,
        F.lit('","tags":["a","","b'), F.pmod(eid, F.lit(3)),
        F.lit('"],"labels":{"k":"v'), F.pmod(eid, F.lit(5)), F.lit('"}}'))
    t = e.select(
        F.concat(F.lit("c"), F.pmod(eid, F.lit(11))).alias("conv_id"),
        eid.cast("int").alias("turn_idx"),
        F.lit("agent").alias("role"),
        text.alias("text"), F.lit("ecs").alias("tool"), F.col("ts"))
    s = ship_labels(unify(t))
    return s.select(
        "turn_idx",
        F.concat_ws(",", F.sort_array(F.map_keys("ship_labels"))).alias("keys"),
        F.element_at("ship_labels", "tags_0").alias("t0"),
        F.element_at("ship_labels", "tags_2").alias("t2"),
        F.element_at("ship_labels", "k").alias("kv"),
    )


def q_ship_metadata(spark, sf_dir):
    """Per-entry structured metadata (traceID/spanID/user) as shipped to
    Loki next to the index labels (lokishipper.go:267-282), incl. the
    User != nil quirk: a present user object with an EMPTY name still
    ships `user` (extensions.go:126-128)."""
    from logunifier_spark.pipeline import ship_structured_metadata, unify
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    m = F.pmod(eid, F.lit(4))
    text = F.concat(
        F.lit('{"@timestamp":"2023-06-07T12:00:00Z","message":"evt '), eid,
        F.lit('"'),
        F.when(m == 0, F.concat(
            F.lit(',"trace":{"trace":{"id":"t'), eid,
            F.lit('"},"span":{"id":"s'), eid, F.lit('"}},"user":{"name":"u'),
            F.pmod(eid, F.lit(7)), F.lit('"}')))
         .when(m == 1, F.concat(F.lit(',"trace":{"trace":{"id":"t'), eid,
                                F.lit('"}}')))
         .when(m == 2, F.lit(',"user":{"name":""}'))
         .otherwise(F.lit("")),
        F.lit("}"))
    t = e.select(
        F.concat(F.lit("c"), F.pmod(eid, F.lit(11))).alias("conv_id"),
        eid.cast("int").alias("turn_idx"),
        F.lit("agent").alias("role"),
        text.alias("text"), F.lit("ecs").alias("tool"), F.col("ts"))
    s = ship_structured_metadata(unify(t))
    return s.select(
        "turn_idx",
        F.concat_ws(",", F.sort_array(F.map_keys("ship_metadata"))).alias("keys"),
        F.element_at("ship_metadata", "traceID").alias("tid"),
        F.element_at("ship_metadata", "spanID").alias("sid"),
        F.element_at("ship_metadata", "user").alias("usr"),
    )


def q_journald_unify(spark, sf_dir):
    """Full journald flow: raw JSON → envelope → reassembly → unify with
    the metadata-override contract (journald.go:93-275) — PRIORITY-derived
    fallback levels, service/host overrides, logfmt no-kv error, corrupt
    payloads."""
    from logunifier_spark.pipeline import unify_journald
    e = _load(spark, sf_dir, "events")
    eid = F.col("event_id")
    m = F.pmod(eid, F.lit(6))
    i5 = F.pmod(eid, F.lit(5))
    host = F.concat(F.lit('h'), F.pmod(eid, F.lit(13)))
    raw = (
        F.when(m == 0, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"3","COM_HASHICORP_NOMAD_ALLOC_ID":"a1",'
                  '"COM_HASHICORP_NOMAD_TASK_NAME":"task'), i5,
            F.lit('","host":"'), host, F.lit('"}')))
         .when(m == 1, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"4","CONTAINER_NAME":"cnt'), i5,
            F.lit('","host":"'), host, F.lit('"}')))
         .when(m == 2, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"6","SYSLOG_FACILITY":"3","_SYSTEMD_UNIT":"unit'),
            i5, F.lit('.service","host":"'), host, F.lit('"}')))
         .when(m == 3, F.concat(
            F.lit('{"message":"msg '), eid,
            F.lit('","PRIORITY":"2","SYSLOG_FACILITY":"0",'
                  '"SYSLOG_IDENTIFIER":"krn","host":"'), host, F.lit('"}')))
         .when(m == 4, F.concat(
            F.lit('{"message":"\\u001b[31mred\\u001b[0m msg '), eid,
            F.lit('","PRIORITY":"7","COM_GITHUB_LOGUNIFIER_APPLICATION_NAME":"app'),
            i5,
            F.lit('","COM_GITHUB_LOGUNIFIER_APPLICATION_PATTERN_KEY":"logfmt",'
                  '"COM_GITHUB_LOGUNIFIER_APPLICATION_STRIP_ANSI":"true",'
                  '"host":"'), host, F.lit('"}')))
         .otherwise(F.concat(F.lit("not json "), eid))
    )
    u = unify_journald(e.select(raw.alias("raw")))
    return u.select("message", "log_level", "service_name", "service_type",
                    "host_name",
                    F.coalesce("process_error_reason", F.lit("")).alias("perr"))


def q_quality_scores(spark, sf_dir):
    from logunifier_spark.operators.textstats import quality_score
    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (operators/similarity.py::
    embedding_neardup_pairs). ROUND 5: the default is now the BOUNDED
    composition — exact-vector collapse + 72-band 6-bit sign-hyperplane
    LSH candidates + exact cosine verify — retiring the engine's last
    intentional O(n²) default (the brute cross join survives behind
    exact=True as the correctness baseline). Precision is exact (same
    zip_with/aggregate double fold); the only approximation is candidate
    recall, bounded at >= 0.995 for a pair at exactly the 0.45 threshold
    and exponentially better above it. The ORACLE stays the plain
    all-pairs SQL: recall is empirically 100% on this corpus at every
    scale — verified pair-for-pair vs exact=True at sf0.01 (14/14),
    sf0.1 (144/144), by count at sf1.0 (104,400 = the r4 brute total),
    and by the r5 sampled soak oracle (2,040 anchor-touching pairs
    value-equal at sf1.0) — and the hyperplanes are deterministic, so
    the match is reproducible, not a coin flip. A size-adaptive gate
    (exact_max_reps=4096) runs the pairing exactly (brute among
    collapsed reps) while the distinct count allows: sf1.0 warm
    local[8] is 4.3 s adaptive vs 7.9 s banded vs 282 s for the r4
    uncollapsed brute — the banded path takes over only where
    approximation is actually needed."""
    from logunifier_spark.operators.similarity import embedding_neardup_pairs
    emb = _load(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(emb, dim=64, threshold=0.45)
    return pairs.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF keyword extraction (operators/tfidf.py): top-5 terms per
    document, idf = ln((N+1)/(df+1)). One token-stream shuffle + a
    vocab-keyed join + a doc-keyed window — see the module docstring for
    the cross-engine float discipline that makes ln() value-hashable."""
    from logunifier_spark.operators.tfidf import tfidf_top_terms
    d = _load(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=5)


def q_repeated_ngrams(spark, sf_dir):
    """Substring-level duplication signal (operators/dedup.py::
    repeated_ngram_stats, after Lee et al. 2022): per document, the
    fraction of its word n-grams occurring more than once corpus-wide —
    catches boilerplate stitched into otherwise-unique documents, which
    doc-level dedup misses. Gram stream is pure JVM (md5 over sliding
    word windows); one (doc, gram) shuffle feeds both the global total
    and the join back."""
    from logunifier_spark.operators.dedup import repeated_ngram_stats
    d = _load(spark, sf_dir, "documents")
    return repeated_ngram_stats(d, n=3)


def q_unigram_logppl(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/perplexity.py): mean
    negative log-prob under the corpus's own add-one unigram LM.
    Per-term contributions are fixed-point int64 (order-free sums — a
    double sum over tokens is partial-aggregation-order-dependent and
    not even run-stable), divided back out in two correctly-rounded
    double ops."""
    from logunifier_spark.operators.perplexity import unigram_logppl
    d = _load(spark, sf_dir, "documents")
    return unigram_logppl(d)


def q_cross_doc_grams(spark, sf_dir):
    """Cross-document exact-substring duplication (operators/dedup.py::
    cross_doc_grams, the cross-doc face of Lee et al. 2022): 8-token
    windows fingerprinted with the portable 48-bit md5-prefix hash;
    fingerprints in >= 2 distinct docs reported with doc/occurrence
    counts. One fingerprint-keyed aggregate — no pairwise work."""
    from logunifier_spark.operators.dedup import cross_doc_grams
    d = _load(spark, sf_dir, "documents")
    return cross_doc_grams(d, gram_len=8, min_docs=2)


def q_doc_duplication(spark, sf_dir):
    """Per-document boilerplate load (operators/dedup.py::
    doc_duplication_stats): fraction (ppm, integer DIV) of each doc's
    8-token windows shared verbatim with other docs — the actionable
    drop-documents-that-are-mostly-template filter signal."""
    from logunifier_spark.operators.dedup import doc_duplication_stats
    d = _load(spark, sf_dir, "documents")
    return doc_duplication_stats(d, gram_len=8, min_docs=2)


def q_dup_runs(spark, sf_dir):
    """Longest duplicated substring per document (operators/dedup.py::
    longest_dup_run, the Lee et al. 2022 dedup-analysis metric): the
    longest run of consecutive 8-token windows shared verbatim with
    >= 2 distinct docs certifies a duplicated substring of run+7
    tokens. Gaps-and-islands over the shared gram stream — one per-doc
    window function, never pairwise."""
    from logunifier_spark.operators.dedup import longest_dup_run
    d = _load(spark, sf_dir, "documents")
    return longest_dup_run(d, gram_len=8, min_docs=2)


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (operators/dedup.py::paragraph_dedup,
    the CCNet / RefinedWeb line-dedup rule): every normalized paragraph
    occurring >= 2 times anywhere in the corpus is dropped, documents
    are rebuilt from the survivors, and each doc reports its paragraph
    counts plus an md5 of the surviving text. The synthetic corpus has
    no newline structure, so the entry uses the operator's fixed
    10-token-window segmentation fallback (same dedup semantics; real
    web text passes sep='\\n{2,}'). Two map-side-combined shuffles —
    fingerprint count + per-doc rebuild — never pairwise."""
    from logunifier_spark.operators.dedup import paragraph_dedup
    d = _load(spark, sf_dir, "documents")
    return paragraph_dedup(d, para_tokens=10, min_dup=2)


def q_winnow_fps(spark, sf_dir):
    """Winnowing fingerprint selection (operators/dedup.py::
    winnow_fingerprints, Schleimer et al. 2003 / MOSS): the per-window
    local-minimum fingerprint set — guaranteed detection of any shared
    gram_len+window-1-token run at ~2/(window+1) density. One per-doc
    window function; oracle re-derives the selection with a native SQL
    window frame."""
    from logunifier_spark.operators.dedup import winnow_fingerprints
    d = _load(spark, sf_dir, "documents")
    return winnow_fingerprints(d, gram_len=5, window=4)


def q_assign_splits(spark, sf_dir):
    """Deterministic split assignment (operators/sampling.py::
    assign_splits): train/val/test decided per row by the portable
    affine hash — stable across runs, engines, partitionings, and
    corpus appends, which is what eval-contamination audits need. Pure
    codegen projection; oracle is the same CASE over the same hash."""
    from logunifier_spark.operators.sampling import assign_splits
    d = _load(spark, sf_dir, "documents")
    return assign_splits(d).select("doc_id", "split")


def q_bigram_logppl(spark, sf_dir):
    """Interpolated-bigram LM perplexity (operators/perplexity.py::
    bigram_logppl): Jelinek-Mercer mixture of add-one bigram and
    unigram models trained on the corpus itself — the step from the
    unigram CCNet filter toward a real LM filter. Per-row fixed-point
    floors keep the per-doc sum order-free; mixture doubles use the
    identical expression tree in both engines."""
    from logunifier_spark.operators.perplexity import bigram_logppl
    d = _load(spark, sf_dir, "documents")
    return bigram_logppl(d)


def q_source_drift(spark, sf_dir):
    """Per-source distribution-shift monitor (operators/dsir.py::
    source_drift): smoothed KL of each source's hashed-bigram bucket
    distribution from the whole corpus — the per-batch "did this feed
    change" alarm. Integer-defined fixed-point estimator, one broadcast
    of the ≤buckets-row corpus table; oracle re-derives the whole chain
    independently in SQL."""
    from logunifier_spark.operators.dsir import source_drift
    d = _load(spark, sf_dir, "documents")
    return source_drift(d)


def q_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document
    (operators/textstats.py::char_entropy) — the cheap C4-lineage
    spam/keyboard-mash filter signal. Fixed-point int64 contributions
    keep the per-doc sum order-free and engine-exact; the oracle
    re-derives the character stream with DuckDB's native indexing."""
    from logunifier_spark.operators.textstats import char_entropy
    d = _load(spark, sf_dir, "documents")
    return char_entropy(d)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weighting (operators/dsir.py, Xie et al. 2023):
    per-document log importance weight under add-one-smoothed
    hashed-word-bigram bucket models — target model fit on the English
    slice, source model on the whole corpus. Fixed-point int64 log
    ratios make the per-doc sum order-free; the bucket hash is the
    48-bit md5-prefix family (engine-portable). The oracle re-derives
    the whole chain independently in SQL."""
    from logunifier_spark.operators.dsir import dsir_logweights
    d = _load(spark, sf_dir, "documents")
    return dsir_logweights(d, d.where(F.col("lang") == "en"))


def q_dsir_select(spark, sf_dir):
    """DSIR selection (operators/dsir.py::dsir_topk): the 50 most
    target-like documents by log importance weight, ties by doc_id —
    TakeOrdered (per-partition heap + driver merge), rank window runs
    after .limit(k) so it is bounded at any corpus size."""
    from logunifier_spark.operators.dsir import dsir_topk
    d = _load(spark, sf_dir, "documents")
    return dsir_topk(d, d.where(F.col("lang") == "en"), k=50)


BM25_QUERIES = [("q_engine", "spark shuffle join data"),
                ("q_customer", "customer order query value"),
                ("q_window", "window agg filter scan")]


def q_bm25_search(spark, sf_dir):
    """BM25 retrieval (operators/bm25.py): top-10 documents per query
    under Okapi BM25 with the Lucene idf. The tiny query term set
    broadcasts against the one-pass (doc, term) tf frame, pruning every
    non-query term before any further shuffle; per-term scores are
    fixed-point int64 (order-free sums, exact portable rank ties). The
    oracle re-derives everything in SQL, tokenizing the queries
    independently in Python."""
    from logunifier_spark.operators.bm25 import bm25_topk
    d = _load(spark, sf_dir, "documents")
    return bm25_topk(d, BM25_QUERIES, top_k=10)


def q_semdedup_pairs(spark, sf_dir):
    """SemDeDup (operators/semdedup.py): integer-exact k-means partitions
    the embedding space, cosine near-dup pairs are found WITHIN clusters
    only — the paper's recipe for bounding the all-pairs compare at web
    scale. Oracle: the unrolled-Lloyd CTE generator + the same ordered
    double-precision cosine fold (duck_oracles.semdedup_pairs_sql).

    k is PINNED at 8 here so the oracle SQL is a fixed string across
    scale factors; the operator's own default is scale-aware
    (auto_k = max(8, ceil(n_distinct/4096))) and the r5 exact-clone
    collapse makes even the pinned-k soak bounded (sf1.0: 291 -> 12 s,
    identical 95,500 pairs; sampled soak oracle green)."""
    from logunifier_spark.operators.semdedup import semdedup_pairs
    e = _load(spark, sf_dir, "embeddings")
    return semdedup_pairs(e, k=8, iters=2, threshold=0.45)


def q_dedup_turns(spark, sf_dir):
    """M3: duplicate-window dedup — file-backed transcripts unioned with
    themselves collapse back to one row per (conv_id, turn_idx) through
    unify's own dedup (JetStream 5-min duplicate window, streamcfg.go:30)."""
    from logunifier_spark.pipeline import _dedup_turns
    t = _transcripts_from_events(spark, sf_dir)
    return (_dedup_turns(t.unionByName(t), ["conv_id", "turn_idx"])
            .groupBy("conv_id").agg(F.count("*").alias("n_turns")))


def q_ann_ivf(spark, sf_dir):
    # IVF coarse quantization, portable centroid selection — value-hash-
    # verified (duck_oracles.py)
    from logunifier_spark.operators.similarity import ivf_topk
    emb = _load(spark, sf_dir, "embeddings")
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("qid"), "embedding"))
    return ivf_topk(emb, q, k=5).select("qid", "vec_id", "rank")


def q_sample_deterministic(spark, sf_dir):
    """Deterministic hash-gate sampling: keep-set is a pure function of the
    row id — stable across runs, partitionings, cluster sizes (unlike
    df.sample, which is seed-stable only for a fixed partitioning)."""
    from logunifier_spark.operators.sampling import sample_deterministic
    d = _load(spark, sf_dir, "documents")
    return sample_deterministic(d, rate=0.25).select("doc_id", "source")


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch training-order permutation
    (operators/sampling.py): global contiguous pos in (hash, id) order,
    computed via hash-range shards + driver prefix offsets — no global
    sort partition. n_shards only sets sort parallelism (output is
    invariant to it); pinned here for a stable plan, not a stable result.
    Oracle: ONE global window — an independent algorithm for the same
    permutation."""
    from logunifier_spark.operators.sampling import epoch_shuffle
    d = _load(spark, sf_dir, "documents")
    return epoch_shuffle(d, epoch=1, n_shards=8)


def q_mixture_sample(spark, sf_dir):
    """Per-source pretraining-mixture reweighting: each source downsampled
    to its own rate by the portable hash gate."""
    from logunifier_spark.operators.sampling import mixture_sample
    d = _load(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.1}
    return (mixture_sample(d, rates, default_rate=0.2)
            .select("doc_id", "source"))


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: documents laid end-to-end in
    deterministic (shard, id) order, cut into 256-token context windows;
    sharded cumulative sums keep the window parallel at scale."""
    from logunifier_spark.operators.sampling import pack_sequences
    d = _load(spark, sf_dir, "documents")
    return pack_sequences(d, budget=256, n_shards=8)


def q_media_resize(spark, sf_dir):
    # stubbed codec (deterministic fake) through the mapInPandas resize
    # plumbing
    from logunifier_spark.operators.multimodal import resize_images, synth_media
    m = synth_media(spark, 64)
    r = resize_images(m, 8, 6)
    return r.select("media_id", F.col("meta.width").alias("w"),
                    F.col("meta.height").alias("h"),
                    F.length("payload").alias("payload_bytes"))


def q_media_frame_sample(spark, sf_dir):
    # deterministic synthetic media; frame-sampling plan
    from logunifier_spark.operators.multimodal import sample_frames, synth_media
    m = synth_media(spark, 64)
    return sample_frames(m, every_ms=1000).select(
        "media_id", "frame_no", "offset_ms")


def q_multimodal_features(spark, sf_dir):
    # synthetic media + deterministic fake decoder — value-hash-verified
    # against a sealed hashlib/struct re-implementation (duck_oracles.py);
    # f0 is the raw float32 first feature (no rounding: float32 widened to
    # double is exact on both sides)
    from logunifier_spark.operators.multimodal import extract_features, synth_media
    m = synth_media(spark, 64)
    return (extract_features(m, dim=8, fake=True)
            .select("media_id", "kind", "decode_ok",
                    F.element_at("feature", 1).alias("f0")))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline over sf0.001-derived transcripts; per-sink
    routed-row counts + error tallies."""
    _ship(spark)
    from logunifier_spark.operators.aggregate import error_counts
    u = _unified(spark, "/root/testdata/sf0.001")
    return error_counts(u).orderBy("sink")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every `q_<name>` function of this module under <name>, in definition
    order; each ships the package before it builds its plan."""
    def shipped(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship(spark)
            return fn(spark, sf_dir)
        return run
    return {name[2:]: shipped(fn) for name, fn in globals().items()
            if name.startswith("q_")}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _emoji_when_clauses() -> str:
    # emoji literals sourced from the canonical table (exact codepoints,
    # incl. variation selectors) rather than retyped
    from logunifier_spark.functions.levels import LEVEL_TO_EMOJI
    return " ".join(f"WHEN '{lvl}' THEN '{emo}'" for lvl, emo in LEVEL_TO_EMOJI.items())


_VAL_ERRS_NON_ECS = ("No organisation name set,\nNo Logger set,\n"
                     "Service type is empty,\nNo environment set,\n"
                     "No stack set,\nNo namespace set,\nNo host name set")
_VAL_ERRS_ECS = ("No organisation name set,\nService name is empty,\n"
                 "No Logger set,\nService type is empty,\nNo environment set,\n"
                 "No stack set,\nNo namespace set,\nNo host name set")


def oracle_sql() -> dict[str, str]:
    from logunifier_spark import duck_oracles as _do
    return {
        "pattern_histogram": f"""
            SELECT {_SQL_EXPECTED_PATTERN} AS pattern_key, count(*) AS hits
            FROM events GROUP BY 1
        """,
        "level_histogram": f"""
            SELECT {_SQL_EXPECTED_LEVEL} AS level, count(*) AS hits
            FROM events GROUP BY 1
        """,
        "sink_counts": f"""
            SELECT {_SQL_EXPECTED_SINK} AS sink, count(*) AS routed_rows
            FROM events GROUP BY 1
        """,
        "conversation_stats": f"""
            SELECT 'conv' || (event_id % 97) AS conv_id,
                   count(*) AS n_turns,
                   CAST(count(DISTINCT 'agent') AS BIGINT) AS n_roles,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%g') AS first_ts_str,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%g') AS last_ts_str,
                   -- length() = CHARACTER count, matching Spark F.length
                   -- (strlen would count bytes — ASCII-coincident only)
                   CAST(sum(length({_SQL_RAW_TEXT})) AS BIGINT) AS total_chars,
                   count(*) AS agent_turns
            FROM events GROUP BY 1
        """,
        "stitch_conversations": f"""
            SELECT 'conv' || (event_id % 97) AS conv_id,
                   count(*) AS n_turns,
                   string_agg({_SQL_RAW_TEXT}, chr(10)
                              ORDER BY CAST(event_id AS INT)) AS conversation
            FROM events GROUP BY 1
        """,
        # empty window frame: Spark array_join(collect_list)='' — coalesce
        # DuckDB's NULL string_agg to match
        "turn_context": f"""
            WITH t AS (
              SELECT 'conv' || (event_id % 97) AS conv_id,
                     CAST(event_id AS INT) AS turn_idx,
                     {_SQL_RAW_TEXT} AS text
              FROM events
            )
            SELECT conv_id, turn_idx,
                   coalesce(string_agg(text, chr(10)) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), '') AS context
            FROM t
        """,
        "response_pairs": """
            WITH t AS (
              SELECT 'conv' || (event_id % 97) AS conv_id,
                     CAST(event_id AS INT) AS turn_idx,
                     CASE WHEN event_id % 2 = 0 THEN 'user'
                          ELSE 'agent' END AS role,
                     'evt ' || event_id AS text
              FROM events
            ),
            l AS (
              SELECT conv_id, turn_idx, role, text,
                     lag(role) OVER w AS prev_role,
                     lag(text) OVER w AS prompt,
                     lag(turn_idx) OVER w AS prompt_turn_idx
              FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT conv_id, prompt_turn_idx, prompt,
                   turn_idx AS response_turn_idx, text AS response
            FROM l WHERE role = 'agent' AND prev_role = 'user'
        """,
        # salting only changes physical distribution — the plain join IS
        # the oracle ("login" absent from events; inner-join drops it)
        "salted_join": """
            SELECT event_id, event_type,
                   CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                                   WHEN 'purchase' THEN 3 ELSE 4 END AS weight
            FROM events
            WHERE event_type IN ('click', 'view', 'purchase', 'login')
        """,
        # S9 docker ingress: every output reconstructed from the generating
        # columns; id = sha256 of the byte-identical rebuilt raw JSON
        "docker_parse": """
            WITH t AS (
              SELECT event_id, (event_id % 6) AS m,
                     strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS iso,
                     CASE (event_id % 6)
                       WHEN 0 THEN 'keycloak' WHEN 1 THEN ''
                       WHEN 2 THEN 'connect-proxy-web'
                       WHEN 3 THEN 'apppostgres' ELSE 'mysvc' END AS task,
                     CASE WHEN (event_id % 6) = 1 THEN 'nexus'
                          ELSE 'cnt' || (event_id % 5) END AS cname,
                     CASE WHEN (event_id % 6) = 0
                          THEN '2023-03-20 14:27:28,296 WARNING evt ' || event_id
                          ELSE 'evt ' || event_id END AS msg,
                     ts
              FROM events
            ),
            r AS (
              SELECT *,
                CASE WHEN m = 5 THEN '{corrupt' ELSE
                  '{"container_created_at":"' || iso ||
                  '","container_id":"c' || (event_id % 7) ||
                  '","container_name":"' || cname ||
                  '","host":"h' || (event_id % 13) ||
                  '","image":"img:' || (event_id % 3) ||
                  '","label":{"com.hashicorp.nomad.job_name":"job' || (event_id % 4) ||
                  '","com.hashicorp.nomad.task_group_name":"tg' || (event_id % 3) ||
                  '","com.hashicorp.nomad.task_name":"' || task ||
                  '","com.hashicorp.nomad.namespace":"ns"},"message":"' || msg ||
                  '","source_type":"docker","stream":"stdout","timestamp":"' ||
                  iso || '"}'
                END AS raw
              FROM t
            )
            SELECT event_id, sha256(raw) AS id,
                   CASE WHEN m = 5 THEN NULL
                        WHEN m = 0 THEN '2023-03-20 14:27:28.296'
                        ELSE strftime(ts, '%Y-%m-%d %H:%M:%S.%g') END AS ts_str,
                   CASE WHEN m = 5 THEN '' ELSE msg END AS message,
                   CASE m WHEN 0 THEN 'warn' WHEN 5 THEN 'fatal'
                          ELSE 'unknown' END AS log_level,
                   CASE WHEN m = 5 THEN '' ELSE cname END AS container_name,
                   CASE WHEN m = 5 THEN ''
                        ELSE 'img:' || (event_id % 3) END AS container_image,
                   CASE WHEN m = 5 THEN ''
                        ELSE 'h' || (event_id % 13) END AS host_name,
                   CASE m WHEN 5 THEN NULL
                          WHEN 0 THEN 'KeyCloakPattern'
                          WHEN 1 THEN 'CommonUtcPatternWithCommaTsAndTz'
                          WHEN 2 THEN 'ConsulConnectPattern'
                          WHEN 3 THEN 'ConsulConnectPattern'
                          ELSE 'CommonPattern' END AS used_pattern,
                   CASE WHEN m = 5 THEN NULL
                        WHEN m = 1 THEN 'nexus' ELSE task END AS task_label,
                   CASE WHEN m = 5 THEN NULL
                        ELSE 'job' || (event_id % 4) END AS stack_label,
                   CASE WHEN m = 5 THEN NULL ELSE ['docker'] END AS tags,
                   CASE WHEN m = 5 THEN 'can''t unmarshal docker json'
                        END AS perr
            FROM r
        """,
        # strlen = BYTE length in DuckDB (messages are ASCII here, but the
        # operator uses octet_length for UTF-8 parity with Go's len());
        # CAST: DuckDB sum(BIGINT) is HUGEINT → float64 at the driver
        "sink_bytes": f"""
            SELECT {_SQL_EXPECTED_SINK} AS sink, count(*) AS routed_rows,
                   CAST(sum(strlen({_SQL_EXPECTED_MESSAGE})) AS BIGINT)
                     AS payload_bytes
            FROM events GROUP BY 1
        """,
        "routed_messages": f"""
            SELECT 'conv' || (event_id % 97) AS conv_id,
                   CAST(event_id AS INT) AS turn_idx,
                   {_SQL_EXPECTED_MESSAGE} AS message
            FROM events
        """,
        "parsed_timestamps": f"""
            SELECT CAST(event_id AS INT) AS turn_idx,
                   CASE (event_id % 8)
                     WHEN 0 THEN '2023-03-20 15:06:45.' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
                     WHEN 1 THEN '2023-03-20 14:27:28.296'
                     ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') || '.' ||
                          lpad(CAST((epoch_us(ts) % 1000000) // 1000 AS VARCHAR), 3, '0')
                   END AS ts_str
            FROM events WHERE (event_id % 8) IN (0, 1, 7)
        """,
        "emoji_histogram": f"""
            SELECT CASE {_SQL_EXPECTED_LEVEL}
                     {_emoji_when_clauses()}
                     ELSE '?' END AS emoji,
                   count(*) AS hits
            FROM events GROUP BY 1
        """,
        "logfmt_users": """
            SELECT 'u' || (user_id % 10) AS user_label, count(*) AS hits
            FROM events WHERE (event_id % 8) = 2 GROUP BY 1
        """,
        "process_errors": """
            SELECT 'TsLevelMsg' AS pattern_key,
                   'Can''t find timestamp' || chr(10) || 'Can''t find a message' AS reason,
                   count(*) AS hits
            FROM events WHERE (event_id % 8) = 7
        """,
        "validation_errors": f"""
            SELECT CASE WHEN (event_id % 8) = 6
                        THEN '{_VAL_ERRS_ECS}'
                        ELSE '{_VAL_ERRS_NON_ECS}' END AS verrs,
                   count(*) AS hits
            FROM events GROUP BY 1
        """,
        # stream_keys: canonical sorted {k="v"} strings are deterministic but
        # assembling them in SQL duplicates the whole label projection; the
        # per-stream entry counts reduce to the (pattern, level, validation)
        # triple for this corpus:
        "stream_keys": f"""
            SELECT '{{environment="NoEnv", error_stack="false", host="NoHost", ingress="ingress.logs.transcripts", level="'
                   || {_SQL_EXPECTED_LEVEL} || '", log_logger="Empty", org_name="'
                   || CASE WHEN {_SQL_EXPECTED_PATTERN} IN ('Envoy','Traefik','Clf') THEN 'mesh'
                           WHEN {_SQL_EXPECTED_PATTERN} = 'Unknown' THEN 'noorg' ELSE 'core' END
                   || '", pattern_key="' || {_SQL_EXPECTED_PATTERN}
                   || '", process_error="' || CASE WHEN (event_id % 8) = 7 THEN 'true' ELSE 'false' END
                   || '", service_name="' || CASE WHEN (event_id % 8) = 6 THEN 'Empty' ELSE 'agent' END
                   || '", service_namespace="NoNameSpace", service_stack="NoStack", service_type="'
                   || CASE {_SQL_EXPECTED_PATTERN}
                        WHEN 'Nop' THEN 'raw' WHEN 'LogFmt' THEN 'structured'
                        WHEN 'TsLevelMsg' THEN 'structured' WHEN 'Envoy' THEN 'proxy'
                        WHEN 'Traefik' THEN 'proxy' WHEN 'Ecs' THEN 'native' ELSE 'unclassified' END
                   || '", validation_error="true"}}' AS stream_key,
                   count(*) AS entries
            FROM events GROUP BY 1
        """,
        "tenant_counts": f"""
            SELECT CASE WHEN {_SQL_EXPECTED_PATTERN} IN ('Envoy','Traefik','Clf') THEN 'mesh'
                        WHEN {_SQL_EXPECTED_PATTERN} = 'Unknown' THEN 'noorg'
                        ELSE 'core' END AS tenant,
                   {_SQL_EXPECTED_SINK} AS sink,
                   count(*) AS routed_rows
            FROM events GROUP BY 1, 2
        """,
        "multiline_reassembly": """
            WITH base AS (
              SELECT event_id, 'svc' || (event_id % 7) AS svc FROM events
            ),
            whole AS (
              SELECT 'whole ' || event_id AS message, svc
              FROM base WHERE event_id % 10 >= 8
            ),
            parts AS (
              SELECT event_id // 4 AS grp, (event_id % 4) + 1 AS ord,
                     'seg' || event_id || ';' AS msg, svc,
                     (event_id % 4 = 3) AS lst
              FROM base WHERE event_id % 10 < 8
            ),
            asm AS (
              SELECT string_agg(msg, '' ORDER BY ord) AS message,
                     arg_max(svc, ord) AS svc
              FROM parts GROUP BY grp HAVING bool_or(lst)
            )
            SELECT message, svc FROM whole
            UNION ALL SELECT message, svc FROM asm
        """,
        "journald_parse": """
            SELECT CAST(event_id AS INT) AS eid,
                   CASE (event_id % 6)
                     WHEN 4 THEN 'red msg ' || event_id
                     WHEN 5 THEN ''
                     ELSE 'msg ' || event_id END AS text,
                   CASE WHEN (event_id % 6) = 4 THEN 'LogFmt' ELSE 'Nop' END
                     AS pattern_key,
                   CASE (event_id % 6)
                     WHEN 0 THEN 'nomad_job' WHEN 1 THEN 'container'
                     WHEN 2 THEN 'daemon' WHEN 3 THEN 'kernel'
                     ELSE '' END AS service_type,
                   CASE (event_id % 6)
                     WHEN 0 THEN 'not_set' WHEN 1 THEN 'warn'
                     WHEN 2 THEN 'info' WHEN 3 THEN 'fatal'
                     WHEN 4 THEN 'debug' ELSE 'unknown' END AS level,
                   CASE (event_id % 6)
                     WHEN 0 THEN 'task' || (event_id % 5)
                     WHEN 1 THEN 'cnt' || (event_id % 5)
                     WHEN 2 THEN 'unit' || (event_id % 5) || '.service'
                     WHEN 3 THEN 'krn'
                     WHEN 4 THEN 'app' || (event_id % 5)
                     ELSE '' END AS service_name,
                   CASE WHEN (event_id % 6) = 1 THEN 2 ELSE -1 END AS n_tags,
                   CASE WHEN (event_id % 6) = 0
                        THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                        ELSE NULL END AS ts_str
            FROM events
        """,
        "dedup_turns": """
            SELECT 'conv' || (event_id % 97) AS conv_id,
                   count(*) AS n_turns
            FROM events GROUP BY 1
        """,
        "line_limit": f"""
            WITH m AS (
              SELECT 'conv' || (event_id % 97) AS conv_id,
                     CAST(event_id AS INT) AS turn_idx,
                     {_SQL_EXPECTED_MESSAGE} AS msg
              FROM events)
            SELECT conv_id, turn_idx,
                   CASE WHEN length(msg) > 12 THEN substr(msg, 1, 12)
                        ELSE msg END AS message
            FROM m
        """,
        "ship_metadata": """
            SELECT CAST(event_id AS INT) AS turn_idx,
                   CASE (event_id % 4)
                     WHEN 0 THEN 'spanID,traceID,user'
                     WHEN 1 THEN 'traceID'
                     WHEN 2 THEN 'user'
                     ELSE '' END AS keys,
                   CASE WHEN (event_id % 4) IN (0, 1)
                        THEN 't' || event_id END AS tid,
                   CASE WHEN (event_id % 4) = 0
                        THEN 's' || event_id END AS sid,
                   CASE (event_id % 4)
                     WHEN 0 THEN 'u' || (event_id % 7)
                     WHEN 2 THEN '' END AS usr
            FROM events
        """,
        "ship_label_folds": """
            SELECT CAST(event_id AS INT) AS turn_idx,
                   'k,tags_0,tags_2' AS keys,
                   'a' AS t0,
                   'b' || (event_id % 3) AS t2,
                   'v' || (event_id % 5) AS kv
            FROM events
        """,
        "journald_unify": """
            SELECT CASE (event_id % 6)
                     WHEN 4 THEN 'red msg ' || event_id
                     WHEN 5 THEN ''
                     ELSE 'msg ' || event_id END AS message,
                   CASE (event_id % 6)
                     WHEN 0 THEN 'not_set' WHEN 1 THEN 'warn'
                     WHEN 2 THEN 'info' WHEN 3 THEN 'fatal'
                     WHEN 4 THEN 'debug' ELSE 'unknown' END AS log_level,
                   CASE (event_id % 6)
                     WHEN 0 THEN 'task' || (event_id % 5)
                     WHEN 1 THEN 'cnt' || (event_id % 5)
                     WHEN 2 THEN 'unit' || (event_id % 5) || '.service'
                     WHEN 3 THEN 'krn'
                     WHEN 4 THEN 'app' || (event_id % 5)
                     ELSE 'Empty' END AS service_name,
                   CASE (event_id % 6)
                     WHEN 0 THEN 'nomad_job' WHEN 1 THEN 'container'
                     WHEN 2 THEN 'daemon' WHEN 3 THEN 'kernel'
                     ELSE 'Empty' END AS service_type,
                   CASE WHEN (event_id % 6) = 5 THEN 'NoHost'
                        ELSE 'h' || (event_id % 13) END AS host_name,
                   CASE (event_id % 6)
                     WHEN 4 THEN 'could not extract key value pairs'
                     WHEN 5 THEN 'can''t unmarshal journald json'
                     ELSE '' END AS perr
            FROM events
        """,
        "quality_scores": r"""
            WITH q AS (
              SELECT doc_id, coalesce(text, '') AS t,
                     string_split_regex(lower(coalesce(text, '')), '[ \t\r\n\f\x0B]+') AS words
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                length(t) AS n_chars,
                len(words) AS n_words,
                length(regexp_replace(t, '[^\p{L}]', '', 'g')) AS alpha,
                length(regexp_replace(t, '[^.,;:!?]', '', 'g')) AS punct,
                len(list_filter(words, x -> list_contains(
                  ['the','and','of','to','is','in','that','it','was','for'], x)))
                  AS stop_hits
              FROM q
            )
            SELECT doc_id,
                   round(least(n_chars / 500.0, 1.0) * 0.25
                         + (alpha / (n_chars + 1e-9)) * 0.35
                         + greatest(0.0, 1.0 - punct / (n_words + 1.0)) * 0.2
                         + least(stop_hits / (n_words * 0.1 + 1e-9), 1.0) * 0.2,
                         6) AS quality
            FROM f
        """,
        "embedding_neardup": _do.embedding_neardup_sql(threshold=0.45),
        "stable_order": f"""
            SELECT 'conv' || (event_id % 97) AS conv_id,
                   CAST(event_id AS INT) AS turn_idx,
                   CAST(row_number() OVER (PARTITION BY (event_id % 97)
                                           ORDER BY event_id) AS INT) AS turn_rank,
                   {_SQL_EXPECTED_MESSAGE} AS message
            FROM events
        """,
        # relational
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customer_revenue": """
            SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY round(sum(o_totalprice), 2) DESC, c_custkey ASC LIMIT 10
        """,
        "region_revenue": """
            SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "first_event_per_user": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "event_type_stats": """
            SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        # DuckDB's native ASOF JOIN — an independent implementation of the
        # as-of semantics (ours is union + keyed window scan)
        "asof_clicks": """
            SELECT l.user_id, l.event_id, r.event_id AS click_id,
                   CAST(floor((epoch_us(l.ts) - epoch_us(r.ts)) / 1000000.0)
                        AS BIGINT) AS gap_s
            FROM (SELECT * FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "kmv_users": _do.kmv_users_sql(k=64),
        "user_pagerank": _do.user_pagerank_sql(iters=3),
        # bucket = floor((x-lo)/(hi-lo)*bins), clamped on the wide int
        # BEFORE narrowing — the exact expression tree of group_histogram
        "nation_trade": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                       * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) AS volume_q
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name <> n2.n_name
            GROUP BY supp_nation, cust_nation
        """,
        "value_histogram": """
            SELECT event_type,
                   CAST(least(9, greatest(0, CAST(floor(
                        (CAST(value AS DOUBLE) - CAST(0.0 AS DOUBLE))
                        / CAST(20.0 AS DOUBLE) * CAST(10.0 AS DOUBLE))
                      AS BIGINT))) AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, bucket
        """,
        "event_rollup": """
            WITH b AS (
              SELECT event_type, CAST(month(ts) AS VARCHAR) AS month,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events)
            SELECT coalesce(event_type, '(all)') AS event_type,
                   coalesce(month, '(all)') AS month,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM b GROUP BY ROLLUP (event_type, month)
        """,
        "interval_events": """
            WITH inc AS (
              SELECT event_id AS incident_id, epoch_us(ts) AS s,
                     epoch_us(ts) + 1800000000 AS e
              FROM events WHERE event_id % 97 = 0)
            SELECT incident_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   min(event_id) AS min_event,
                   max(event_id) AS max_event
            FROM inc JOIN events ON epoch_us(ts) BETWEEN s AND e
            GROUP BY incident_id
        """,
        # windowed sums are HUGEINT in DuckDB -> CAST (driver hasher
        # fetches HUGEINT as float64; the round-2 pack_sequences lesson)
        "user_sessions": """
            WITH lagd AS (
              SELECT user_id, ts,
                     epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) AS gap
              FROM events),
            sess AS (
              SELECT user_id, ts,
                     CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
              FROM lagd)
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(floor((max(epoch_us(ts)) - min(epoch_us(ts)))
                              / 1000000.0) AS BIGINT) AS duration_s
            FROM sess GROUP BY user_id, session_id
        """,
        # the whole curation funnel in one oracle: dedup keep-set,
        # language CASE + quality expr (same formulas as the
        # language_histogram / quality_scores oracles), portable hash gate
        "curate_corpus": r"""
            WITH keep AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
            d AS (
              SELECT doc_id, source, text FROM documents
              WHERE doc_id IN (SELECT doc_id FROM keep)),
            w AS (
              SELECT doc_id, source, text,
                     string_split_regex(lower(text), '[^\p{L}]+') AS words,
                     string_split_regex(lower(coalesce(text, '')),
                                        '[ \t\r\n\f\x0B]+') AS qwords
              FROM d),
            scores AS (
              SELECT *,
                len(list_filter(words, x -> list_contains(['the','and','of','to','is','in','that','it','was','for'], x))) AS en,
                len(list_filter(words, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','zu'], x))) AS de,
                len(list_filter(words, x -> list_contains(['le','la','les','et','est','pas','une','des','dans','que'], x))) AS fr,
                len(list_filter(words, x -> list_contains(['el','la','los','y','es','no','una','del','con','para'], x))) AS es
              FROM w),
            langd AS (
              SELECT *,
                CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
                     WHEN es = greatest(en, de, fr, es) THEN 'es'
                     WHEN fr = greatest(en, de, fr, es) THEN 'fr'
                     WHEN en = greatest(en, de, fr, es) THEN 'en'
                     ELSE 'de' END AS lang_id
              FROM scores),
            qual AS (
              SELECT doc_id, source, lang_id,
                round(least(length(coalesce(text, '')) / 500.0, 1.0) * 0.25
                      + (length(regexp_replace(coalesce(text, ''), '[^\p{L}]', '', 'g'))
                         / (length(coalesce(text, '')) + 1e-9)) * 0.35
                      + greatest(0.0, 1.0 - length(regexp_replace(coalesce(text, ''), '[^.,;:!?]', '', 'g'))
                                 / (len(qwords) + 1.0)) * 0.2
                      + least(len(list_filter(qwords, x -> list_contains(['the','and','of','to','is','in','that','it','was','for'], x)))
                              / (len(qwords) * 0.1 + 1e-9), 1.0) * 0.2,
                      6) AS quality
              FROM langd)
            SELECT doc_id, source, lang_id, quality FROM qual
            WHERE lang_id = 'en' AND quality >= 0.5
              AND ((doc_id % 2147483648) * 2654435761) % 2147483648
                  < 1073741824
        """,
        # decontamination: canonical word stream (lower -> collapse ASCII
        # ws -> trim -> split), 4-gram identity, distinct-gram hit counts
        "decontam_hits": r"""
            WITH norm AS (
              SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')),
                     '[ \t\r\n\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            w AS (
              SELECT doc_id, string_split(norm, ' ') AS words FROM norm),
            g AS (
              SELECT doc_id,
                     unnest([array_to_string(words[i:i+3], ' ')
                             for i in range(1, len(words) - 2)]) AS gram
              FROM w WHERE len(words) >= 4),
            bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
            SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
            FROM g JOIN bench USING (gram)
            WHERE g.doc_id % 97 <> 0
            GROUP BY g.doc_id
        """,
        # chunking: start offsets 0,24,48,... with window count
        # 1 + ceil(max(nw-32,0)/24); floor() on both engines (Spark casts
        # truncate, DuckDB casts round)
        "chunk_windows": r"""
            WITH norm AS (
              SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')),
                     '[ \t\r\n\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            w AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN []::VARCHAR[]
                          ELSE string_split(norm, ' ') END AS words
              FROM norm),
            c AS (
              SELECT doc_id, len(words) AS nw,
                     [array_to_string(words[(i*24)+1:(i*24)+32], ' ')
                      for i in range(0, CAST(floor((greatest(len(words) - 32, 0)
                                                    + 23) / 24.0) AS BIGINT) + 1)
                     ] AS chunks
              FROM w),
            e AS (
              SELECT doc_id, nw, unnest(chunks) AS chunk_text,
                     generate_subscripts(chunks, 1) - 1 AS chunk_id
              FROM c)
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(greatest(least(32, nw - chunk_id * 24), 0) AS BIGINT)
                     AS n_tokens,
                   md5(chunk_text) AS chunk_md5
            FROM e
        """,
        # Gopher-style filters: distinct-ratio duplicate metrics, pass flag
        # computed on the UNROUNDED doubles (identical IEEE ops both sides)
        "gopher_stats": r"""
            WITH norm AS (
              SELECT doc_id, coalesce(text, '') AS t,
                     trim(regexp_replace(lower(coalesce(text, '')),
                          '[ \t\r\n\f\x0B]+', ' ', 'g')) AS norm
              FROM documents),
            w AS (
              SELECT doc_id, t, norm,
                     CASE WHEN norm = '' THEN []::VARCHAR[]
                          ELSE string_split(norm, ' ') END AS words
              FROM norm),
            feat AS (
              SELECT doc_id, len(words) AS nw,
                CASE WHEN len(words) > 0
                     THEN (length(norm) - len(words) + 1) / len(words)
                     ELSE 0.0 END AS mwl,
                CASE WHEN len(words) > 0
                     THEN len(list_filter(words, x -> regexp_matches(x, '\p{L}')))
                          / len(words)
                     ELSE 0.0 END AS awf,
                1 - len(list_distinct(string_split(t, chr(10))))
                    / len(string_split(t, chr(10))) AS dlf,
                CASE WHEN len(words) >= 2
                     THEN 1 - len(list_distinct([array_to_string(words[i:i+1], ' ')
                                                 for i in range(1, len(words))]))
                              / (len(words) - 1)
                     ELSE 0.0 END AS dgf
              FROM w)
            SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
              round(mwl, 6) AS mean_word_len,
              round(awf, 6) AS alpha_word_frac,
              round(dlf, 6) AS dup_line_frac,
              round(dgf, 6) AS dup_2gram_frac,
              (nw BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
               AND awf >= 0.8 AND dlf <= 0.3 AND dgf <= 0.2) AS gopher_pass
            FROM feat
        """,
        # fixed-point k-means: both Lloyd iterations unrolled in SQL.
        # Integer-exact everywhere the operator is (floor-quantize, int64
        # squared-L2, floor-div centroid update), so the iterative
        # algorithm value-hash matches. min([d, cid]) = the operator's
        # array_min(struct(dist, cluster)) lexicographic tie-break.
        "kmeans_clusters": r"""
            WITH q AS (
              SELECT vec_id,
                     [CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                      for x in embedding] AS qv
              FROM embeddings),
            c0 AS (
              SELECT row_number() OVER (
                       ORDER BY ((vec_id % 2147483648) * 2654435761)
                                % 2147483648, vec_id) - 1 AS cid,
                     qv AS cv
              FROM q
              ORDER BY ((vec_id % 2147483648) * 2654435761) % 2147483648,
                       vec_id
              LIMIT 8),
            s1 AS (
              SELECT vec_id, qv, cid,
                     CAST(list_sum([(qv[i]-cv[i])*(qv[i]-cv[i])
                                    for i in range(1, len(qv)+1)])
                          AS BIGINT) AS d
              FROM q CROSS JOIN c0),
            a1 AS (
              SELECT vec_id, qv, min([d, cid])[2] AS cluster
              FROM s1 GROUP BY vec_id, qv),
            u1 AS (
              SELECT cluster AS cid, pos,
                     CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
                       AS comp
              FROM (SELECT cluster, unnest(qv) AS v,
                           generate_subscripts(qv, 1) AS pos
                    FROM a1)
              GROUP BY cluster, pos),
            c1 AS (
              SELECT c0.cid, coalesce(n.cv, c0.cv) AS cv
              FROM c0 LEFT JOIN (SELECT cid, list(comp ORDER BY pos) AS cv
                                 FROM u1 GROUP BY cid) n USING (cid)),
            s2 AS (
              SELECT vec_id, qv, cid,
                     CAST(list_sum([(qv[i]-cv[i])*(qv[i]-cv[i])
                                    for i in range(1, len(qv)+1)])
                          AS BIGINT) AS d
              FROM q CROSS JOIN c1),
            a2 AS (
              SELECT vec_id, qv, min([d, cid])[2] AS cluster
              FROM s2 GROUP BY vec_id, qv),
            u2 AS (
              SELECT cluster AS cid, pos,
                     CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
                       AS comp
              FROM (SELECT cluster, unnest(qv) AS v,
                           generate_subscripts(qv, 1) AS pos
                    FROM a2)
              GROUP BY cluster, pos),
            c2 AS (
              SELECT c1.cid, coalesce(n.cv, c1.cv) AS cv
              FROM c1 LEFT JOIN (SELECT cid, list(comp ORDER BY pos) AS cv
                                 FROM u2 GROUP BY cid) n USING (cid)),
            s3 AS (
              SELECT vec_id, cid,
                     CAST(list_sum([(qv[i]-cv[i])*(qv[i]-cv[i])
                                    for i in range(1, len(qv)+1)])
                          AS BIGINT) AS d
              FROM q CROSS JOIN c2)
            SELECT vec_id, min([d, cid])[2] AS cluster,
                   min([d, cid])[1] AS dist
            FROM s3 GROUP BY vec_id
        """,
        # DuckDB's native quantile_disc — independent implementation of
        # the type-1 discrete quantile the operator computes by rank math
        # long-format dataset card; token counts via the same ws-token
        # rule as token_counts' oracle; quantile positions exact
        "corpus_report": """
            WITH toks AS (
              SELECT n_chars, lang, source,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text),
                                   '[ \t\r\n\f\x0B]+')) END AS t
              FROM documents)
            SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value
            FROM toks
            UNION ALL
            SELECT 'total_chars', CAST(sum(n_chars) AS BIGINT) FROM toks
            UNION ALL
            SELECT 'total_tokens', CAST(sum(t) AS BIGINT) FROM toks
            UNION ALL
            SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT)
            FROM toks
            UNION ALL
            SELECT 'n_sources', CAST(count(DISTINCT source) AS BIGINT)
            FROM toks
            UNION ALL
            SELECT 'docs_lang_' || lang, CAST(count(*) AS BIGINT)
            FROM toks GROUP BY lang
            UNION ALL
            SELECT 'p50_chars',
                   CAST(quantile_disc(n_chars, 0.50) AS BIGINT) FROM toks
            UNION ALL
            SELECT 'p95_chars',
                   CAST(quantile_disc(n_chars, 0.95) AS BIGINT) FROM toks
        """,
        "doc_length_quantiles": """
            SELECT source, CAST(count(n_chars) AS BIGINT) AS n,
                   CAST(quantile_disc(n_chars, 0.50) AS BIGINT) AS p50,
                   CAST(quantile_disc(n_chars, 0.95) AS BIGINT) AS p95
            FROM documents WHERE n_chars IS NOT NULL GROUP BY source
        """,
        # integer-exact burst detection: bucket = us - pmod(us, w) (pure
        # int64), criterion cross-multiplied; windowed sums CAST from
        # HUGEINT. DuckDB's % truncates (sign of the dividend) while
        # Spark's pmod floors, so the oracle spells out floor-mod
        # ((x%w+w)%w) to agree on pre-1970 (negative-epoch) timestamps
        "rate_spikes": """
            WITH counts AS (
              SELECT event_type,
                     epoch_us(ts)
                       - ((epoch_us(ts) % 3600000000 + 3600000000)
                          % 3600000000) AS bucket_us,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2),
            win AS (
              SELECT event_type, bucket_us, cnt,
                     CAST(coalesce(sum(cnt) OVER
                       (PARTITION BY event_type ORDER BY bucket_us
                        ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS trail_sum,
                     CAST(count(cnt) OVER
                       (PARTITION BY event_type ORDER BY bucket_us
                        ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
                       AS BIGINT) AS n_trail
              FROM counts)
            SELECT event_type, bucket_us, cnt, trail_sum, n_trail
            FROM win WHERE n_trail > 0 AND cnt * n_trail > 2 * trail_sum
        """,
        # funnel: same earliest-completion semantics as sequential CTEs;
        # strict > between steps; steps_completed INT to match Spark
        "event_funnel": """
            WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                       FROM events),
            s1 AS (SELECT user_id, min(us) AS t1_us FROM e
                   WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(us) AS t2_us FROM e
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'view' AND us > t1_us GROUP BY 1),
            s3 AS (SELECT e.user_id, min(us) AS t3_us FROM e
                   JOIN s2 USING (user_id)
                   WHERE event_type = 'purchase' AND us > t2_us
                   GROUP BY 1)
            SELECT s1.user_id AS user_id,
                   CAST(1 + (t2_us IS NOT NULL)::INT
                          + (t3_us IS NOT NULL)::INT AS INTEGER)
                     AS steps_completed,
                   t1_us, t2_us, t3_us
            FROM s1 LEFT JOIN s2 USING (user_id)
                    LEFT JOIN s3 USING (user_id)
        """,
        "funnel_summary": """
            WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                       FROM events),
            s1 AS (SELECT user_id, min(us) AS t1_us FROM e
                   WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(us) AS t2_us FROM e
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'view' AND us > t1_us GROUP BY 1),
            s3 AS (SELECT e.user_id, min(us) AS t3_us FROM e
                   JOIN s2 USING (user_id)
                   WHERE event_type = 'purchase' AND us > t2_us
                   GROUP BY 1)
            SELECT 1 AS step, 'signup' AS event_type,
                   count(*) AS users FROM s1
            UNION ALL
            SELECT 2, 'view', count(*) FROM s2
            UNION ALL
            SELECT 3, 'purchase', count(*) FROM s3
        """,
        "cohort_retention": """
            WITH b AS (
              SELECT user_id,
                     epoch_us(ts)
                       - ((epoch_us(ts) % 86400000000 + 86400000000)
                          % 86400000000) AS bucket
              FROM events),
            first AS (SELECT user_id, min(bucket) AS cohort_us
                      FROM b GROUP BY 1),
            active AS (SELECT DISTINCT user_id, bucket FROM b)
            SELECT cohort_us,
                   CAST((bucket - cohort_us) / 86400000000 AS INTEGER)
                     AS day_offset,
                   count(DISTINCT active.user_id) AS n_users
            FROM active JOIN first USING (user_id)
            GROUP BY 1, 2
        """,
        # RANGE frame on int64 day buckets; windowed sums are HUGEINT
        # in DuckDB -> CAST (the pack_sequences lesson)
        "rolling_rates": """
            WITH counts AS (
              SELECT event_type,
                     epoch_us(ts)
                       - ((epoch_us(ts) % 86400000000 + 86400000000)
                          % 86400000000) AS bucket_us,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2)
            SELECT event_type, bucket_us, cnt,
                   CAST(sum(cnt) OVER w AS BIGINT) AS trail_sum,
                   CAST(count(cnt) OVER w AS BIGINT) AS n_obs,
                   CAST((CAST(sum(cnt) OVER w AS BIGINT) * 1000)
                        // (count(cnt) OVER w) AS BIGINT) AS avg_milli
            FROM counts
            WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us
                         RANGE BETWEEN 518400000000 PRECEDING
                               AND CURRENT ROW)
        """,
        # id-ordered brute-force triangle enumeration (independent of
        # the operator's degree-oriented algorithm); same edge CTE as
        # the pagerank oracle
        "user_triangles": """
            WITH e AS (
              SELECT DISTINCT src, dst FROM (
                SELECT user_id AS src,
                       lead(user_id) OVER (PARTITION BY event_type
                                           ORDER BY event_id) AS dst
                FROM events)
              WHERE dst IS NOT NULL AND dst <> src),
            u AS (SELECT DISTINCT least(src, dst) AS a,
                                  greatest(src, dst) AS b FROM e),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM u e1
              JOIN u e2 ON e2.a = e1.b
              JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
            corners AS (SELECT unnest([x, y, z]) AS user_id FROM tri)
            SELECT user_id, count(*) AS triangles
            FROM corners GROUP BY 1
        """,
        "inverted_index": """
            WITH t AS (
              SELECT term, doc_id FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text),
                              '[ \t\r\n\f\x0B]+')) AS term
                FROM documents)
              WHERE regexp_matches(term, '^[a-z]{2,}$')
              GROUP BY term, doc_id),
            dfq AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
            r AS (SELECT term, doc_id,
                         row_number() OVER (PARTITION BY term
                                            ORDER BY doc_id) AS rn
                  FROM t),
            p AS (SELECT term,
                         string_agg(CAST(doc_id AS VARCHAR), ','
                                    ORDER BY doc_id) AS postings
                  FROM r WHERE rn <= 30 GROUP BY 1)
            SELECT term, df, postings, df > 30 AS truncated
            FROM dfq JOIN p USING (term)
        """,
        # DuckDB ordered list() aggregate vs Spark's in-group
        # array_sort of (ts, id, step) structs
        "session_paths": """
            WITH lagd AS (
              SELECT user_id, ts, event_id, event_type,
                     epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS gap
              FROM events),
            sess AS (
              SELECT user_id, ts, event_id, event_type,
                     CAST(sum(CASE WHEN gap > 3600000000 THEN 1
                              ELSE 0 END)
                          OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
              FROM lagd),
            p AS (
              SELECT user_id, session_id,
                     array_to_string(
                       (list(event_type
                             ORDER BY epoch_us(ts), event_id))[1:5],
                       '>') AS path
              FROM sess GROUP BY 1, 2),
            c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1),
            r AS (SELECT path, n_sessions,
                         row_number() OVER (ORDER BY n_sessions DESC,
                                            path ASC) AS rank
                  FROM c)
            SELECT path, n_sessions, CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 15
        """,
        # bit-identical E-S key: exact ints -> one division -> ln ->
        # one division; global window vs the operator's TakeOrdered top-k
        "weighted_sample": """
            WITH d AS (
              SELECT doc_id, source, n_chars,
                     ln((((doc_id % 2147483648) * 2654435761)
                         % 2147483648 + 1) / 2147483649.0)
                       / CAST(n_chars AS DOUBLE) AS k
              FROM documents
              WHERE n_chars IS NOT NULL
                AND CAST(n_chars AS DOUBLE) > 0),
            r AS (SELECT doc_id, source, n_chars,
                         row_number() OVER (ORDER BY k DESC,
                                            doc_id ASC) AS rn
                  FROM d)
            SELECT doc_id, source, n_chars FROM r WHERE rn <= 50
        """,
        # identical md5-slice hash rows; min over rows; CAST the
        # windowless sums/counts to BIGINT as usual
        "cms_user_counts": """
            WITH cells AS (
              SELECT user_id, i AS row,
                     CAST(CAST(concat('0x', substring(md5(
                            CAST(user_id AS VARCHAR)), 1 + 6 * i, 6))
                          AS BIGINT) % 64 AS INTEGER) AS bucket
              FROM events,
                   (SELECT unnest(generate_series(0, 3)) AS i)),
            sk AS (SELECT row, bucket, count(*) AS c
                   FROM cells GROUP BY 1, 2),
            probes AS (
              SELECT DISTINCT user_id, i AS row,
                     CAST(CAST(concat('0x', substring(md5(
                            CAST(user_id AS VARCHAR)), 1 + 6 * i, 6))
                          AS BIGINT) % 64 AS INTEGER) AS bucket
              FROM events,
                   (SELECT unnest(generate_series(0, 3)) AS i)),
            est AS (
              SELECT p.user_id,
                     CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS est
              FROM probes p LEFT JOIN sk USING (row, bucket)
              GROUP BY 1)
            SELECT est.user_id, est,
                   (SELECT CAST(count(*) AS BIGINT) FROM events e
                    WHERE e.user_id = est.user_id) AS true_n
            FROM est
        """,
        # brute-force global ranking vs the operator's two-pass
        # histogram; position = ceil(n*i/parts) in integer math
        "range_bounds": """
            WITH d AS (SELECT n_chars AS v FROM documents
                       WHERE n_chars IS NOT NULL),
            r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM d),
            t AS (SELECT count(*) AS n FROM d),
            g AS (SELECT unnest(generate_series(1, 6)) AS i)
            SELECT CAST(i AS INTEGER) AS bound_idx, v AS value
            FROM g JOIN t ON true
            JOIN r ON rn = (n * i + 6) // 7
        """,
        "conversation_qc": """
            WITH t AS (
              SELECT 'c' || (event_id % 97) AS conv_id,
                     CAST(event_id // 97 AS INTEGER) AS turn_idx,
                     CASE WHEN (event_id // 97) % 11 = 5 THEN 'user'
                          WHEN (event_id // 97) % 2 = 0 THEN 'user'
                          ELSE 'agent' END AS role,
                     CASE WHEN (event_id // 97) % 17 = 9 THEN ''
                          ELSE 't' || event_id END AS text
              FROM events
              WHERE CAST(event_id // 97 AS INTEGER) % 13 <> 6),
            l AS (
              SELECT conv_id, turn_idx, role, text,
                     lag(turn_idx) OVER
                       (PARTITION BY conv_id ORDER BY turn_idx) AS pidx,
                     lag(role) OVER
                       (PARTITION BY conv_id ORDER BY turn_idx) AS prole
              FROM t),
            a AS (
              SELECT conv_id, count(*) AS n_turns,
                     CAST(coalesce(sum(CASE WHEN turn_idx - pidx > 1
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_gaps,
                     CAST(coalesce(sum(CASE WHEN role = prole
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_role_repeats,
                     CAST(sum(CASE WHEN length(text) = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
                     min(turn_idx) AS first_idx,
                     CAST(coalesce(sum(CASE WHEN turn_idx = pidx
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS dup_turn_idx
              FROM l GROUP BY 1)
            SELECT conv_id, n_turns, n_gaps, n_role_repeats, n_empty,
                   first_idx, dup_turn_idx,
                   (n_gaps = 0 AND n_role_repeats = 0 AND n_empty = 0
                    AND first_idx = 0 AND dup_turn_idx = 0) AS clean
            FROM a
        """,
        # sqrt-share weights: sqrt/division are correctly-rounded IEEE
        # ops; the only order-sensitive piece (the sqrt-sum) is pinned
        # to source-ascending order on BOTH sides
        "mixture_weights": """
            WITH c AS (SELECT source, count(*) AS n
                       FROM documents GROUP BY 1),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
            s AS (SELECT source, n, sqrt(n / (SELECT total FROM t)) AS w
                  FROM c),
            a AS (SELECT list_reduce(list(w ORDER BY source ASC),
                                     (x, y) -> x + y) AS wsum,
                         max(1.0 / w) AS invmax
                  FROM s)
            SELECT source, CAST(n AS BIGINT) AS n,
                   CAST(floor(w / wsum * 1000000) AS BIGINT)
                     AS weight_ppm,
                   CAST(floor((1.0 / w) / invmax * 1000000) AS BIGINT)
                     AS rate_ppm
            FROM s, a
        """,
        "heavy_hitters": """
            WITH toks AS (
              SELECT lang,
                     unnest(string_split_regex(lower(text),
                                               '[ \t\r\n\f\x0B]+')) AS term
              FROM documents),
            c AS (SELECT lang, term, count(*) AS n FROM toks
                  WHERE regexp_matches(term, '^[a-z]{2,}$')
                  GROUP BY 1, 2),
            r AS (SELECT lang, term, n,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY n DESC, term ASC)
                           AS rank
                  FROM c)
            SELECT lang, term, n, CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 8
        """,
        # suffix chain via list slicing (independent of the Spark HOF);
        # arg_max(suf, length) = most specific entry, mirror of max_by
        "blocklist_hits": """
            WITH u AS (
              SELECT doc_id, CASE doc_id % 4
                WHEN 0 THEN 'https://www.bad' || (doc_id % 7) || '.com/a'
                WHEN 1 THEN 'https://ok' || (doc_id % 5) || '.org/b'
                WHEN 2 THEN 'https://x.sub.tracker.net/c?q=' || doc_id
                ELSE 'ftp://good.com/' || doc_id END AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
              FROM u),
            s AS (
              SELECT doc_id, url,
                     unnest(list_transform(
                       generate_series(1, len(string_split(host, '.'))),
                       i -> array_to_string(string_split(host, '.')[i:],
                                            '.'))) AS suf
              FROM h WHERE length(host) > 0)
            SELECT doc_id, url, arg_max(suf, length(suf)) AS matched_domain
            FROM s WHERE suf IN ('bad0.com', 'bad3.com', 'tracker.net')
            GROUP BY doc_id, url
        """,
        # oracle is BRUTE-FORCE all-pairs (no blocking): independent
        # strategy AND an independent edit-distance implementation
        "fuzzy_match": """
            WITH l AS (
              SELECT DISTINCT 'svc' || (user_id % 20)
                || CASE WHEN event_id % 3 = 0 THEN 'x' ELSE '' END AS name
              FROM events),
            r AS (SELECT DISTINCT 'svc' || (user_id % 20) AS name
                  FROM events)
            SELECT l.name AS l_name, r.name AS r_name,
                   CAST(levenshtein(l.name, r.name) AS INTEGER) AS dist
            FROM l, r WHERE levenshtein(l.name, r.name) <= 1
        """,
        "watermark_lag": """
            WITH w AS (
              SELECT event_type, epoch_us(ts) AS us,
                     max(epoch_us(ts)) OVER
                       (PARTITION BY event_type ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prevmax
              FROM events)
            SELECT event_type, count(*) AS n,
                   count(CASE WHEN prevmax > us THEN 1 END) AS n_late,
                   CAST(coalesce(max(CASE WHEN prevmax > us
                                     THEN prevmax - us END), 0) AS BIGINT)
                     AS max_lag_us,
                   CAST(coalesce(sum(CASE WHEN prevmax > us
                                     THEN prevmax - us END), 0) AS BIGINT)
                     AS sum_lag_us
            FROM w GROUP BY 1
        """,
        "zorder_layout": f"""
            WITH b AS (
              SELECT (user_id % 256) AS u,
                     ((epoch_us(ts) // 86400000000) % 256) AS d
              FROM events),
            z AS (SELECT u, d, ({_SQL_ZORDER}) AS zv FROM b)
            SELECT (zv >> 6) AS bucket, count(*) AS n,
                   min(u) AS min_u, max(u) AS max_u,
                   min(d) AS min_d, max(d) AS max_d
            FROM z GROUP BY 1
        """,
        # "rows" quoted (DuckDB reserved word); // = integer division
        "skew_report": """
            WITH k AS (
              SELECT CASE WHEN event_id % 2 = 0 THEN 'hot'
                     ELSE 'k' || (event_id % 1000) END AS key
              FROM events),
            c AS (SELECT key, count(*) AS "rows" FROM k GROUP BY 1),
            t AS (SELECT sum("rows") AS total FROM c),
            r AS (SELECT key, "rows",
                         row_number() OVER (ORDER BY "rows" DESC,
                                            key ASC) AS rank
                  FROM c)
            SELECT key, CAST("rows" AS BIGINT) AS "rows",
                   CAST(("rows" * 1000000) // total AS BIGINT)
                     AS share_ppm,
                   CAST(rank AS INTEGER) AS rank
            FROM r, t WHERE rank <= 10
        """,
        "corpus_diff": """
            WITH old AS (SELECT doc_id, text FROM documents),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 97 <> 0
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id % 13 = 0),
            o AS (SELECT doc_id,
                         md5(concat_ws(chr(31), CAST(text AS VARCHAR)))
                           AS old_hash FROM old),
            n AS (SELECT doc_id,
                         md5(concat_ws(chr(31), CAST(text AS VARCHAR)))
                           AS new_hash FROM new),
            j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                         old_hash, new_hash
                  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
            SELECT doc_id,
                   CASE WHEN old_hash IS NULL THEN 'added'
                        WHEN new_hash IS NULL THEN 'removed'
                        WHEN old_hash <> new_hash THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   old_hash, new_hash
            FROM j
            WHERE old_hash IS NULL OR new_hash IS NULL
               OR old_hash <> new_hash
        """,
        # two independent NFC implementations: CPython unicodedata
        # (operator) vs DuckDB utf8proc nfc_normalize (oracle)
        "normalize_text": """
            WITH raw AS (
              SELECT doc_id,
                     text || ' ' || CASE doc_id % 3
                       WHEN 0 THEN decode(unhex('65CC81'))
                       WHEN 1 THEN decode(unhex('C3A9'))
                       ELSE decode(unhex('41CC8A')) END AS raw
              FROM documents),
            n AS (
              SELECT doc_id, raw,
                     trim(regexp_replace(nfc_normalize(raw),
                                         '[ \t\r\n\f\x0B]+', ' ', 'g'))
                       AS norm
              FROM raw)
            SELECT doc_id, length(raw) AS len_raw,
                   length(norm) AS len_norm, md5(norm) AS h
            FROM n
        """,
        # the classifier re-run independently in SQL from the same
        # portable 48-bit md5 bucket hash; empty tokens dropped on both
        # sides (split keeps leading/trailing empties in both engines)
        "quality_classifier": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text),
                                               '[ \t\r\n\f\x0B]+')) AS tok
              FROM documents),
            w AS (
              SELECT doc_id,
                     ((((CAST(concat('0x', substring(md5(tok), 1, 12))
                              AS BIGINT) % 1024)
                        * 2654435761) % 2147483648) % 2001) - 1000 AS w
              FROM toks WHERE tok <> '')
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(w) + 100 AS BIGINT) AS margin_milli,
                   (sum(w) + 100) > 0 AS keep
            FROM w GROUP BY 1
        """,
        # portable-hash mirror of sampling._portable_hash (salt 0);
        # oracle = one global window vs the operator's window-filter top-k
        "stratified_sample": """
            WITH h AS (
              SELECT doc_id, lang, source, n_chars,
                     ((doc_id % 2147483648) * 2654435761) % 2147483648
                       AS hh
              FROM documents),
            r AS (
              SELECT doc_id, lang, source, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY hh, doc_id) AS rn
              FROM h)
            SELECT doc_id, lang, source, n_chars FROM r WHERE rn <= 20
        """,
        # window-desc form vs the operator's max_by hash aggregate
        "latest_events": """
            WITH r AS (
              SELECT user_id, event_type,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                     epoch_us(ts) AS us, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts) DESC,
                                                 event_id DESC) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n_rows
              FROM events)
            SELECT user_id, event_type AS last_type, cents AS last_cents,
                   us AS last_us, CAST(n_rows AS BIGINT) AS n_rows
            FROM r WHERE rn = 1
        """,
        # masking rules re-typed as SQL literals (plain character classes
        # — Java regex and RE2 agree); 'g' = global replace in DuckDB
        "log_templates": f"""
            WITH t AS (
              SELECT regexp_replace(
                       regexp_replace({_SQL_RAW_TEXT},
                                      '[0-9a-fA-F]{{8,}}', '<HEX>', 'g'),
                       '[0-9]+', '<N>', 'g') AS template,
                     {_SQL_RAW_TEXT} AS raw
              FROM events)
            SELECT substring(md5(template), 1, 16) AS template_id,
                   template, count(*) AS hits, min(raw) AS example
            FROM t GROUP BY template
        """,
        # independent JSON parsers: Spark from_json (Jackson) vs DuckDB
        # json_extract; sum CAST to BIGINT (HUGEINT-float lesson)
        "tool_call_stats": """
            WITH raw AS (
              SELECT CASE event_id % 4
                WHEN 0 THEN '{"fn":"search","args":{"q":"evt '
                            || event_id || '","top_k":' || (event_id % 20)
                            || '},"ms":' || (event_id % 500) || '}'
                WHEN 1 THEN '{"fn":"fetch","args":{"url":"http://ex/'
                            || event_id || '"},"ms":'
                            || (event_id % 300) || '}'
                WHEN 2 THEN '{"fn":"exec","args":{}}'
                ELSE '{"fn":"exec","ms":' END AS j
              FROM events),
            p AS (
              SELECT
                CASE WHEN json_valid(j)
                     THEN json_extract_string(j, '$.fn') END AS fn,
                CASE WHEN json_valid(j)
                     THEN CAST(json_extract(j, '$.ms') AS BIGINT) END AS ms,
                CASE WHEN json_valid(j)
                     THEN CAST(json_extract(j, '$.args.top_k') AS INTEGER)
                     END AS top_k,
                CASE WHEN json_valid(j)
                     THEN json_extract_string(j, '$.args.q') END AS q
              FROM raw)
            SELECT coalesce(fn, '_unparsed') AS fn, count(*) AS n_calls,
                   CAST(sum(ms) AS BIGINT) AS sum_ms,
                   max(top_k) AS max_top_k, count(q) AS n_with_query
            FROM p GROUP BY 1
        """,
        # patterns re-typed as SQL literals (NOT imported from redact.py):
        # RE2 'g' flag for global replace; counts on the pre-replace text
        # each rule saw, matching the operator's sequential chain
        "redact_pii": r"""
            WITH raw AS (
              SELECT event_id,
                     'user u' || user_id || '@example.com via 10.'
                     || (user_id % 256) || '.0.' || (event_id % 256)
                     || CASE WHEN event_id % 3 = 0
                             THEN ' tel +1415555'
                                  || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
                             ELSE '' END
                     || ' card 4111111111'
                     || lpad(CAST(event_id % 1000000 AS VARCHAR), 6, '0')
                     || ' evt ' || event_id AS text
              FROM events),
            s1 AS (SELECT event_id,
                     regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text,
                     CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email
                   FROM raw),
            s2 AS (SELECT event_id,
                     regexp_replace(text, '\+[0-9]{7,15}\b', '<PHONE>', 'g') AS text, n_email,
                     CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}\b')) AS BIGINT) AS n_phone
                   FROM s1),
            s3 AS (SELECT event_id,
                     regexp_replace(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS text,
                     n_email, n_phone,
                     CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4
                   FROM s2),
            s4 AS (SELECT event_id,
                     regexp_replace(text, '\b[0-9]{13,19}\b', '<LONGNUM>', 'g') AS text,
                     n_email, n_phone, n_ipv4,
                     CAST(len(regexp_extract_all(text, '\b[0-9]{13,19}\b')) AS BIGINT) AS n_longnum
                   FROM s3)
            SELECT event_id, text, n_email, n_phone, n_ipv4, n_longnum FROM s4
        """,
        # training-data ops
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "ngram_jaccard": _do.ngram_jaccard_sql(min_len=20, shingle_n=3, max_df=100, threshold=0.8),
        "ann_bruteforce": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid, e.vec_id,
                     list_sum(list_transform(list_zip(e.embedding, q.qv),
                                             x -> CAST(x[1] AS DOUBLE) * x[2]))
                     / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)))
                        * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * x)))
                        + 1e-12) AS score
              FROM embeddings e CROSS JOIN q
            )
            SELECT qid, vec_id, rank FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(string_split_regex(trim(text), '[ \t\r\n\f\x0B]+')) END AS n_tokens,
                   length(regexp_extract_all(text, '(\p{L}+|\p{N}+|[^ \t\r\n\f\x0B\p{L}\p{N}]+)')) AS n_subtokens
            FROM documents
        """,
        "language_histogram": r"""
            WITH w AS (
              SELECT doc_id, string_split_regex(lower(text), '[^\p{L}]+') AS words
              FROM documents
            ),
            scores AS (
              SELECT doc_id,
                len(list_filter(words, x -> list_contains(['the','and','of','to','is','in','that','it','was','for'], x))) AS en,
                len(list_filter(words, x -> list_contains(['der','die','und','das','ist','nicht','ein','mit','auf','zu'], x))) AS de,
                len(list_filter(words, x -> list_contains(['le','la','les','et','est','pas','une','des','dans','que'], x))) AS fr,
                len(list_filter(words, x -> list_contains(['el','la','los','y','es','no','una','del','con','para'], x))) AS es
              FROM w
            ),
            best AS (
              SELECT doc_id,
                CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
                     -- tie-break mirrors Spark array_max on (hits, lang):
                     -- max hits, then lexicographically greatest lang
                     WHEN es = greatest(en, de, fr, es) THEN 'es'
                     WHEN fr = greatest(en, de, fr, es) THEN 'fr'
                     WHEN en = greatest(en, de, fr, es) THEN 'en'
                     ELSE 'de' END AS lang
              FROM scores
            )
            SELECT lang, count(*) AS n FROM best GROUP BY lang
        """,
        # portable hash-family operators: independent DuckDB SQL
        # re-implementations (logunifier_spark/duck_oracles.py) — same spec,
        # different engine, value-hash-compared by the driver
        "minhash_dedup": _do.minhash_dedup_sql(max_bucket=500),
        "dedup_components": _do.minhash_components_sql(max_bucket=500),
        "simhash_pairs": _do.simhash_pairs_sql(),
        "fingerprint_dupes": _do.fingerprint_dupes_sql(),
        "ann_lsh": _do.ann_lsh_sql(dim=64, k=5, n_bits=10),
        "ann_recall": _do.ann_recall_sql(dim=64, k=10, n_bits=10,
                                         n_queries=25),
        "rp_project": _do.rp_project_sql(dim=64, r=16, scale_bits=20),
        "vocab_zipf": _do.vocab_zipf_sql(top_k=4096),
        "source_overlap": _do.source_overlap_sql(gram_len=8),
        "ann_ivf": _do.ann_ivf_sql(k=5, n_centroids=16, nprobe=4),
        "semdedup_pairs": _do.semdedup_pairs_sql(k=8, iters=2,
                                                 threshold=0.45),
        "pq_encode": _do.pq_encode_sql(m=8, k=16, iters=1, dim=64),
        "ann_ivfpq": _do.ivfpq_topk_sql(m=8, k_codes=16, n_cells=8,
                                        nprobe=2, topk=5, iters=1,
                                        dim=64, n_queries=5),
        "bpe_train": _do.bpe_train_sql(iters=6),
        "verified_neardups": _do.verified_pairs_sql(
            min_len=20, est_threshold=0.35, exact_threshold=0.5,
            max_bucket=500),
        "user_communities": _do.label_propagation_sql(iters=3),
        "bpe_token_counts": _do.bpe_apply_sql(iters=6),
        # exact-int products cast to double, one division + one ln —
        # mirrored term for term (the tfidf float discipline)
        "pmi_collocations": """
            WITH arr AS (
              SELECT list_filter(
                       string_split_regex(lower(text),
                                          '[ \t\r\n\f\x0B]+'),
                       x -> regexp_matches(x, '^[a-z]{2,}$')) AS a
              FROM documents),
            base AS (SELECT a FROM arr WHERE len(a) >= 1),
            uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
                    FROM (SELECT unnest(a) AS t FROM base) GROUP BY 1),
            nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
            pairs AS (
              SELECT a[i] AS l, a[i + 1] AS r FROM (
                SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
                FROM base WHERE len(a) >= 2)),
            pc AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c_ab
                   FROM pairs GROUP BY 1, 2 HAVING count(*) >= 3),
            s AS (
              SELECT pc.l, pc.r, c_ab,
                     round(ln((CAST(c_ab AS DOUBLE)
                               * CAST((SELECT n FROM nn) AS DOUBLE))
                              / (CAST(ca.c AS DOUBLE)
                                 * CAST(cb.c AS DOUBLE))), 6) AS pmi
              FROM pc JOIN uni ca ON ca.t = pc.l
                      JOIN uni cb ON cb.t = pc.r)
            SELECT l, r, c_ab, pmi FROM s
            ORDER BY pmi DESC, l, r LIMIT 20
        """,
        "tfidf_top_terms": _do.tfidf_top_terms_sql(k=5),
        "unigram_logppl": _do.unigram_logppl_sql(),
        "dsir_weights": _do.dsir_weights_sql(),
        "dsir_select": _do.dsir_topk_sql(50),
        "char_entropy": _do.char_entropy_sql(),
        "source_drift": _do.source_drift_sql(),
        "bigram_logppl": _do.bigram_logppl_sql(),
        "assign_splits": _do.assign_splits_sql(),
        "winnow_fps": _do.winnow_sql(gram_len=5, window=4),
        "paragraph_dedup": _do.paragraph_dedup_sql(para_tokens=10,
                                                   min_dup=2),
        "dup_runs": _do.longest_dup_run_sql(gram_len=8, min_docs=2),
        "cross_doc_grams": _do.cross_doc_grams_sql(),
        "doc_duplication": _do.doc_duplication_sql(),
        "bm25_search": _do.bm25_sql(BM25_QUERIES, top_k=10),
        "repeated_ngrams": _do.repeated_ngrams_sql(n=3),
        # portable hash = ((id % 2^31) * MULT) % 2^31 — id reduced BEFORE
        # the multiply, mirroring sampling._portable_hash's overflow guard
        "sample_deterministic": f"""
            SELECT doc_id, source FROM documents
            WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648
                  < {int(0.25 * 2**31)}
        """,
        # the oracle ranks with ONE global window — an independent
        # algorithm for the permutation the operator assembles from
        # hash-range shards + prefix offsets. epoch offset = the same
        # salt mix as sample_gate: (epoch * 0x9E3779B1) mod 2^31
        "epoch_shuffle": f"""
            SELECT doc_id,
                   CAST(row_number() OVER (
                     ORDER BY ((doc_id % 2147483648) * 2654435761
                               + {(1 * 0x9E3779B1) % 2**31}) % 2147483648,
                              doc_id) - 1 AS BIGINT) AS pos
            FROM documents
        """,
        "mixture_sample": """
            SELECT doc_id, source FROM documents
            WHERE ((doc_id % 2147483648) * 2654435761) % 2147483648 <
                  floor(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                                    WHEN 'src2' THEN 0.1 ELSE 0.2 END
                        * 2147483648.0)
        """,
        "pack_sequences": r"""
            WITH t AS (
              SELECT doc_id,
                     ((doc_id % 2147483648) * 2654435761) % 2147483648 % 8
                       AS shard,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '[ \t\r\n\f\x0B]+'))
                          END AS BIGINT) AS tokens
              FROM documents
            ),
            c AS (
              -- DuckDB types a windowed sum() as HUGEINT; the driver's
              -- hasher fetches HUGEINT as float64 while Spark emits BIGINT,
              -- so the value hash diverges unless we pin the type here.
              SELECT doc_id, shard, tokens,
                     CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING)
                          AS BIGINT) AS cum
              FROM t
            )
            SELECT doc_id, shard, tokens,
                   cum - tokens AS start_offset,
                   (cum - tokens) // 256 AS first_pack,
                   (cum - 1 + CASE WHEN tokens = 0 THEN 1 ELSE 0 END) // 256
                     AS last_pack
            FROM c
        """,
        "media_frame_sample": _do.media_frame_sample_sql(n=64, every_ms=1000),
        "media_resize": _do.media_resize_sql(n=64, width=8, height=6),
        "multimodal_features": _do.multimodal_features_sql(n=64, dim=8),
    }
