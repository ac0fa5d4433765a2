"""Temporal operators: as-of join and gap sessionization.

The reference correlates log entries by time everywhere it matters —
multi-part reassembly stitches fragments to their lead line by
CONTAINER_ID + ordinal (internal/streams/ingress/journald.go, the
multiline buffer), and the dedup window keys entries to the most recent
prior occurrence inside a 5-minute horizon
(internal/bootstrap/streamcfg.go:30). Both are "match this row to the
nearest earlier row of another stream" problems. This module provides the
two general-purpose forms a transcript/telemetry corpus needs at scale:

- `asof_join` — for each left row, the single right row with the same key
  and the greatest timestamp <= the left row's (direction="backward";
  "forward" = smallest timestamp >=). Spark has no native as-of join;
  the classic distributed formulation used here is union → single hash
  shuffle on the key → one window sort → last(payload, ignorenulls).
  Cost is ONE exchange + ONE sort over |L|+|R| rows — no join explosion,
  no per-key Python (contrast pandas merge_asof inside applyInPandas,
  which ships both tables through Arrow and buffers each key group in
  Python memory). Skew caveat: a hot KEY is one window partition, same
  bound as any keyed window; if one key dominates, pre-split it by a
  coarse time bucket and stitch the bucket boundaries.

- `interval_join` — match point events to the intervals containing them
  without the O(|E|·|I|) blowup Spark plans for a raw inequality join
  (BroadcastNestedLoopJoin — every event row tested against every
  interval). Both sides are quantized to fixed time buckets (events to
  one bucket, intervals exploded to the buckets they overlap), the join
  becomes an equi-join on (keys…, bucket) that hash-partitions and AQE
  can size/skew-split, and the exact containment predicate filters the
  bucket-local candidates. Cost is O(|E| + |I|·span/bucket + matches).

- `sessionize` / `session_stats` — gap-based session assignment
  (a new session starts when the inter-event gap exceeds `gap_s`), the
  standard event-stream segmentation. One hash shuffle on the key, one
  sort; the lag and the running sum share the same window spec so
  Catalyst plans a single exchange+sort with two Window nodes on top.
  `session_stats` then partial-aggregates per (key, session), so the
  post-window reduction is map-side combinable.

Both operators are deterministic under retries: ordering keys are
(ts, tiebreak) with caller-supplied total tiebreaks, never rand() or
monotonically_increasing_id().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from logunifier_spark.operators.stats import grouped_top_k

_SIDE = "_asof_side"
_PAYLOAD = "_asof_payload"


def _ts_micros(df: DataFrame, ts: str) -> Column:
    """Timestamp column as int64 micros (timestamps via unix_micros,
    numerics passed through) — one comparable axis for gap/tolerance math."""
    dt = df.schema[ts].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(ts).cast("timestamp"))
    return F.col(ts).cast("long")


def asof_join(left: DataFrame, right: DataFrame, on: list[str] | str,
              ts: str = "ts", direction: str = "backward",
              tolerance_us: int | None = None,
              tiebreak: str | None = None,
              matched_ts: str = "matched_ts") -> DataFrame:
    """Left as-of join: every left row, plus the payload columns of the
    single best right row with equal `on` keys and `ts` on the `direction`
    side (inclusive). Unmatched (or out-of-`tolerance_us`) left rows keep
    nulls in the right columns — left rows are never dropped or duplicated.

    direction="backward": best = greatest right ts <= left ts (ties on
    right ts broken toward the LARGEST `tiebreak`);
    direction="forward": best = smallest right ts >= left ts (ties toward
    the SMALLEST `tiebreak`). If (key, ts) is not unique on the right,
    pass `tiebreak` (any totally-ordering right column) for a
    deterministic result.

    Physical plan: tag both inputs, unionByName, hash-partition by `on`,
    ONE window sort by (ts, side[, tiebreak]), last(payload, ignorenulls)
    over rows unbounded-preceding — then keep the left rows. The right
    side sorts rights BEFORE lefts at equal ts, which is what makes the
    join inclusive.

    Null semantics: right rows with a null ts are dropped (they order
    before everything and would otherwise match every left row); left
    rows with a null ts are kept but never match; null join keys group
    with each other (window partitioning), unlike an SQL equi-join —
    filter them upstream if join semantics are required.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns
                    if c not in keys and c != ts and c != tiebreak]
    collide = (set(payload_cols) | {matched_ts}) & set(left.columns)
    if collide:
        raise ValueError(f"right payload collides with left columns: {sorted(collide)}")

    r = right.where(F.col(ts).isNotNull()).select(
        *keys, ts,
        *([tiebreak] if tiebreak else []),
        F.lit(0).alias(_SIDE),
        F.struct(F.col(ts).alias("_rts"),
                 *[F.col(c) for c in payload_cols]).alias(_PAYLOAD),
    )
    payload_type = r.schema[_PAYLOAD].dataType.simpleString()
    l = left.select(
        "*", F.lit(1).alias(_SIDE),
        F.lit(None).cast(payload_type).alias(_PAYLOAD),
        *([F.lit(None).cast(right.schema[tiebreak].dataType).alias(tiebreak)]
          if tiebreak and tiebreak not in left.columns else []),
    )
    u = l.unionByName(r, allowMissingColumns=True)

    # backward scans time ascending; forward scans descending (so "last
    # preceding in scan order" = "first following in time"). Rights sort
    # before lefts at equal ts either way -> inclusive bounds.
    if direction == "backward":
        order = [F.col(ts).asc(), F.col(_SIDE).asc()] + \
            ([F.col(tiebreak).asc_nulls_first()] if tiebreak else [])
    else:
        order = [F.col(ts).desc(), F.col(_SIDE).asc()] + \
            ([F.col(tiebreak).desc_nulls_first()] if tiebreak else [])
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (u.withColumn("_m", F.last(_PAYLOAD, ignorenulls=True).over(w))
                .where(F.col(_SIDE) == 1))

    # a null left ts is unmatchable in EITHER direction: backward sorts it
    # before all rights (no running payload yet) but forward's ts.desc()
    # sorts it after them, where it would pick up the running last() —
    # gate explicitly rather than rely on sort-order luck
    valid = F.col("_m").isNotNull() & F.col(ts).isNotNull()
    if tolerance_us is not None:
        lt = _ts_micros(matched, ts)
        rt = F.unix_micros(F.col("_m._rts").cast("timestamp")) \
            if isinstance(right.schema[ts].dataType,
                          (TimestampType, TimestampNTZType)) \
            else F.col("_m._rts").cast("long")
        delta = (lt - rt) if direction == "backward" else (rt - lt)
        valid = valid & (delta <= F.lit(int(tolerance_us)))

    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.when(valid, F.col("_m._rts")).alias(matched_ts))
    out_cols += [F.when(valid, F.col(f"_m.{c}")).alias(c) for c in payload_cols]
    return matched.select(*out_cols)


def interval_join(events: DataFrame, intervals: DataFrame,
                  ts: str = "ts", start: str = "start", end: str = "end",
                  on: list[str] | str | None = None,
                  bucket_s: float = 300.0) -> DataFrame:
    """Inner-join point events to the intervals that contain them
    (inclusive bounds: start <= ts <= end), returning every event column
    plus every interval column. `on` optionally adds equi-keys that must
    also match (present in both frames, not renamed).

    Spark plans a raw `e.ts BETWEEN i.start AND i.end` join as
    BroadcastNestedLoopJoin — O(|E|·|I|) comparisons, single-threaded per
    broadcast batch, a non-starter once the interval side outgrows a few
    thousand rows. This operator quantizes time into `bucket_s`-wide
    buckets: each event lands in one bucket, each interval is exploded to
    the buckets it overlaps (sequence + explode, pure JVM), and the join
    is an equi-join on (keys…, bucket) — hash-partitioned, AQE-sizable,
    skew-splittable — followed by the exact containment filter. An event's
    single bucket meets each overlapping interval exactly once, so no
    dedup pass is needed.

    Pick `bucket_s` near the typical interval length: cost is
    O(|E| + |I|·(span/bucket + 2) + matches). A bucket much smaller than
    the spans multiplies the interval side; much larger packs unrelated
    rows into each bucket and shifts work to the post-join filter. Rows
    with a null ts/start/end, and intervals with end < start, are
    dropped (inner-join semantics).

    Timestamps may be timestamp/timestamp_ntz or already-numeric (treated
    as int64 micros); the two frames' other column names must be disjoint.
    """
    keys = [on] if isinstance(on, str) else list(on or [])
    overlap = (set(events.columns) & set(intervals.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"event/interval columns collide (rename or pass as `on`): "
            f"{sorted(overlap)}")
    bucket_us = int(bucket_s * 1_000_000)
    if bucket_us <= 0:
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")

    e_us = _ts_micros(events, ts)
    ev = (events.withColumn("_ivj_us", e_us)
                .where(F.col("_ivj_us").isNotNull())
                .withColumn("_ivj_b", F.floor(F.col("_ivj_us")
                                              / F.lit(bucket_us))))
    s_us = _ts_micros(intervals, start)
    t_us = _ts_micros(intervals, end)
    iv = (intervals.withColumn("_ivj_s", s_us).withColumn("_ivj_e", t_us)
                   .where(F.col("_ivj_s").isNotNull()
                          & F.col("_ivj_e").isNotNull()
                          & (F.col("_ivj_s") <= F.col("_ivj_e")))
                   .withColumn(
                       "_ivj_b",
                       F.explode(F.sequence(
                           F.floor(F.col("_ivj_s") / F.lit(bucket_us)),
                           F.floor(F.col("_ivj_e") / F.lit(bucket_us))))))
    joined = (ev.join(iv, keys + ["_ivj_b"])
                .where((F.col("_ivj_us") >= F.col("_ivj_s"))
                       & (F.col("_ivj_us") <= F.col("_ivj_e"))))
    out = [F.col(c) for c in events.columns] + \
          [F.col(c) for c in intervals.columns if c not in keys]
    return joined.select(*out)


def sessionize(df: DataFrame, key: list[str] | str, ts: str = "ts",
               gap_s: float = 1800.0, tiebreak: str | None = None,
               session_col: str = "session_id") -> DataFrame:
    """Assign a per-key session index (0-based, dense, in time order): a
    new session starts when the gap since the key's previous event
    exceeds `gap_s` seconds. Adds `session_col` (bigint); row set and
    all other columns pass through unchanged.

    Equivalent to Spark's streaming session_window() segmentation, but
    batch-exact and with a stable per-key index usable as a join/group
    key. Pass `tiebreak` when (key, ts) is not unique so the running sum
    is deterministic.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w_row = Window.partitionBy(*keys).orderBy(*order)
    w_cum = w_row.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = _ts_micros(df, ts)
    gap_us = int(gap_s * 1_000_000)
    # first event of a key: lag is null -> coalesce to 0 (not a new-session
    # increment; sessions are 0-based)
    new_sess = F.coalesce(
        (t - F.lag(t).over(w_row) > F.lit(gap_us)).cast("long"), F.lit(0))
    return df.withColumn(session_col, F.sum(new_sess).over(w_cum))


def session_stats(df: DataFrame, key: list[str] | str, ts: str = "ts",
                  gap_s: float = 1800.0,
                  tiebreak: str | None = None) -> DataFrame:
    """Per-(key, session) roll-up over `sessionize`: event count, first/last
    timestamp, duration in seconds (bigint, floor). The aggregate is
    hash/partial-aggregable, so after the one sessionize sort the
    reduction combines map-side."""
    keys = [key] if isinstance(key, str) else list(key)
    s = sessionize(df, keys, ts=ts, gap_s=gap_s, tiebreak=tiebreak)
    t = _ts_micros(s, ts)
    return (s.groupBy(*keys, "session_id")
             .agg(F.count("*").alias("n_events"),
                  F.min(ts).alias("session_start"),
                  F.max(ts).alias("session_end"),
                  # floor(), not cast: Spark double->long truncates but
                  # DuckDB rounds, so floor is the only portable floor
                  F.floor((F.max(t) - F.min(t)) / F.lit(1_000_000))
                  .cast("long").alias("duration_s")))


def session_paths(df: DataFrame, key: list[str] | str,
                  step_col: str = "event_type", ts: str = "ts",
                  gap_s: float = 1800.0, tiebreak: str | None = None,
                  k: int = 20, max_len: int = 8) -> DataFrame:
    """Top-k user journeys: the most frequent per-session step
    sequences, (path STRING '>'-joined, n_sessions BIGINT, rank INT).
    Paths are TRUNCATED at `max_len` steps (real sessions have long
    tails; the journey-analysis convention keeps the head) — a
    truncated path aggregates with every longer session sharing its
    prefix head.

    Shape: sessionize (one keyed window sort), then ONE hash aggregate
    per (key, session) assembling the ordered step array — collect_list
    order is partition-arbitrary, so steps collect as (ts, tiebreak,
    step) structs and sort INSIDE the group after collection
    (conversation.stitch_conversations' trick; per-session arrays are
    small) — then one count aggregate on the path string and a global
    top-k (TakeOrdered). Pass `tiebreak` (e.g. an event id) whenever
    (key, ts) can repeat, or the path order is nondeterministic."""
    keys = [key] if isinstance(key, str) else list(key)
    s = sessionize(df, keys, ts=ts, gap_s=gap_s, tiebreak=tiebreak)
    t = _ts_micros(s, ts)
    tb = F.col(tiebreak) if tiebreak else F.lit(0)
    collected = F.array_sort(F.collect_list(
        F.struct(t.alias("t"), tb.alias("b"),
                 F.col(step_col).alias("s"))))
    paths = (s.groupBy(*keys, "session_id")
              .agg(F.array_join(
                  F.slice(F.transform(collected, lambda e: e["s"]),
                          1, max_len), ">").alias("path")))
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    return grouped_top_k(counts, [], "n_sessions", k=k, tiebreak=["path"])
