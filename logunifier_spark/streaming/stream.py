"""Streaming unification: readStream → parse/normalize → route → writeStream.

Maps the reference's streaming semantics (SURVEY.md §2.9) onto Structured
Streaming:

  - at-least-once + dedup window  → withWatermark + dropDuplicates on
    (conv_id, turn_idx) (JetStream 5-min duplicate window,
    streamcfg.go:30)
  - late data ("entry too far behind" → terminate + log the lost entry,
    lokishipper.go:183-188) → rows older than the watermark are dropped
    by the stateful dedup operator before the sink, and COUNTED: Spark
    records every such drop in the per-batch progress as
    stateOperators[].numRowsDroppedByWatermark, which
    `dead_letter_count(query)` folds into the lost-entry total (surfaced
    by checkpoint.health_check under "streams"). Same observable
    semantics as the reference — the entry is not shipped and the loss is
    accounted — without a second pass over the data.
  - checkpoint/resume (durable consumers, streamcfg.go:42-47)
    → checkpointLocation
  - backpressure (MaxAckPending 32768) → maxFilesPerTrigger /
    maxOffsetsPerTrigger

The per-microbatch body reuses the BATCH pipeline verbatim via
foreachBatch — one code path for both modes, which is exactly what the
DataFrame abstraction buys over the reference's hand-rolled goroutine
pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from logunifier_spark.schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def stream_unify(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    pattern_labels: DataFrame | None = None,
    dedup_watermark: str = "5 minutes",
    trigger_seconds: int | None = None,
):
    """Start the streaming query. Returns the StreamingQuery handle."""
    deduped = (stream
               .withWatermark("ts", dedup_watermark)
               .dropDuplicates(["conv_id", "turn_idx"]))
    # resolve the enrich lookup ONCE: building it inside the batch
    # closure re-created the frame (py4j plan construction + a fresh
    # broadcast) on EVERY micro-batch — pure fixed cost at streaming's
    # small batch sizes. unify's own Column expressions are memoized per
    # SparkContext, so each batch's unify build pays Dataset analysis
    # only: ~400 py4j round-trips and 0.25-0.4 s wall at local[1], where
    # rebuilding the expressions cost ~7,900 and 1.3-1.5 s
    if pattern_labels is None:
        from logunifier_spark.operators.enrich import default_pattern_labels
        pattern_labels = default_pattern_labels(stream.sparkSession)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from logunifier_spark.pipeline import unify
        u = unify(batch_df, pattern_labels=pattern_labels, dedup=False)
        (u.drop("loki_labels")
          .write.mode("append")
          .partitionBy("sink")
          .parquet(sink_path))

    writer = (deduped.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("update"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_session_stats(stream: DataFrame, keys: list[str] | str,
                         ts: str = "ts", gap: str = "30 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/temporal.py::session_stats — per-key
    gap sessions as a native stateful streaming aggregation
    (`F.session_window`): events within `gap` of each other extend the
    session; state merges and emits when the watermark passes the
    session's close. Returns a streaming DataFrame for an append-mode
    writeStream (only watermark-finalized sessions are emitted —
    exactly-once per session under checkpoint resume).

    Parity with the batch operator (asserted in test_streaming): the
    session membership (which events group) is identical to the batch
    gap rule, and start/end/duration come from min/max event ts inside
    the session (NOT the window struct, whose `end` is last-event+gap).
    Scale: state is per OPEN session, bounded by the watermark horizon —
    not per event."""
    from pyspark.sql import functions as F
    keys = [keys] if isinstance(keys, str) else list(keys)
    # withWatermark/unix_micros reject TIMESTAMP_NTZ (the corpus ts type)
    # — normalize the event-time column upfront (UTC session tz)
    stream = stream.withColumn(ts, F.col(ts).cast("timestamp"))
    return (stream.withWatermark(ts, watermark)
            .groupBy(*keys, F.session_window(ts, gap).alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.min(ts).alias("session_start"),
                 F.max(ts).alias("session_end"))
            .select(*keys, "n_events", "session_start", "session_end",
                    F.floor((F.unix_micros(F.col("session_end"))
                             - F.unix_micros(F.col("session_start")))
                            / F.lit(1_000_000)).cast("long")
                    .alias("duration_s")))


def dead_letter_count(query) -> int:
    """Lost-entry count for a streaming query handle: total rows dropped
    because they arrived older than the watermark (the reference's "entry
    too far behind" terminate-and-log path, lokishipper.go:183-188).

    Reads the numRowsDroppedByWatermark state-operator metric from the
    query's progress history — zero extra jobs, exact per-batch accounting,
    valid on both live and terminated handles. recentProgress is a ring
    buffer (spark.sql.streaming.numRecentProgressUpdates, default 100
    batches); for a long-lived query, fold this per-progress-event from a
    StreamingQueryListener instead of polling the handle."""
    total = 0
    for p in query.recentProgress:
        for op in p.get("stateOperators", []):
            total += int(op.get("numRowsDroppedByWatermark", 0))
    return total


def suggest_max_files(query_or_progress, target_latency_s: float,
                      current_max_files: int,
                      min_files: int = 1, cap: int = 1024,
                      rows_per_file: float | None = None) -> int:
    """Data-driven `maxFilesPerTrigger` for `read_transcript_stream`: fit
    the per-batch cost model  duration_ms = fixed + rate * rows  to the
    query's own progress history and return the largest file count whose
    predicted batch latency stays within `target_latency_s`.

    Why a model, not proportion: the r4 sweep measured that 4x the batch
    size buys 2-3.5x the busy throughput — each micro-batch pays a
    fixed plan/broadcast/Arrow-worker setup cost (~2-3 s for the unify
    pipeline in that sweep, before its Column expressions were memoized
    per SparkContext; the memo took ~1 s of plan build out of it) that
    large batches amortize. The right batch size is
    therefore "as large as the latency budget allows", and the budget
    line must account for the fixed intercept or small targets
    under-size and large targets over-size the batch.

    Accepts a live/terminated StreamingQuery handle or a plain list of
    progress dicts (as from `query.recentProgress`). Batches with zero
    input rows are ignored. Rows-per-file defaults to the largest
    observed batch / `current_max_files` — which ASSUMES the history
    contains at least one FULL batch (a backlog that never reached
    `current_max_files` files, or a progress ring buffer that only
    retained trailing partials, under-estimates rows_per_file and
    over-suggests by the same factor); when the per-file row count is
    known (fixed shard sizes), pass `rows_per_file` explicitly to
    remove the assumption. With fewer than two distinct batch sizes the
    slope is unidentifiable and the helper falls back to proportional
    scaling of the median observed latency — conservative, because
    ignoring the fixed intercept over-predicts large-batch cost. Like
    `suggest_watermark_delay`: call at deploy/config time; the result
    is a reader option, not a per-batch knob."""
    progress = getattr(query_or_progress, "recentProgress", query_or_progress)
    pts = []
    for p in progress:
        rows = int(p["numInputRows"])
        if rows > 0:
            pts.append((rows, int(p["durationMs"]["triggerExecution"])))
    if not pts:
        raise ValueError("no non-empty batches in the progress history")
    if current_max_files < 1:
        raise ValueError(f"current_max_files must be >= 1, "
                         f"got {current_max_files}")
    if rows_per_file is None:
        rows_per_file = max(r for r, _ in pts) / current_max_files
    elif rows_per_file <= 0:
        raise ValueError(f"rows_per_file must be > 0, got {rows_per_file}")
    target_ms = target_latency_s * 1000.0
    distinct_rows = {r for r, _ in pts}
    if len(distinct_rows) >= 2:
        n = len(pts)
        mean_r = sum(r for r, _ in pts) / n
        mean_d = sum(d for _, d in pts) / n
        sxx = sum((r - mean_r) ** 2 for r, _ in pts)
        rate = sum((r - mean_r) * (d - mean_d) for r, d in pts) / sxx
        fixed = mean_d - rate * mean_r
        if rate <= 0:
            # noise-dominated fit (durations flat or inverted): every
            # observed batch met/defined the latency floor — scale
            # proportionally from the worst observation instead
            rows_target = max(r for r, _ in pts) * target_ms / max(
                d for _, d in pts)
        else:
            rows_target = (target_ms - fixed) / rate
    else:
        meds = sorted(d for _, d in pts)
        med = meds[len(meds) // 2]
        rows_target = next(iter(distinct_rows)) * target_ms / med
    files = int(rows_target // rows_per_file)
    return max(min_files, min(cap, files))


def suggest_watermark_delay(history: DataFrame, keys: list[str] | str,
                            arrival: str, ts: str = "ts",
                            safety: float = 1.5,
                            min_seconds: int = 60) -> str:
    """Data-driven watermark delay for `stream_unify(dedup_watermark=...)`:
    measure the historical event-time disorder
    (operators/timeseries.py::watermark_lag_stats — max lateness of any
    row vs the running event-time max in arrival order) over a batch
    sample of the stream, scale by `safety`, floor at `min_seconds`.
    Returns the Spark interval string ("<n> seconds").

    Too small a delay diverts real rows to the dead-letter count; too
    large bloats state — this replaces the guess with the observed
    tail. Runs one batch job (window + aggregate) on the history
    sample, so call it at deploy/config time, not per micro-batch."""
    from pyspark.sql import functions as F

    from logunifier_spark.operators.timeseries import watermark_lag_stats
    stats = watermark_lag_stats(history, keys, arrival=arrival, ts=ts)
    row = stats.agg(F.max("max_lag_us").alias("m")).collect()[0]
    max_lag_us = int(row["m"] or 0)
    secs = max(int(min_seconds), int(-(-max_lag_us * safety // 1_000_000)))
    return f"{secs} seconds"
