"""Bench harness: headline parse→route throughput + operator benches.

Default mode (what the driver runs):
    python bench.py
  - reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
    local[$SPARK_GRAFT_CPUS] (default 32)
  - runs the headline pipeline over a deterministic synthetic transcript
    table (BENCH_TURNS rows, default 1M) plus operator benches on the sf
    tables, and prints ONE JSON line:
      {"metric": "...", "value": <total sec>, "unit": "sec",
       "queries": {...per-query sec...}, "sf": ..., "turns_per_sec": ...}

Scaling mode (the N vs 4N executor stand-in, north-rule criterion):
    python bench.py --scaling [N] [4N]
  - runs the same headline job at local[N] and local[4N] in separate
    SparkSessions on the same input and prints both throughputs plus
    efficiency = (T_N / T_4N) / 4 ... (time ratio per 4x cores).
  - defaults to N=2, 4N=8 and SCALING_TURNS=16M: each local[c] task pins
    one JVM thread AND one Arrow python worker, so a local[32] run on a
    32-core box oversubscribes 2x and caps at ~50% — an artifact of the
    single-box stand-in, not of the plan (on a real cluster executors are
    sized so cores cover the python workers). N=2 -> 4N=8 keeps both ends
    unconstrained (<=16 hot threads); the input is sized so compute
    dominates fixed job overhead at both ends.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_TURNS = int(os.environ.get("BENCH_TURNS", "1000000"))


def _spark(cpus: int):
    from logunifier_spark.session import get_spark
    return get_spark(app_name=f"logunifier-bench-{cpus}",
                     master=f"local[{cpus}]", shuffle_partitions=cpus)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def headline(spark, n_turns: int) -> float:
    """End-to-end: synth transcripts → unify (parse/normalize/validate) →
    enrich → route → per-sink counts + pattern histogram. Forces full
    execution via the aggregates (counts are collected, rows are not)."""
    from pyspark.sql import functions as F

    from logunifier_spark.fixtures import synth_transcripts
    from logunifier_spark.operators import aggregate as agg
    from logunifier_spark.operators.enrich import default_pattern_labels
    from logunifier_spark.pipeline import unify

    # The range is BORN at 1 partition/core — generation fuses into the
    # parse stage with no shuffle (a repartition here used to move ~200 MB
    # of synthesized text per 1M turns, and made cores/2 partitions the
    # optimum; with the fused stage, 1 task/core wins because the Arrow
    # python worker and the JVM thread of a task alternate, not compete —
    # measured min 1.79 s @32 parts vs 2.23 s @16 on the 32-core box)
    nparts = spark.sparkContext.defaultParallelism
    t = synth_transcripts(spark, n_turns, num_partitions=nparts)
    labels = default_pattern_labels(spark)

    # plan CONSTRUCTION stays outside the timed window (round-1 semantics,
    # keeps BENCH_r{N} comparable): unify runs no Spark job at construction
    # for any input (its dedup leaves the no-duplicates shortcut to AQE at
    # run time), so what's excluded is pure driver-side plan building
    # (independent of data size — negligible at any real scale but a
    # visible share of a 1M-turn run).
    u = unify(t, pattern_labels=labels)
    # one pass; the aggregate consumes parse-DERIVED columns (log_level,
    # message, timestamp) — aggregating only on sink/log_pattern_key lets
    # Catalyst prune the whole parse UDF out of the plan and the "bench"
    # measures synth+join+count instead of the pipeline
    counts = (u.groupBy("sink", "log_level")
                .agg(F.count("*").alias("n"),
                     F.sum(F.length("message")).alias("msg_bytes"),
                     F.count("timestamp").alias("n_ts")))
    return _timed(lambda: counts.collect())


def operator_benches(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry
    out = {}
    for name in ["tpch_pricing", "region_revenue", "first_event_per_user",
                 "dedup_exact", "minhash_dedup", "ann_bruteforce",
                 "token_counts",
                 # session-2 round-3 additions (baselines in BASELINE.md)
                 "interval_events", "bm25_search", "repeated_ngrams",
                 "embedding_neardup", "user_pagerank",
                 # session-3 round-3 additions
                 "log_templates", "event_funnel", "latest_events",
                 "quality_classifier", "normalize_text",
                 "heavy_hitters", "pq_encode", "ann_ivfpq",
                 "bpe_train", "session_paths",
                 # round-4 additions: the de-scale-killed dataset card
                 # (skew-safe quantiles) and DSIR selection
                 "corpus_report", "dsir_weights",
                 # round-5 additions: CCNet paragraph dedup and the
                 # Lee-et-al longest-dup-substring islands pass
                 "paragraph_dedup", "dup_runs"]:
        fn = entry.queries()[name]
        # min of 3 (shared noisy box — same rationale as the headline);
        # the multi-second rows get min-of-2 to bound total bench wall
        # time now that the row set has grown to 22
        slow = name in {"minhash_dedup", "bm25_search", "repeated_ngrams",
                        "embedding_neardup", "user_pagerank", "pq_encode",
                        "ann_ivfpq", "bpe_train", "paragraph_dedup",
                        "dup_runs"}
        trials = 2 if slow else 3
        out[name] = min(_timed(lambda f=fn: f(spark, sf_dir).collect())
                        for _ in range(trials))
    return out


def run_default() -> dict:
    spark = _spark(CPUS)
    queries: dict[str, float] = {}
    # warm the python workers + JIT once with a small run (not measured)
    headline(spark, 20_000)
    # min of 6: the box shares a host with invisible co-tenants (load
    # swings 2x with zero local processes running; noise bursts span
    # MINUTES, so even min-of-4 sometimes lands entirely inside one) —
    # the min over trials is the only defensible estimator of the plan's
    # capability
    queries["unify_route_1m"] = min(headline(spark, BENCH_TURNS)
                                    for _ in range(6))
    queries.update(operator_benches(spark, SF_DIR))
    spark.stop()
    total = round(sum(queries.values()), 3)
    return {
        "metric": "parse_route_throughput",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "turns": BENCH_TURNS,
        "turns_per_sec": round(BENCH_TURNS / queries["unify_route_1m"], 1),
        "cpus": CPUS,
    }


def _headline_once(cpus: int, turns: int, trials: int) -> float:
    spark = _spark(cpus)
    headline(spark, 20_000)  # warmup
    sec = min(headline(spark, turns) for _ in range(trials))
    spark.stop()
    return sec


def run_scaling(n: int, n4: int) -> dict:
    """N vs 4N stand-in. `local[c]` caps TASK SLOTS, not CPUs: the Arrow
    python workers of a local[2] session happily run on the box's other 30
    cores, inflating the small end's throughput and understating measured
    efficiency. So each end runs in a SUBPROCESS pinned to exactly c CPUs
    via `taskset -c 0..c-1` (JVM threads, GC, and python workers all
    confined) — the faithful analog of a c-core executor. Falls back to
    unpinned in-process sessions where taskset is unavailable."""
    import shutil
    import subprocess
    turns = int(os.environ.get("SCALING_TURNS", "16000000"))
    trials = int(os.environ.get("SCALING_TRIALS", "2"))
    pinned = shutil.which("taskset") is not None \
        and os.environ.get("SCALING_PIN", "1") == "1"
    results = {}
    for cpus in (n, n4):
        if pinned:
            cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable,
                   os.path.abspath(__file__), "--headline-once",
                   str(cpus), str(turns), str(trials)]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 check=True)
            results[cpus] = float(out.stdout.strip().splitlines()[-1])
        else:
            results[cpus] = _headline_once(cpus, turns, trials)
    tput_n = turns / results[n]
    tput_4n = turns / results[n4]
    eff = (tput_4n / tput_n) / (n4 / n)
    return {
        "metric": "scaling_efficiency",
        "turns": turns,
        "pinned_cpus": pinned,
        "n_cores": n, "sec_n": results[n], "turns_per_sec_n": round(tput_n, 1),
        "n4_cores": n4, "sec_4n": results[n4], "turns_per_sec_4n": round(tput_4n, 1),
        "efficiency": round(eff, 3),
    }


def run_stream_sweep() -> dict:
    """Batch-size sweep (round-5 verdict ask #5): stream_unify over the
    same 512k-turn / 64-file corpus as run_streaming at several
    maxFilesPerTrigger values, reporting busy throughput and batch
    latency per size, plus what streaming.suggest_max_files derives from
    the SMALLEST size's progress history for a range of latency budgets —
    the sweep is the ground truth the helper's fixed+rate model is
    checked against."""
    import glob
    import shutil
    import tempfile

    n_turns = int(os.environ.get("STREAM_TURNS", "512000"))
    # 63 files (not 64): no sweep size divides it, so every run ends in a
    # partial batch — the second distinct batch size that identifies the
    # fixed+rate fit in suggest_max_files (16 equal batches leave the
    # slope unidentifiable and the helper falls back to proportional)
    n_files = int(os.environ.get("STREAM_FILES", "63"))
    sizes = [int(s) for s in os.environ.get(
        "SWEEP_SIZES", "4,8,16,32,64").split(",")]
    spark = _spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from logunifier_spark.fixtures import synth_transcripts
    from logunifier_spark.streaming.stream import (
        read_transcript_stream,
        stream_unify,
        suggest_max_files,
    )

    root = tempfile.mkdtemp(prefix="stream_sweep_")
    in_dir = os.path.join(root, "in")
    synth_transcripts(spark, n_turns).repartitionByRange(n_files, "ts") \
        .write.mode("overwrite").parquet(in_dir)
    base_mtime = time.time() - 86_400
    for i, part in enumerate(sorted(glob.glob(os.path.join(in_dir,
                                                           "part-*")))):
        os.utime(part, (base_mtime + 2 * i, base_mtime + 2 * i))
    # warm the python workers + unify plan once (not measured)
    q0 = stream_unify(read_transcript_stream(spark, in_dir, 64),
                      os.path.join(root, "warm_out"),
                      os.path.join(root, "warm_ckpt"))
    q0.awaitTermination()

    out: dict = {"metric": "stream_batch_size_sweep", "turns": n_turns,
                 "files": n_files, "cpus": CPUS, "sizes": {}}
    progress_by_size = {}
    for mfpt in sizes:
        sink = os.path.join(root, f"out_{mfpt}")
        ckpt = os.path.join(root, f"ckpt_{mfpt}")
        q = stream_unify(read_transcript_stream(spark, in_dir, mfpt),
                         sink, ckpt)       # availableNow: no trigger idle
        q.awaitTermination()
        progresses = [p for p in q.recentProgress
                      if int(p["numInputRows"]) > 0]
        lat = [int(p["durationMs"]["triggerExecution"]) for p in progresses]
        busy_s = sum(lat) / 1000.0
        progress_by_size[mfpt] = [
            {"numInputRows": int(p["numInputRows"]),
             "durationMs": {"triggerExecution":
                            int(p["durationMs"]["triggerExecution"])}}
            for p in progresses]
        out["sizes"][mfpt] = {
            "batches": len(progresses),
            "rows_per_sec_busy": round(n_turns / busy_s, 1),
            "batch_latency_ms_avg": round(sum(lat) / len(lat), 1),
            "batch_latency_ms_max": max(lat),
        }
    # the helper's view: fit on the smallest-size history, suggest for a
    # range of budgets; the sweep rows above say what each suggestion
    # would actually deliver
    fit_size = sizes[0]
    out["suggest_from_size"] = fit_size
    out["suggestions"] = {
        f"{t}s": suggest_max_files(progress_by_size[fit_size], t,
                                   current_max_files=fit_size)
        for t in (2, 5, 10, 20)}
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    return out


def run_streaming() -> dict:
    """Measured Structured Streaming evidence (round-3 verdict ask #5):
    stream_unify over a file source at two trigger intervals, plus the
    custom stateful reassembly operator with its state-store footprint.

    Methodology: STREAM_TURNS synthetic transcripts written as
    STREAM_FILES parquet files; maxFilesPerTrigger=8 so the query runs
    ~STREAM_FILES/8 micro-batches. Per trigger interval we report
    end-to-end rows/sec (includes trigger idle — cadence-bound by
    design), busy rows/sec (input rows / sum of triggerExecution time —
    the plan's actual capability), and batch-latency avg/max. The
    reassembly run drains 4-part fragment groups shuffled across files
    (groups SPAN micro-batches, exercising cross-batch state) with
    availableNow, reporting peak state rows/bytes from the progress
    metrics."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    n_turns = int(os.environ.get("STREAM_TURNS", "512000"))
    n_files = int(os.environ.get("STREAM_FILES", "64"))
    spark = _spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from logunifier_spark.fixtures import synth_transcripts
    from logunifier_spark.streaming.stateful import stream_reassemble_partials
    from logunifier_spark.streaming.stream import (
        dead_letter_count,
        read_transcript_stream,
        stream_unify,
    )

    root = tempfile.mkdtemp(prefix="stream_bench_")
    in_dir = os.path.join(root, "in")
    # RANGE-partition by event time AND set file mtimes in range order:
    # a replayed log corpus arrives in rough time order (that is what
    # log shippers emit), and Spark's file stream source picks new
    # files OLDEST-MTIME-FIRST — parallel-written parts get arbitrary
    # near-equal mtimes, so without the utime pass the month-spanning
    # replay arrives shuffled and the 5-min dedup watermark drops
    # 45-75% of it as late (measured; correct semantics, wrong input).
    # A genuinely shuffled replay must size its watermark with
    # streaming.suggest_watermark_delay (measured disorder), not 5 min.
    synth_transcripts(spark, n_turns).repartitionByRange(n_files, "ts") \
        .write.mode("overwrite").parquet(in_dir)
    base_mtime = time.time() - 86_400
    for i, part in enumerate(sorted(glob.glob(os.path.join(in_dir,
                                                           "part-*")))):
        os.utime(part, (base_mtime + 2 * i, base_mtime + 2 * i))
    # warm the python workers + unify plan once (not measured)
    q0 = stream_unify(read_transcript_stream(spark, in_dir, 64),
                      os.path.join(root, "warm_out"),
                      os.path.join(root, "warm_ckpt"))
    q0.awaitTermination()

    mfpt = int(os.environ.get("STREAM_MAX_FILES", "8"))
    out: dict = {"metric": "streaming_throughput", "turns": n_turns,
                 "files": n_files, "max_files_per_trigger": mfpt,
                 "cpus": CPUS, "runs": {}}
    for trig in (2, 5):
        sink = os.path.join(root, f"out_{trig}s")
        ckpt = os.path.join(root, f"ckpt_{trig}s")
        t0 = time.perf_counter()
        q = stream_unify(read_transcript_stream(spark, in_dir, mfpt),
                         sink, ckpt, trigger_seconds=trig)
        done = 0
        while done < n_turns:
            q.processAllAvailable()
            done = sum(int(p["numInputRows"]) for p in q.recentProgress)
        wall = time.perf_counter() - t0
        progresses = [p for p in q.recentProgress
                      if int(p["numInputRows"]) > 0]
        dead = dead_letter_count(q)
        q.stop()
        lat = [int(p["durationMs"]["triggerExecution"])
               for p in progresses]
        busy_s = sum(lat) / 1000.0
        shipped = spark.read.parquet(sink).count()
        out["runs"][f"trigger_{trig}s"] = {
            "batches": len(progresses),
            "wall_sec": round(wall, 2),
            "rows_per_sec_incl_idle": round(n_turns / wall, 1),
            "rows_per_sec_busy": round(n_turns / busy_s, 1),
            "batch_latency_ms_avg": round(sum(lat) / len(lat), 1),
            "batch_latency_ms_max": max(lat),
            "rows_shipped": shipped,
            "dead_letter_rows": dead,
        }

    # stateful reassembly: 4-part groups, parts scattered across files so
    # most groups straddle micro-batch boundaries (real cross-batch state)
    n_groups = int(os.environ.get("STREAM_GROUPS", "50000"))
    frag_dir = os.path.join(root, "frags")
    (spark.range(n_groups * 4)
     .select(F.concat(F.lit("g"), (F.col("id") % n_groups)).alias("partial_id"),
             (F.col("id") / n_groups).cast("int").alias("partial_ordinal"),
             ((F.col("id") / n_groups).cast("int") == 3).alias("partial_last"),
             F.concat(F.lit("part"), F.col("id")).alias("message"),
             F.lit("svc").alias("svc"))
     # id-ordered ranges put each ordinal tier in its own file set ->
     # a group's parts land in DIFFERENT micro-batches
     .repartitionByRange(16, "partial_ordinal", "id")
     .write.mode("overwrite").parquet(frag_dir))
    frags = (spark.readStream.schema(spark.read.parquet(frag_dir).schema)
             .option("maxFilesPerTrigger", 4).parquet(frag_dir))
    t0 = time.perf_counter()
    q = (stream_reassemble_partials(frags, timeout_ms=None)
         .writeStream.format("parquet")
         .option("path", os.path.join(root, "frag_out"))
         .option("checkpointLocation", os.path.join(root, "frag_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.perf_counter() - t0
    assembled = spark.read.parquet(os.path.join(root, "frag_out")).count()
    state_rows = [int(op.get("numRowsTotal", 0))
                  for p in q.recentProgress
                  for op in p.get("stateOperators", [])]
    state_bytes = [int(op.get("memoryUsedBytes", 0))
                   for p in q.recentProgress
                   for op in p.get("stateOperators", [])]
    out["reassembly"] = {
        "fragment_rows": n_groups * 4,
        "groups": n_groups,
        "wall_sec": round(wall, 2),
        "fragments_per_sec": round(n_groups * 4 / wall, 1),
        "assembled": assembled,
        "state_rows_peak": max(state_rows) if state_rows else 0,
        "state_bytes_peak": max(state_bytes) if state_bytes else 0,
    }
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    return out


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
        n4 = int(sys.argv[3]) if len(sys.argv) > 3 else 8
        print(json.dumps(run_scaling(n, n4)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--streaming":
        print(json.dumps(run_streaming()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--stream-sweep":
        print(json.dumps(run_stream_sweep()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--headline-once":
        # internal: one pinned measurement (see run_scaling); prints seconds
        cpus, turns, trials = (int(x) for x in sys.argv[2:5])
        print(_headline_once(cpus, turns, trials))
    else:
        print(json.dumps(run_default()))
