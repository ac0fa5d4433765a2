"""Traced run: per-layer busy time and counts, measured from outside.

Each layer's input is materialized once as parquet under the work
directory; the layer's public function is then timed on it together with
a forcing action (a noop write, the pass's own collect for the aggregate,
the checkpoint's partitioned write for the checkpoint). Every span runs
once untimed first, as the timed passes do after their warm-up: a plan
shape the session has not run yet pays code generation and JIT. A layer's
self time is that span minus a noop scan of the same input columns. Layers
that only exist inside `unify` (the envelope) get the remainder of a unify
span after the layers timed on their own are taken out. Counts ride the
timed jobs as Observations, so they add no jobs.

The parse layer is also split into Arrow transfer and Python compute: the
`parse.*_cpu_s` metrics run the UDF's own functions in this process, on
the same rows, in batches of the session's Arrow batch size, and divide
the CPU time by the number of tasks the parse job ran at once. That puts
them on the wall-time scale of `parse.udf_busy_s`, so the difference of
the two is the transfer share.

`trace.coverage` is the sum of the self times that make up a pass divided
by an untraced pass's wall time, `pass.wall_s`, which the traced run times
once after its warm-up; `trace.overhead_s` is the traced run's
time spent outside those self times (materializing inputs, scan
baselines, the in-process parse timing).
"""

from __future__ import annotations

import contextlib
import glob
import os
import time

import numpy as np

# name -> unit, for every per-layer metric a traced run prints
PER_LAYER = {
    "pass.wall_s": "s",
    "parse.udf_busy_s": "s", "parse.cpu_s": "s", "parse.logfmt_cpu_s": "s",
    "parse.grok_cpu_s": "s", "parse.ts_cpu_s": "s", "parse.rows": "count",
    "parse.error_rows": "count", "parse.ok_ratio": "ratio",
    "dedup.busy_s": "s", "dedup.probe_s": "s", "dedup.rows_in": "count",
    "dedup.rows_out": "count",
    "ecsjson.busy_s": "s", "ecsjson.bad_rows": "count",
    "envelope.busy_s": "s", "validate.error_rows": "count",
    "enrich.busy_s": "s", "enrich.streams": "count", "route.busy_s": "s",
    "aggregate.busy_s": "s", "aggregate.groups": "count",
    "checkpoint.write_s": "s", "checkpoint.readback_s": "s",
    "checkpoint.files": "count", "checkpoint.bytes": "bytes",
    "checkpoint.file_skew": "ratio", "checkpoint.ranges": "count",
    "scan.busy_s": "s", "gen.s": "s", "gen.rows": "count",
    "gen.bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}
# self-time metrics that add up to the untraced pass, per workload
_UNIFY = ["scan.busy_s", "dedup.busy_s", "parse.udf_busy_s", "ecsjson.busy_s",
          "envelope.busy_s", "enrich.busy_s", "route.busy_s"]
PASS_LAYERS = {
    "unify_mixed": _UNIFY + ["aggregate.busy_s"],
    "ship_redelivery": _UNIFY + ["checkpoint.write_s", "checkpoint.readback_s"],
}
CHECKPOINT = [k for k in PER_LAYER if k.startswith("checkpoint.")]


def _now() -> float:
    return time.perf_counter()


def _noop(df) -> float:
    t0 = _now()
    df.write.format("noop").mode("overwrite").save()
    return _now() - t0


def _warm_noop(df) -> float:
    """A noop write of `df`, run once untimed and then timed."""
    _noop(df)
    return _noop(df)


class Trace:
    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.dir = os.path.join(wl.work, "trace")
        self.m: dict = {}
        self.notes: dict = {}
        self.errors: list[str] = []
        self.spans: list[dict] = []

    def span(self, name: str, seconds: float, **counts) -> None:
        self.spans.append({"name": name, "s": seconds, **counts})

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.dir, name))

    def materialize(self, df, name: str):
        df.write.mode("overwrite").parquet(os.path.join(self.dir, name))
        return self.read(name)

    def self_time(self, layer: str, busy: float, scan: float) -> float:
        s = max(0.0, busy - scan)
        self.span(layer, busy, scan_s=scan, self_s=s)
        return s


@contextlib.contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _job_counts(spark, group: str) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks}


def _pipeline_layers(tr: Trace) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from logunifier_spark.operators import enrich as enrich_ops
    from logunifier_spark.operators import route as route_ops
    from logunifier_spark.operators.parse import parse_turns
    from logunifier_spark.pipeline import _dedup_turns, resolve_pattern_key, unify
    from logunifier_spark.sources.ecsjson import is_bad_ecs, parse_ecs_json
    from workloads import pass_aggregate

    spark, wl, m = tr.spark, tr.wl, tr.m
    exp = wl.exp
    labels = enrich_ops.default_pattern_labels(spark)
    raw = spark.read.parquet(wl.input)
    cols = raw.columns

    scan = _warm_noop(raw)
    m["scan.busy_s"] = scan
    tr.span("scan", scan)

    # dedup: construction runs the probe job for file-backed input
    _noop(_dedup_turns(spark.read.parquet(wl.input)))
    t0 = _now()
    deduped = _dedup_turns(spark.read.parquet(wl.input))
    probe = _now() - t0
    obs = Observation("dedup")
    busy = probe + _noop(deduped.observe(obs, F.count(F.lit(1)).alias("rows")))
    m["dedup.probe_s"] = probe
    m["dedup.busy_s"] = tr.self_time("dedup", busy, scan)
    m["dedup.rows_in"] = exp.rows_in
    m["dedup.rows_out"] = obs.get["rows"]
    if m["dedup.rows_out"] != exp.turns:
        tr.errors.append(f"dedup kept {m['dedup.rows_out']} rows, want {exp.turns}")

    parse_in = tr.materialize(deduped.withColumns({
        "_text": F.col("text"),
        "log_pattern_key": resolve_pattern_key(F.col("tool"))}), "parse_in")
    key_text = parse_in.select("_text", "log_pattern_key")
    scan_kt = _warm_noop(key_text)

    obs = Observation("parse")
    q = key_text.select(parse_turns(F.col("_text"), F.col("log_pattern_key"))
                        .alias("p"))
    _noop(q)
    q = q.observe(obs, F.count(F.lit(1)).alias("rows"),
                  F.count(F.col("p.parse_error")).alias("errors"))
    with _job_group(spark, "perfbench-parse"):
        busy = _noop(q)
    m["parse.udf_busy_s"] = tr.self_time("parse", busy, scan_kt)
    parse_tasks = _job_counts(spark, "perfbench-parse")["spark.tasks"]
    got = obs.get
    m["parse.rows"], m["parse.error_rows"] = got["rows"], got["errors"]
    m["parse.ok_ratio"] = 1.0 - got["errors"] / max(1, got["rows"])

    obs = Observation("ecsjson")
    is_ecs = F.col("log_pattern_key") == "Ecs"
    q = key_text.select(is_ecs.alias("_ecs"),
                        F.when(is_ecs, parse_ecs_json(F.col("_text"))).alias("j"))
    _noop(q)
    q = q.observe(obs, F.count(F.when(F.col("_ecs") & is_bad_ecs(F.col("j")), 1))
                  .alias("bad"))
    m["ecsjson.busy_s"] = tr.self_time("ecsjson", _noop(q), scan_kt)
    m["ecsjson.bad_rows"] = obs.get["bad"]

    # envelope + validate_and_fix only run inside unify: its span minus
    # the layers above
    six = parse_in.select(*cols)
    scan_six = _warm_noop(six)
    obs = Observation("validate")
    env = unify(six, pattern_labels=None, dedup=False)
    _noop(env)
    t_env = _noop(env.observe(obs, F.count(F.col("validation_errors")).alias("bad")))
    m["envelope.busy_s"] = max(0.0, t_env - scan_six - m["parse.udf_busy_s"]
                               - m["ecsjson.busy_s"])
    tr.span("envelope", t_env, scan_s=scan_six, self_s=m["envelope.busy_s"])
    m["validate.error_rows"] = obs.get["bad"]

    env_out = tr.materialize(env, "env_out")
    q = enrich_ops.enrich_with_pattern_labels(env_out, labels).withColumn(
        "stream_key", enrich_ops.stream_key_native())
    m["enrich.busy_s"] = tr.self_time("enrich", _warm_noop(q), _warm_noop(env_out))

    unified = tr.materialize(unify(raw, pattern_labels=labels)
                             .drop("loki_labels"), "unified")
    base = unified.drop("salt", "route_partition")
    m["route.busy_s"] = tr.self_time(
        "route", _warm_noop(route_ops.with_routing(base)), _warm_noop(base))

    # the aggregate a unify_mixed pass collects, on the unified rows
    # a fresh DataFrame for the timed collect: collecting the same one
    # again would reuse its shuffle output
    pass_aggregate(unified).collect()
    agg = pass_aggregate(unified)
    t0 = _now()
    rows = agg.collect()
    busy = _now() - t0
    m["aggregate.busy_s"] = tr.self_time(
        "aggregate", busy, _warm_noop(unified.select(*agg.columns[:-1])))
    m["aggregate.groups"] = len(rows)
    m["enrich.streams"] = len({r["stream_key"] for r in rows})
    sinks: dict = {}
    for r in rows:
        sinks[r["sink"]] = sinks.get(r["sink"], 0) + r["n"]
    if sinks != exp.sinks:
        tr.errors.append(f"traced sink counts {sinks} != {exp.sinks}")

    parallel = max(1, min(spark.sparkContext.defaultParallelism, parse_tasks))
    _parse_cpu(tr, os.path.join(tr.dir, "parse_in"), parallel)


def _parse_cpu(tr: Trace, path: str, parallel: int) -> None:
    """In-process timing of the parse UDF's functions on the rows the UDF
    saw, batch by batch, divided by the `parallel` tasks the parse job ran
    at once (the Python compute share of parse.udf_busy_s)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from logunifier_spark.functions import grok, logfmt, timeparse
    from logunifier_spark.operators.parse import GROK_KEYS, parse_batch

    batch = int(tr.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    cpu = {"parse.cpu_s": 0.0, "parse.logfmt_cpu_s": 0.0,
           "parse.grok_cpu_s": 0.0, "parse.ts_cpu_s": 0.0}
    clock = time.process_time
    for f in files:
        t = pq.read_table(f, columns=["_text", "log_pattern_key"])
        for rb in t.to_batches(max_chunksize=batch):
            df = rb.to_pandas()
            text, keys = df["_text"], df["log_pattern_key"]
            t0 = clock()
            parse_batch(text, keys)
            cpu["parse.cpu_s"] += clock() - t0

            texts = text.fillna("").to_numpy(dtype=object)
            karr = keys.to_numpy(dtype=object)
            ts_vals = []
            t0 = clock()
            for k in GROK_KEYS:
                idx = np.flatnonzero(karr == k)
                if idx.size:
                    ext = pd.Series(texts[idx]).str.extract(grok.compiled(k))
                    ts_vals.extend(ext["timestamp"].dropna().tolist())
            cpu["parse.grok_cpu_s"] += clock() - t0
            t0 = clock()
            for i in np.flatnonzero(karr == "LogFmt"):
                kv, _ = logfmt.decode(texts[i])
                if logfmt.KEY_TS in kv:
                    ts_vals.append(kv[logfmt.KEY_TS])
            cpu["parse.logfmt_cpu_s"] += clock() - t0
            t0 = clock()
            if ts_vals:
                timeparse.parse_series(pd.Series(ts_vals, dtype="object"))
            cpu["parse.ts_cpu_s"] += clock() - t0
    tr.span("parse.cpu", cpu["parse.cpu_s"], parallel=parallel, **cpu)
    tr.m.update({k: v / parallel for k, v in cpu.items()})


def _checkpoint(tr: Trace) -> None:
    """The checkpoint layer on the unified rows: its partitioned write as a
    span of its own, then the real run_resumable call into a fresh
    directory for its files and its read-back, checked like a pass."""
    from pyspark.sql import functions as F

    from checks import check_shipped
    from logunifier_spark.checkpoint import emit_run_metrics, run_resumable
    from workloads import SHIP_RANGES

    # the checkpoint's write of the unified rows: the same shuffle and
    # partitioned parquet write run_resumable does, minus a scan of them
    rows = tr.read("unified").withColumn(
        "_range", F.pmod(F.xxhash64("conv_id"), F.lit(SHIP_RANGES)))
    scan = _warm_noop(rows)
    for k in range(2):
        t0 = _now()
        (rows.repartition(F.col("_range"), F.col("sink"))
             .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
             .partitionBy("_range", "sink")
             .parquet(os.path.join(tr.dir, f"checkpoint_write{k}")))
    tr.m["checkpoint.write_s"] = tr.self_time("checkpoint.write", _now() - t0, scan)

    # the real call: its files, and the read-back it does after its write
    out = os.path.join(tr.dir, "checkpoint")
    t0 = _now()
    written = run_resumable(tr.spark, tr.spark.read.parquet(tr.wl.input), out,
                            n_ranges=SHIP_RANGES, run_id="trace")
    total = _now() - t0
    run_wall = written[0].run_wall_sec if written else total
    sizes = [os.path.getsize(f) for f in
             glob.glob(os.path.join(out, "data", "**", "*.parquet"),
                       recursive=True)]
    tr.m["checkpoint.readback_s"] = max(0.0, total - run_wall)
    tr.m["checkpoint.files"] = len(sizes)
    tr.m["checkpoint.bytes"] = sum(sizes)
    tr.m["checkpoint.file_skew"] = (max(sizes) / (sum(sizes) / len(sizes))
                                    if sizes else 0.0)
    tr.m["checkpoint.ranges"] = len(written)
    tr.span("checkpoint.run_resumable", total, run_wall_s=run_wall,
            self_s=tr.m["checkpoint.readback_s"])
    back = tr.spark.read.parquet(os.path.join(out, "data"))
    levels = {r[0]: r[1] for r in back.groupBy("log_level").count().collect()}
    tr.errors += check_shipped(tr.wl.exp, SHIP_RANGES, len(written),
                               emit_run_metrics(out), levels)


def run_traced(wl, start_session, report: dict):
    """Set up once, run one untraced reference pass, then time every layer.
    Returns (spark, result line)."""
    t0 = _now()
    spark = start_session()
    t1 = _now()
    wl.warmup(spark)
    t2 = _now()
    tr = Trace(spark, wl)
    m = tr.m
    m["session.start_s"], m["session.warmup_s"] = t1 - t0, t2 - t1
    m["gen.s"] = wl.gen_info["s"]
    m["gen.rows"] = wl.gen_info["rows"]
    m["gen.bytes"] = wl.gen_info["bytes"]

    group = "perfbench-reference"
    with _job_group(spark, group):
        t0 = _now()
        ref = wl.run_pass(spark, "p0")
        ref_wall = _now() - t0
    ref_errors = wl.check(spark, ref, "p0")
    wl.after_pass("p0")
    m.update(_job_counts(spark, group))
    m["pass.wall_s"] = ref_wall

    t_trace = _now()
    _pipeline_layers(tr)
    if wl.name == "ship_redelivery":
        _checkpoint(tr)
    else:
        for k in CHECKPOINT:
            m[k] = 0
        tr.notes["checkpoint"] = "layer not part of this workload's pass"
    traced = _now() - t_trace
    covered = sum(m[k] for k in PASS_LAYERS[wl.name])
    m["trace.coverage"] = covered / ref_wall
    m["trace.overhead_s"] = traced - covered

    failed = 1 if (ref_errors or tr.errors) else 0
    report["trace"] = {"reference_wall_s": ref_wall, "spans": tr.spans,
                       "notes": tr.notes, "errors": ref_errors + tr.errors}
    metrics = {k: {"value": float(m[k]), "unit": u} for k, u in PER_LAYER.items()}
    return spark, {"correct": failed == 0, "attempted": 1, "failed": failed,
                   "metrics": metrics}
