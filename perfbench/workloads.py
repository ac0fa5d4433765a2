"""The benchmark workloads: seeded inputs on disk plus one timed pass each.

A pass calls the program's public functions on the generated input and
collects a result small enough to check against the generator's own
expectations. Everything a pass needs is built inside it, so plan
construction (which runs the dedup probe job for file-backed input) is
part of the measured time.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import gen
from checks import check_shipped, check_unified

# family shares of the fixtures' GOLDEN_LINES cycle that synth_transcripts
# repeats (20 lines: 6 tslevelmsg, one of them unmatched, 2 envoy, 2
# traefik, 5 logfmt, 2 nop, 2 ecs, 1 invalid ecs)
UNIFY_MIXED = gen.TranscriptSpec(
    turns=200_000,
    mix={"tslevelmsg": 6, "envoy": 2, "traefik": 2, "logfmt": 5, "nop": 2,
         "ecs": 2, "invalid-ecs": 1},
    unmatched={"tslevelmsg": 1 / 6})
# an assumed shipping mix, mostly ECS JSON and plain lines, with an assumed
# share of turns delivered twice
SHIP_REDELIVERY = gen.TranscriptSpec(
    turns=20_000,
    mix={"ecs": 0.55, "nop": 0.27, "invalid-ecs": 0.04, "logfmt": 0.07,
         "tslevelmsg": 0.07},
    unmatched={"tslevelmsg": 1 / 6},
    redelivery=0.05, changed_payload=0.4)
SHIP_RANGES = 8
# turns of the small input the warm-up pass reads
COLD_TURNS = 4_000


class Workload:
    name = ""
    spec: gen.TranscriptSpec
    # warm-up passes over the input after the one over the small input
    warm_passes = 0

    def __init__(self, work: str, turns: int | None = None):
        self.work = work
        if turns is not None:
            self.spec = dataclasses.replace(self.spec, turns=turns)
        self.input = os.path.join(work, "input")
        self.exp: gen.Expected | None = None
        self.gen_info: dict = {}
        self.cold: Workload | None = None

    @property
    def rows(self) -> int:
        return self.exp.rows_in

    def prepare(self, seed: int) -> dict:
        """Write the seeded input to disk, and the small input of the same
        spec that the cold warm-up pass reads."""
        t0 = time.perf_counter()
        table, self.exp = gen.transcripts(seed, self.spec)
        nbytes = gen.write_table(table, self.input, self.spec.files)
        self.cold = type(self)(os.path.join(self.work, "cold"), COLD_TURNS)
        cold_table, self.cold.exp = gen.transcripts(seed, self.cold.spec)
        gen.write_table(cold_table, self.cold.input, self.cold.spec.files)
        self.gen_info = {"s": time.perf_counter() - t0,
                         "rows": table.num_rows, "bytes": nbytes,
                         "expected": self.exp.to_json()}
        return self.gen_info

    def warmup(self, spark) -> None:
        """Untimed, checked passes: one over the small input, then
        `warm_passes` over the input. The first pass of a session pays
        Python worker start-up, class loading and code generation, almost
        all of it independent of the input size. The JIT goes on compiling
        for a dozen passes more, a decaying 4-16 CPU seconds a pass, which
        the timed passes leave out of their CPU time rather than wait for."""
        passes = [(self.cold, "cold")] + [(self, f"warm{k}")
                                          for k in range(self.warm_passes)]
        for wl, tag in passes:
            errs = wl.check(spark, wl.run_pass(spark, tag), tag)
            wl.after_pass(tag)
            if errs:
                raise RuntimeError(f"warm-up pass failed its check: {errs}")

    def run_pass(self, spark, tag: str):
        """One pass over the input: the program's calls, which are timed.
        Returns what `check` needs."""
        raise NotImplementedError

    def check(self, spark, result, tag: str) -> list[str]:
        """The check of one pass's result, outside its timed window; returns
        the errors."""
        raise NotImplementedError

    def after_pass(self, tag: str) -> None:
        """Untimed clean-up after a pass."""


def pass_aggregate(unified):
    """The one aggregate a unify_mixed pass collects."""
    from pyspark.sql import functions as F
    return (unified.groupBy("sink", "log_pattern_key", "log_level", "stream_key")
            .agg(F.count("*").alias("n")))


class UnifyMixed(Workload):
    """read -> unify(default pattern labels) -> one sink/pattern/level/stream
    aggregate collected. No duplicates: the dedup probe returns the input
    untouched."""
    name = "unify_mixed"
    spec = UNIFY_MIXED

    def run_pass(self, spark, tag: str):
        from logunifier_spark.operators.enrich import default_pattern_labels
        from logunifier_spark.pipeline import unify

        u = unify(spark.read.parquet(self.input),
                  pattern_labels=default_pattern_labels(spark))
        agg = pass_aggregate(u)
        return agg, agg.collect()

    def check(self, spark, result, tag: str) -> list[str]:
        agg, rows = result
        sinks: dict = {}
        patterns: dict = {}
        levels: dict = {}
        for r in rows:
            sinks[r["sink"]] = sinks.get(r["sink"], 0) + r["n"]
            patterns[r["log_pattern_key"]] = patterns.get(r["log_pattern_key"], 0) + r["n"]
            levels[r["log_level"]] = levels.get(r["log_level"], 0) + r["n"]
        errs = check_unified(self.exp, sinks, patterns, levels)
        # Catalyst drops a Python UDF whose output nothing reads: a pass
        # without the parse node measures nothing
        plan = agg._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if "ArrowEvalPython" not in plan:
            errs.append("executed plan has no ArrowEvalPython parse node")
        return errs


class ShipRedelivery(Workload):
    """run_resumable + emit_run_metrics into a fresh directory, the calls
    jobs/run_pipeline.py makes; the check reads the shipped files back."""
    name = "ship_redelivery"
    spec = SHIP_REDELIVERY
    # its pass is mostly per-job overhead, so the JVM code its first pass
    # over the input still compiles costs it a quarter more CPU than the
    # next; one pass over the input keeps that out of the timed passes
    warm_passes = 1

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, "ship", tag)

    def run_pass(self, spark, tag: str):
        from logunifier_spark.checkpoint import emit_run_metrics, run_resumable

        out = self.out_dir(tag)
        if os.path.exists(out):
            raise RuntimeError(f"output directory {out} is not fresh")
        written = run_resumable(spark, spark.read.parquet(self.input), out,
                                n_ranges=SHIP_RANGES, run_id=tag)
        return written, emit_run_metrics(out)

    def check(self, spark, result, tag: str) -> list[str]:
        written, metrics = result
        back = spark.read.parquet(os.path.join(self.out_dir(tag), "data"))
        levels = {r[0]: r[1] for r in back.groupBy("log_level").count().collect()}
        return check_shipped(self.exp, SHIP_RANGES, len(written), metrics, levels)

    def after_pass(self, tag: str) -> None:
        shutil.rmtree(self.out_dir(tag), ignore_errors=True)


WORKLOADS = {w.name: w for w in (UnifyMixed, ShipRedelivery)}
