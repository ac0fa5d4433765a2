"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SMALL = gen.TranscriptSpec(
    turns=3_000, mix={f: 1.0 for f in gen.FAMILIES},
    unmatched={"tslevelmsg": 0.2}, redelivery=0.1, changed_payload=0.5)


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed():
    a, ea = gen.transcripts(5, SMALL)
    b, eb = gen.transcripts(5, SMALL)
    c, _ = gen.transcripts(6, SMALL)
    assert a.equals(b) and ea.to_json() == eb.to_json()
    assert not a.column("text").equals(c.column("text"))


def test_generator_expectations_add_up():
    table, exp = gen.transcripts(5, SMALL)
    assert table.num_rows == exp.rows_in > exp.turns == SMALL.turns
    for counts in (exp.sinks, exp.patterns, exp.levels, exp.families):
        assert sum(counts.values()) == exp.turns
    keys = set(zip(table.column("conv_id").to_pylist(),
                   table.column("turn_idx").to_pylist()))
    assert len(keys) == exp.turns
    # every family shows up at this size
    assert set(exp.families) == set(gen.FAMILIES)


def test_checker_flags_one_sink_count_off_by_one():
    _, exp = gen.transcripts(5, SMALL)
    sinks = dict(exp.sinks)
    assert checks.check_unified(exp, sinks, exp.patterns, exp.levels) == []
    sinks["loki_app"] += 1
    assert len(checks.check_unified(exp, sinks, exp.patterns, exp.levels)) == 1


def test_checker_flags_a_noop_resumable_run():
    _, exp = gen.transcripts(5, SMALL)
    good = {"ranges": 8, "routed_rows": exp.turns, "sinks": exp.sinks,
            "patterns": exp.patterns}
    assert checks.check_shipped(exp, 8, 8, good, exp.levels) == []
    # a reused output directory: nothing committed by this invocation
    assert checks.check_shipped(exp, 8, 0, good, exp.levels)
    short = dict(exp.levels)
    short["info"] -= 1
    assert checks.check_shipped(exp, 8, 8, good, short)


def test_every_printed_metric_is_declared():
    bench = _bench()
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == run.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == layers.PER_LAYER
    from workloads import WORKLOADS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_fails_without_the_program(tmp_path):
    root = os.path.dirname(HERE)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "unify_mixed", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
