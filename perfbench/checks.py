"""Output checks of the timed passes. Pure functions over plain dicts, so
the self-tests can feed them planted wrong results without a Spark session.
Each returns a list of human-readable errors; an empty list means correct."""

from __future__ import annotations

from gen import Expected


def _diff(kind: str, want: dict, got: dict) -> list[str]:
    keys = sorted(set(want) | set(got))
    bad = [f"{k}: want {want.get(k, 0)} got {got.get(k, 0)}"
           for k in keys if want.get(k, 0) != got.get(k, 0)]
    return [f"{kind} counts differ ({'; '.join(bad)})"] if bad else []


def check_unified(exp: Expected, sinks: dict, patterns: dict,
                  levels: dict) -> list[str]:
    """Per-sink, per-pattern and per-level counts of the unified output
    against what the generator emitted (one row per distinct turn)."""
    return (_diff("sink", exp.sinks, sinks)
            + _diff("pattern", exp.patterns, patterns)
            + _diff("level", exp.levels, levels))


def check_shipped(exp: Expected, n_ranges: int, written: int,
                  run_metrics: dict, readback_levels: dict) -> list[str]:
    """A resumable ship into a fresh directory: every range commits in this
    invocation, the run metrics count each distinct turn once, and the files
    read back hold exactly those turns."""
    errs = []
    if written != n_ranges:
        errs.append(f"{written} of {n_ranges} ranges committed by this run "
                    "(a reused output directory turns the run into a no-op)")
    if run_metrics.get("ranges") != n_ranges:
        errs.append(f"run metrics list {run_metrics.get('ranges')} ranges, "
                    f"want {n_ranges}")
    if run_metrics.get("routed_rows") != exp.turns:
        errs.append(f"routed_rows {run_metrics.get('routed_rows')} != "
                    f"{exp.turns} distinct turns")
    back = sum(readback_levels.values())
    if back != exp.turns:
        errs.append(f"read back {back} rows, want {exp.turns}")
    return (errs + _diff("sink", exp.sinks, run_metrics.get("sinks", {}))
            + _diff("pattern", exp.patterns, run_metrics.get("patterns", {}))
            + _diff("level", exp.levels, readback_levels))
