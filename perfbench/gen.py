"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: numpy's PCG64 stream drives
every choice, so one seed gives byte-identical inputs on any host. The
program under test only ever sees the files written here.

Each generated transcript row also carries, in the generator's own tables,
the pattern key, level and sink the unification pipeline must assign to it.
Those expectations are derived from the line templates below, never from
running the pipeline, so a parse regression shows up as a count mismatch.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = ("tslevelmsg", "envoy", "traefik", "logfmt", "nop", "ecs",
            "invalid-ecs")

# family -> (tool column value, pattern key the pipeline resolves it to)
TOOL = {"tslevelmsg": "tslevelmsg", "envoy": "envoy", "traefik": "traefik",
        "logfmt": "logfmt", "nop": "nop", "ecs": "ecs", "invalid-ecs": "ecs"}
PATTERN = {"tslevelmsg": "TsLevelMsg", "envoy": "Envoy",
           "traefik": "Traefik", "logfmt": "LogFmt", "nop": "Nop",
           "ecs": "Ecs", "invalid-ecs": "Ecs"}
# pattern key -> sink of the default pattern-label dimension
SINK = {"TsLevelMsg": "loki_app", "Envoy": "loki_infra",
        "Traefik": "loki_infra", "LogFmt": "loki_app", "Nop": "loki_infra",
        "Ecs": "loki_app"}

# (level token as written in the line, canonical level it must map to)
LEVELS = {
    "tslevelmsg": [("DEBUG", "debug"), ("INFO", "info"), ("WARN", "warn"),
                   ("ERROR", "error"), ("TRACE", "trace"), ("INF", "info"),
                   ("WRN", "warn"), ("ERR", "error"), ("DBG", "debug"),
                   ("FATAL", "fatal")],
    "envoy": [("trace", "trace"), ("debug", "debug"), ("info", "info"),
              ("warning", "warn"), ("error", "error"),
              ("critical", "fatal")],
    "traefik": [("DBG", "debug"), ("INF", "info"), ("WRN", "warn"),
                ("ERR", "error")],
    "logfmt": [("debug", "debug"), ("info", "info"), ("warn", "warn"),
               ("warning", "warn"), ("error", "error"), ("crit", "fatal"),
               (None, "unknown")],
    "nop": [(None, "unknown")],
    "ecs": [("INFO", "info"), ("debug", "debug"), ("WARN", "warn"),
            ("error", "error"), ("trace", "trace"), ("FATAL", "fatal"),
            (None, "not_set")],
    "invalid-ecs": [(None, "fatal")],
}

WORDS = (
    "request served cache miss upstream reset connection pool worker "
    "started stopped retry backoff timeout exceeded listener bound shard "
    "replica leader elected follower snapshot compacted segment flushed "
    "index rebuilt query planner scanned rows bytes token refreshed lease "
    "expired session opened closed handshake failed certificate rotated "
    "volume mounted node drained pod scheduled image pulled health probe "
    "ok degraded route added removed config reloaded metric exported batch "
    "shipped queue depth throttled quota granted denied user login logout "
    "payment accepted declined order created shipped refunded").split()
COMPONENTS = ("nomad", "raft", "memberlist", "scheduler", "api", "agent",
              "consul", "vault", "gateway", "ingest", "storage", "auth")
SERVICES = ("shop", "billing", "search", "catalog", "auth", "gateway")
ROLES = ("user", "assistant", "tool", "system")
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class TranscriptSpec:
    """What one transcript input looks like."""
    turns: int                      # distinct turns
    mix: dict                       # family -> share of turns
    # grok family -> share of its lines with no timestamp or level, which
    # match no pattern
    unmatched: dict = field(default_factory=dict)
    redelivery: float = 0.0         # share of turns delivered a second time
    changed_payload: float = 0.0    # share of re-deliveries with new text
    turns_per_conv: int = 20
    hot_share: float = 0.01         # share of conversations that are hot
    hot_factor: int = 30            # hot conversation length multiplier
    files: int = 8


@dataclass
class Expected:
    """Counts the pipeline must report, by construction of the input."""
    rows_in: int = 0
    turns: int = 0
    sinks: dict = field(default_factory=dict)
    patterns: dict = field(default_factory=dict)
    levels: dict = field(default_factory=dict)
    families: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {"rows_in": self.rows_in, "turns": self.turns,
                "sinks": self.sinks, "patterns": self.patterns,
                "levels": self.levels, "families": self.families}


def _words(rng: np.random.Generator, n: int, lo: int = 3,
           hi: int = 9) -> list[str]:
    counts = rng.integers(lo, hi + 1, size=n)
    picks = rng.integers(0, len(WORDS), size=(n, hi))
    return [" ".join(WORDS[j] for j in picks[i, :counts[i]])
            for i in range(n)]


def _iso(epoch_us: np.ndarray, unit: str) -> list[str]:
    """ISO-8601 strings (no zone suffix) at the given numpy unit."""
    return list(np.datetime_as_string(epoch_us.astype("datetime64[us]"),
                                      unit=unit))


def _render(family: str, lvl: np.ndarray, epoch_us: np.ndarray,
            rng: np.random.Generator) -> list[str]:
    """Text lines of one family. `lvl` indexes LEVELS[family]; a negative
    entry asks for an unmatched line (no timestamp, no level)."""
    n = len(lvl)
    toks = [t for t, _ in LEVELS[family]]
    msg = _words(rng, n)
    num = rng.integers(1, 65_535, size=(n, 3))
    comp = rng.integers(0, len(COMPONENTS), size=n)
    ms = _iso(epoch_us, "ms")
    if family == "tslevelmsg":
        sec = _iso(epoch_us, "s")
        out = []
        for i in range(n):
            if lvl[i] < 0:
                out.append(f"{COMPONENTS[comp[i]]} {msg[i]}")
            elif num[i, 0] % 2:
                out.append(f"{ms[i]}Z [{toks[lvl[i]]}] {COMPONENTS[comp[i]]}: "
                           f"{msg[i]} from=10.0.{num[i, 1] % 256}.{num[i, 2] % 256}"
                           f":{num[i, 2]}")
            else:
                d, t = sec[i].split("T")
                out.append(f"{d} {t},{num[i, 1] % 1000:03d}+0000 "
                           f"{toks[lvl[i]]} [{COMPONENTS[comp[i]]}] {msg[i]}")
        return out
    if family == "envoy":
        return [f"{COMPONENTS[comp[i]]} {msg[i]}" if lvl[i] < 0 else
                f"[{ms[i].replace('T', ' ')}][{num[i, 0] % 64}]"
                f"[{toks[lvl[i]]}][{COMPONENTS[comp[i]]}] "
                f"[source/common/{COMPONENTS[comp[i]]}/impl.cc:{num[i, 1] % 900}] "
                f"{msg[i]}" for i in range(n)]
    if family == "traefik":
        sec = _iso(epoch_us, "s")
        return [f"{COMPONENTS[comp[i]]} {msg[i]}" if lvl[i] < 0 else
                f"{sec[i]}Z {toks[lvl[i]]} github.com/traefik/traefik/v3/pkg/"
                f"{COMPONENTS[comp[i]]}/router.go:{num[i, 1] % 900} > {msg[i]} "
                f"routerName={WORDS[num[i, 2] % len(WORDS)]}" for i in range(n)]
    if family == "logfmt":
        us = _iso(epoch_us, "us")
        out = []
        for i in range(n):
            tok = toks[lvl[i]]
            level = f" level={tok}" if tok is not None else ""
            trace = (f" traceID={num[i, 0]:x}{num[i, 1]:x} spanID={num[i, 2]:x}"
                     if num[i, 0] % 4 == 0 else "")
            out.append(f"ts={us[i]}Z caller={COMPONENTS[comp[i]]}.go:"
                       f"{num[i, 1] % 900}{level} msg=\"{msg[i]}\" "
                       f"{WORDS[num[i, 2] % len(WORDS)]}={num[i, 0]}{trace}")
        return out
    if family == "nop":
        return msg
    if family == "ecs":
        svc = rng.integers(0, len(SERVICES), size=n)
        out = []
        for i in range(n):
            doc = {"@timestamp": f"{ms[i]}Z", "message": msg[i]}
            if toks[lvl[i]] is not None:
                doc["log"] = {"level": toks[lvl[i]],
                              "logger": COMPONENTS[comp[i]]}
            doc["service"] = {"name": SERVICES[svc[i]],
                              "version": f"1.{num[i, 0] % 9}.{num[i, 1] % 20}",
                              "type": "web", "stack": "prod",
                              "namespace": "retail"}
            doc["host"] = {"name": f"node{num[i, 2] % 16}",
                           "hostname": f"node{num[i, 2] % 16}"}
            doc["organization"] = {"name": "acme"}
            doc["environment"] = {"name": "prod"}
            out.append(json.dumps(doc, separators=(",", ":")))
        return out
    if family == "invalid-ecs":
        return [f'{{"@timestamp":"{ms[i]}Z","message":"{msg[i]}' for i in range(n)]
    raise ValueError(f"unknown family {family!r}")


def _conversations(rng: np.random.Generator, spec: TranscriptSpec,
                   seed: int) -> tuple[list[str], np.ndarray]:
    """conv_id per turn and the turn's index inside its conversation:
    `hot_share` of conversations carry `hot_factor`x the turns."""
    lens: list[int] = []
    total = 0
    while total < spec.turns:
        hot = rng.random() < spec.hot_share
        n = spec.turns_per_conv * (spec.hot_factor if hot else 1)
        n = min(n, spec.turns - total)
        lens.append(n)
        total += n
    conv = np.repeat(np.arange(len(lens)), lens)
    starts = np.repeat(np.cumsum([0] + lens[:-1]), lens)
    turn_idx = (np.arange(spec.turns) - starts).astype(np.int32)
    ids = [f"s{seed:05d}-c{c:07d}" for c in range(len(lens))]
    return [ids[c] for c in conv], turn_idx


def _pick_levels(rng: np.random.Generator, family: str, n: int,
                 unmatched: float) -> np.ndarray:
    lvl = rng.integers(0, len(LEVELS[family]), size=n)
    lvl[rng.random(n) < unmatched] = -1
    return lvl


def _expected_level(family: str, lvl: int) -> str:
    return "unknown" if lvl < 0 else LEVELS[family][lvl][1]


def transcripts(seed: int, spec: TranscriptSpec) -> tuple[pa.Table, Expected]:
    """The transcript table of `spec` and the counts unification must
    produce from it. Row order is shuffled so conversations interleave
    across files, as they do on a real ingress."""
    rng = np.random.default_rng([seed, spec.turns])
    names = list(spec.mix)
    shares = np.array([spec.mix[f] for f in names], dtype=float)
    fam = rng.choice(len(names), size=spec.turns, p=shares / shares.sum())
    conv_id, turn_idx = _conversations(rng, spec, seed)
    epoch_us = (BASE_EPOCH_S * 1_000_000
                + np.cumsum(rng.integers(1_000, 2_000_000, size=spec.turns)))
    text = np.empty(spec.turns, dtype=object)
    lvl = np.zeros(spec.turns, dtype=np.int64)
    for k, f in enumerate(names):
        idx = np.flatnonzero(fam == k)
        lvl[idx] = _pick_levels(rng, f, idx.size, spec.unmatched.get(f, 0.0))
        text[idx] = _render(f, lvl[idx], epoch_us[idx], rng)

    exp = Expected(rows_in=spec.turns, turns=spec.turns)
    fams = [names[k] for k in fam]
    exp.families = dict(Counter(fams))
    exp.patterns = dict(Counter(PATTERN[f] for f in fams))
    exp.sinks = dict(Counter(SINK[PATTERN[f]] for f in fams))
    exp.levels = dict(Counter(_expected_level(f, l) for f, l in zip(fams, lvl)))

    # re-deliveries: the same (conv_id, turn_idx, ts); a share of them carry
    # a new payload of the same family and level, so every expected count
    # holds whichever copy the dedup keeps
    rows = np.arange(spec.turns)
    n_dup = int(round(spec.redelivery * spec.turns))
    dup = np.sort(rng.choice(spec.turns, size=n_dup, replace=False))
    dup_text = text[dup].copy()
    changed = rng.random(n_dup) < spec.changed_payload
    for k, f in enumerate(names):
        sel = np.flatnonzero(changed & (fam[dup] == k))
        if sel.size:
            dup_text[sel] = _render(f, lvl[dup[sel]], epoch_us[dup[sel]], rng)
    src = np.concatenate([rows, dup])
    all_text = np.concatenate([text, dup_text])
    order = rng.permutation(src.size)
    src, all_text = src[order], all_text[order]
    exp.rows_in = int(src.size)

    table = pa.table({
        "conv_id": pa.array([conv_id[i] for i in src], pa.string()),
        "turn_idx": pa.array(turn_idx[src], pa.int32()),
        "role": pa.array([ROLES[t % 4] for t in turn_idx[src]], pa.string()),
        "text": pa.array(list(all_text), pa.string()),
        "tool": pa.array([TOOL[names[fam[i]]] for i in src], pa.string()),
        "ts": pa.array(epoch_us[src], pa.timestamp("us", tz="UTC")),
    }, schema=TRANSCRIPT_SCHEMA)
    return table, exp


def write_table(table: pa.Table, path: str, files: int) -> int:
    """Write `table` as `files` parquet files (one row group each, so the
    scan splits into that many tasks); returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    total = 0
    for j in range(files):
        f = os.path.join(path, f"part-{j:03d}.parquet")
        pq.write_table(table.slice(bounds[j], bounds[j + 1] - bounds[j]), f,
                       row_group_size=max(1, bounds[j + 1] - bounds[j]))
        total += os.path.getsize(f)
    return total
