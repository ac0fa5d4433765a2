"""The parse core: one Arrow UDF over (text, pattern_key).

Re-creates the extractor chain of the reference
(/root/reference/pkg/patterns/patternfactory.go:113-165 dispatch,
patternGrokTsLevelMsg.go:16-105, patternLogfmt.go:18-170,
patternDefault.go) as a single `arrow_udf` returning a StructArray:

  - grok keys (TsLevelMsg / Envoy / Traefik) run one `search` per row
    against the per-executor-compiled regex bank, reading only the
    registered groups (the bank stays on Python `re`: RE2 has no
    lookarounds or atomic groups, which BASE10NUM / TIME / YEAR use);
  - LogFmt rows are tokenized batch-at-a-time (`logfmt.decode_batch`) and
    mapped column-wise; lines that need the stateful decoder (bare words,
    repeated keys, escapes) run the per-row `logfmt.decode`;
  - Nop copies the raw message and leaves level untouched;
  - Clf / Unknown (unmapped keys) reproduce the factory's default branch:
    parse error + Nop behavior (patternfactory.go:156-163);
  - Ecs rows are untouched here — the native from_json branch in
    pipeline.py handles them (it passes their text as NULL).

Per-row Python remains in the grok `search` loop and the exact logfmt
path. Timestamp strings from all rows are normalized in one pass
(functions/timeparse.py). The output arrays are built directly in Arrow;
everything downstream is native Spark SQL.
"""

from __future__ import annotations

import gc
from contextlib import contextmanager
from itertools import repeat

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from logunifier_spark.functions import grok, logfmt
from logunifier_spark.functions.levels import STRING_TO_LEVEL
from logunifier_spark.functions.timeparse import parse_array

GROK_KEYS = ("TsLevelMsg", "Envoy", "Traefik")

PARSE_RESULT_SCHEMA = StructType([
    StructField("ts", TimestampType()),          # parsed event ts (None = keep fallback)
    StructField("message", StringType()),        # None = extractor did not touch
    StructField("level", StringType()),          # canonical name; None = untouched
    StructField("labels", MapType(StringType(), StringType())),
    StructField("origin_file", StringType()),
    StructField("origin_line", StringType()),
    StructField("error_message", StringType()),  # logfmt `error` key
    StructField("trace_id", StringType()),
    StructField("span_id", StringType()),
    StructField("parse_error", StringType()),    # ProcessError.Reason contribution
])

# the exact Arrow type the JVM expects back (ts is timestamp[us, UTC])
_ARROW_TYPE = to_arrow_type(PARSE_RESULT_SCHEMA)
_STR_COLS = [f.name for f in PARSE_RESULT_SCHEMA.fields
             if f.name not in ("ts", "labels")]

_TS_ERR = "Can't find timestamp for {s}"
_GROK_NOMATCH_ERR = "Can't find timestamp\nCan't find a message"
_KNOWN_KEYS = frozenset(GROK_KEYS) | {"LogFmt", "Nop", "Ecs"}
# logfmt keys the chain consumes, as small codes; the rest spill to labels
# (spanID only goes with a traceID, see _parse_logfmt_rows)
_LOGFMT_CODE = {k: i for i, k in enumerate([
    logfmt.KEY_TS, logfmt.KEY_MSG, logfmt.KEY_ERROR, logfmt.KEY_CALLER,
    logfmt.KEY_LEVEL, logfmt.KEY_TRACE_ID, logfmt.KEY_SPAN_ID])}


def _obj(values) -> np.ndarray:
    """A 1-D numpy object array of `values` (a sequence of str / None)."""
    out = np.empty(len(values), dtype=object)
    out[:] = values
    return out


def _level(raw: str | None) -> str | None:
    """StringToLogLevel (model/utils.go:13-20): lowercase alias lookup,
    miss -> unknown. None stays None (level untouched)."""
    return None if raw is None else STRING_TO_LEVEL.get(raw.lower(), "unknown")


def _per_distinct(fn, values) -> list:
    """[fn(v) for v in values], calling fn once per distinct value."""
    memo = {v: fn(v) for v in set(values)}
    return list(map(memo.__getitem__, values))


def _split_caller(caller: str) -> tuple[str, str]:
    """caller -> (file, line); the line only when exactly file:line
    (patternLogfmt.go:96-101)."""
    split = caller.split(":")
    return split[0], split[1] if len(split) == 2 else "-1"


class _Batch:
    """Positional working state for one Arrow batch."""

    def __init__(self, n: int):
        self.n = n
        self.cols = {c: np.full(n, None, dtype=object) for c in _STR_COLS}
        self.labels: list = []    # (rows, keys, values) chunks
        self.ts_idx: list = []    # positional indices with a ts string
        self.ts_val: list = []    # the raw ts strings

    def add_labels(self, rows, keys, values) -> None:
        if len(rows):
            self.labels.append((np.asarray(rows, dtype=np.int64),
                                _obj(keys), _obj(values)))

    def append_error(self, i: int, err: str) -> None:
        pe = self.cols["parse_error"]
        pe[i] = err if pe[i] is None else f"{pe[i]}\n{err}"

    def labels_array(self) -> pa.MapArray:
        """One map per row (empty, never NULL, for untouched rows). A row's
        entries come from one chunk, in insertion order; a stable sort by
        row keeps that order."""
        counts = np.zeros(self.n, dtype=np.int32)
        keys = vals = _obj([])
        if self.labels:
            rows, keys, vals = (np.concatenate(c) for c in zip(*self.labels))
            order = np.argsort(rows, kind="stable")
            keys, vals = keys[order], vals[order]
            counts = np.bincount(rows, minlength=self.n).astype(np.int32)
        offsets = np.zeros(self.n + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        return pa.MapArray.from_arrays(
            offsets, pa.array(keys, pa.string()), pa.array(vals, pa.string()),
            type=_ARROW_TYPE.field("labels").type)


def _parse_grok_rows(b: _Batch, texts: np.ndarray, idx: np.ndarray,
                     key: str) -> None:
    rx = grok.compiled(key)
    names = [g for g in rx.groupindex if g in grok.REGISTERED_KEYS]
    gids = [rx.groupindex[g] for g in names]
    miss = (None,) * len(gids)
    search = rx.search
    # every grok key registers timestamp, message and level, so group()
    # always returns a tuple
    found = [m.group(*gids) if m else miss for m in map(search, texts[idx])]
    g = {name: _obj(col) for name, col in zip(names, zip(*found))}
    ts = g["timestamp"]
    matched = ts != None  # noqa: E711 (elementwise)

    # message(): found -> captured; missing -> raw + error
    b.cols["message"][idx] = np.where(matched, g["message"], texts[idx])

    # logInfo(): level, origin+originline (Traefik)
    b.cols["level"][idx] = _per_distinct(_level, g["level"])
    if "origin" in g and "originline" in g:
        both = (g["origin"] != None) & (g["originline"] != None)  # noqa: E711
        b.cols["origin_file"][idx[both]] = g["origin"][both]
        b.cols["origin_line"][idx[both]] = g["originline"][both]

    # leftover registered keys -> labels["pattern_"+k]
    # (patternGrokTsLevelMsg.go:96-104; only `thread` can remain)
    if "thread" in g:
        has = np.flatnonzero(g["thread"] != None)  # noqa: E711
        b.add_labels(idx[has], ["pattern_thread"] * has.size, g["thread"][has])

    # timeStamp(): collect for the batch-wide timestamp parse
    b.ts_idx.append(idx[matched])
    b.ts_val.append(ts[matched])

    # unmatched rows: errors in chain order (timeStamp -> message)
    b.cols["parse_error"][idx[~matched]] = _GROK_NOMATCH_ERR


def _parse_logfmt_rows(b: _Batch, texts: np.ndarray, idx: np.ndarray) -> None:
    # chain order (types.go:68-84): from -> timeStamp -> message ->
    # errorInfo -> logInfo(caller, level) -> tracingInfo -> extract.
    # userInfo/eventInfo are NOT in the chain (verbatim reference quirk):
    # user/event keys spill to labels.
    c = b.cols
    rows, keys, vals, exact = logfmt.decode_batch(texts[idx])
    rows = idx[rows]

    code = np.fromiter(map(_LOGFMT_CODE.get, keys, repeat(-1)), np.int8, len(keys))

    def take(k):
        sel = code == _LOGFMT_CODE[k]
        return rows[sel], vals[sel]

    r, v = take(logfmt.KEY_TS)
    b.ts_idx.append(r)
    b.ts_val.append(v)
    r, v = take(logfmt.KEY_MSG)
    c["message"][r] = v
    r, v = take(logfmt.KEY_ERROR)
    c["error_message"][r] = v
    r, v = take(logfmt.KEY_CALLER)
    split = _per_distinct(_split_caller, v)
    c["origin_file"][r] = [f for f, _ in split]
    c["origin_line"][r] = [ln for _, ln in split]
    r, v = take(logfmt.KEY_LEVEL)
    c["level"][r] = _per_distinct(_level, v)
    r, v = take(logfmt.KEY_TRACE_ID)
    c["trace_id"][r] = v
    # spanID is consumed only together with traceID (patternLogfmt.go:144-158)
    has_trace = np.zeros(b.n, dtype=bool)
    has_trace[r] = True
    is_span = code == _LOGFMT_CODE[logfmt.KEY_SPAN_ID]
    span = is_span & has_trace[rows]
    c["span_id"][rows[span]] = vals[span]
    # ALL remaining keys spill (patternLogfmt.go:161-169)
    rest = (code < 0) | (is_span & ~span)
    b.add_labels(rows[rest], "logfmt_" + keys[rest], vals[rest])

    # lines the batch tokenizer left to the stateful per-row decoder
    ts_i, ts_v, lab_r, lab_k, lab_v = [], [], [], [], []
    for i in idx[exact]:
        kv, errs = logfmt.decode(texts[i])
        if logfmt.KEY_TS in kv:
            ts_i.append(i)
            ts_v.append(kv.pop(logfmt.KEY_TS))
        if logfmt.KEY_MSG in kv:
            c["message"][i] = kv.pop(logfmt.KEY_MSG)
        if logfmt.KEY_ERROR in kv:
            c["error_message"][i] = kv.pop(logfmt.KEY_ERROR)
        if logfmt.KEY_CALLER in kv:
            c["origin_file"][i], c["origin_line"][i] = _split_caller(
                kv.pop(logfmt.KEY_CALLER))
        if logfmt.KEY_LEVEL in kv:
            c["level"][i] = _level(kv.pop(logfmt.KEY_LEVEL))
        if logfmt.KEY_TRACE_ID in kv:
            c["trace_id"][i] = kv.pop(logfmt.KEY_TRACE_ID)
            c["span_id"][i] = kv.pop(logfmt.KEY_SPAN_ID, None)
        for k, v in kv.items():
            lab_r.append(i)
            lab_k.append("logfmt_" + k)
            lab_v.append(v)
        if errs:
            c["parse_error"][i] = "\n".join(errs)
    b.add_labels(lab_r, lab_k, lab_v)
    b.ts_idx.append(np.asarray(ts_i, dtype=np.int64))
    b.ts_val.append(_obj(ts_v))


def _as_string_array(values) -> pa.Array:
    if isinstance(values, pa.Array):
        return values
    return pa.array(values, type=pa.string(), from_pandas=True)


@contextmanager
def _gc_paused():
    """A batch allocates ~10^5 tuples (grok groups, logfmt tokens) that all
    live to its end; each allocation threshold would start a collection
    that scans them and the worker's whole heap without freeing anything
    (measured 10-25% of the batch). The batch creates no reference cycles."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if enabled:
            gc.enable()


def parse_batch(text: pa.Array, pattern_key: pa.Array) -> pa.Array:
    """One Arrow batch through the extractor bank -> a StructArray of
    PARSE_RESULT_SCHEMA. Pure function of its inputs — the UDF body and the
    unit tests' entry point; pandas Series inputs are converted."""
    with _gc_paused():
        return _parse_batch(_as_string_array(text),
                            _as_string_array(pattern_key))


def _parse_batch(text: pa.Array, keys: pa.Array) -> pa.StructArray:
    n = len(text)
    texts = pc.fill_null(text, "").to_numpy(zero_copy_only=False)
    b = _Batch(n)

    enc = keys.dictionary_encode()
    codes = pc.fill_null(enc.indices, -1).to_numpy(zero_copy_only=False)
    for j, key in enumerate(enc.dictionary.to_pylist()):
        idx = np.flatnonzero(codes == j)
        if key in GROK_KEYS:
            _parse_grok_rows(b, texts, idx, key)
        elif key == "LogFmt":
            _parse_logfmt_rows(b, texts, idx)
        elif key == "Nop":
            # Nop copies the raw message and leaves level UNTOUCHED — the
            # reference's Nop extractor keeps the MetaLog's fallback level
            # (PRIORITY-derived for journald; absent → unknown downstream)
            # (patternfactory.go:119-121,156-163)
            b.cols["message"][idx] = texts[idx]
        elif key not in _KNOWN_KEYS:
            # factory default branch: unmapped enum keys (Clf / Unknown) ->
            # parse error + Nop behavior (patternfactory.go:156-163)
            b.cols["message"][idx] = texts[idx]
            err = (f"The identified PatternKey {key} by the "
                   f"ingress is not mapped to a pattern extractor")
            for i in idx:
                b.append_error(i, err)

    # one timestamp pass for the whole batch, datetime64 end to end
    ts = np.full(n, np.datetime64("NaT"), dtype="datetime64[ns]")
    if b.ts_idx:
        all_idx = np.concatenate(b.ts_idx)
        all_val = np.concatenate(b.ts_val)
        parsed = parse_array(pa.array(all_val, pa.string()))
        ok = ~np.isnat(parsed)
        ts[all_idx[ok]] = parsed[ok]
        # timeStamp() runs right after from() in the chain: the ts error is
        # appended after any decode error (logfmt) and there can be no
        # earlier error for grok-matched rows
        for j in np.flatnonzero(~ok):
            b.append_error(all_idx[j], _TS_ERR.format(s=all_val[j]))

    arrays = {
        "ts": pa.array(ts, pa.timestamp("ns", tz="UTC"), from_pandas=True)
                .cast(_ARROW_TYPE.field("ts").type, safe=False),
        "labels": b.labels_array(),
    }
    for c in _STR_COLS:
        arrays[c] = pa.array(b.cols[c], pa.string())
    return pa.StructArray.from_arrays([arrays[f.name] for f in _ARROW_TYPE],
                                      fields=list(_ARROW_TYPE))


parse_turns = F.arrow_udf(parse_batch, returnType=PARSE_RESULT_SCHEMA)
