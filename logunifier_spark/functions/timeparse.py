r"""Vectorized multi-layout timestamp normalization.

Re-creates /root/reference/pkg/utils/patternutils.go:86-161: try 16 Go time
layouts in order (RFC3339Nano first), parse in UTC when no zone is present,
return the first success.  Go-parser leniencies reproduced:
  - ',' and '.' are interchangeable fraction separators,
  - fractional seconds beyond microseconds are truncated (Spark timestamps
    are µs; the golden corpus asserts ≤ms — documented deviation from Go ns),
  - %z accepts Z / ±hh:mm / ±hhmm interchangeably (layout pairs that differ
    only in tz punctuation collapse into one attempt; the resulting UTC
    instant is identical to Go's).

The reference's per-service layout *cache* (patternutils.go:105-161) is a
single-process perf trick, not a semantic: the ordered coalesce here is
deterministic and branch-pruned per batch, so no cache is needed.

`parse_array` works on Arrow string arrays. For ASCII values without a
newline the layout gates and the µs trim run as RE2 kernels
(`pyarrow.compute`), and Python `re` runs only on values that contain a
',' (the fraction-comma rule needs lookarounds RE2 lacks). Values outside
that set take `_parse_series_ref`, the original all-pandas path and the
spec the fast path is pinned to (Python's `\d` matches every Unicode
digit and its `$` also matches before a final newline; RE2's do neither).
Each layout attempt is one vectorized `pd.to_datetime` call; results stay
datetime64[ns] throughout.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# fraction: unify ',' → '.' and truncate to 6 digits (µs)
_FRAC_COMMA = re.compile(r"(?<=\d),(?=\d)")
_FRAC_LONG = re.compile(r"(\.\d{6})\d+")

# Ordered layout attempts mirroring StandardTimeFormats (patternutils.go:86-103).
# Each entry: (regex gate, strptime format, has_tz). The gate keeps strptime
# attempts cheap and prevents a later layout from shadowing an earlier one.
_ATTEMPTS: list[tuple[re.Pattern, str, bool]] = [
    # RFC3339Nano / RFC3339 / "2006-01-02T15:04:05(-0700| -0700)" family
    (re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)? ?(Z|[+-]\d{2}:?\d{2})$"),
     "ISO-TZ", True),
    # time.UnixDate "Mon Jan _2 15:04:05 MST 2006"
    (re.compile(r"^[A-Z][a-z]{2} [A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2} [A-Z]{3,4} \d{4}$"),
     "UNIXDATE", False),
    # "2006/01/02 15:04:05.000000"
    (re.compile(r"^\d{4}/\d{1,2}/\d{1,2} \d{2}:\d{2}:\d{2}\.\d+$"),
     "%Y/%m/%d %H:%M:%S.%f", False),
    # "2006-01-02 15:04:05,999-0700" and "... ,999 -0700"
    (re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+ ?[+-]\d{4}$"),
     "SPACE-TZ", True),
    # "2006-01-02T15:04:05-0700" without fraction handled by ISO-TZ above
    # "2006-01-02 15:04:05,999" (naive, fraction)
    (re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+$"),
     "%Y-%m-%d %H:%M:%S.%f", False),
    # naive without fraction (Go parses via ",999" leniency)
    (re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"),
     "%Y-%m-%d %H:%M:%S", False),
    # naive ISO 'T' without zone (RFC3339 requires zone; Go would fail all 16
    # layouts — but "2006-01-02T15:04:05 -0700" handles the spaced-zone case)
    # time.ANSIC "Mon Jan _2 15:04:05 2006"
    (re.compile(r"^[A-Z][a-z]{2} [A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2} \d{4}$"),
     "ANSIC", False),
    # time.RubyDate "Mon Jan 02 15:04:05 -0700 2006"
    (re.compile(r"^[A-Z][a-z]{2} [A-Z][a-z]{2} \d{2} \d{2}:\d{2}:\d{2} [+-]\d{4} \d{4}$"),
     "RUBY", True),
    # Stamp{Milli,Micro,Nano} "Jan _2 15:04:05.000..." (year-less; see note)
    (re.compile(r"^[A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2}\.\d+$"),
     "STAMP", False),
    # "02/Jan/2006:15:04:05 -0700" / "02/Jan/2006:15:04:05-0700"
    (re.compile(r"^\d{2}/[A-Z][a-z]{2}/\d{4}:\d{2}:\d{2}:\d{2} ?[+-]\d{4}$"),
     "APACHE", True),
]


def _normalize(s: pd.Series) -> pd.Series:
    out = s.str.replace(_FRAC_COMMA, ".", regex=True)
    return out.str.replace(_FRAC_LONG, r"\1", regex=True)


def _collapse_ws(s: pd.Series) -> pd.Series:
    return s.str.replace(r"  +", " ", regex=True)


def _attempt(kind: str, vals: pd.Series) -> pd.Series:
    """Run one layout attempt; NaT where it does not apply."""
    if kind == "ISO-TZ":
        v = vals.str.replace(" +", "+", regex=False).str.replace(" -", "-", regex=False)
        return pd.to_datetime(v, format="ISO8601", errors="coerce", utc=True)
    if kind == "SPACE-TZ":
        v = vals.str.replace(" +", "+", regex=False).str.replace(" -", "-", regex=False)
        parsed = pd.to_datetime(v, format="%Y-%m-%d %H:%M:%S.%f%z", errors="coerce", utc=True)
        return parsed
    if kind == "UNIXDATE":
        # Go resolves abbreviations against the given location (UTC here):
        # unknown zone names parse with zero offset — treat all as UTC.
        v = _collapse_ws(vals).str.replace(r" [A-Z]{3,4} (\d{4})$", r" \1", regex=True)
        return pd.to_datetime(v, format="%a %b %d %H:%M:%S %Y", errors="coerce", utc=True)
    if kind == "ANSIC":
        return pd.to_datetime(_collapse_ws(vals), format="%a %b %d %H:%M:%S %Y",
                              errors="coerce", utc=True)
    if kind == "RUBY":
        return pd.to_datetime(vals, format="%a %b %d %H:%M:%S %z %Y",
                              errors="coerce", utc=True)
    if kind == "STAMP":
        # Go fills year 0 (unrepresentable in datetime); we pin year 1 and
        # document the deviation — the golden corpus never uses Stamp*.
        v = _collapse_ws(vals)
        parsed = pd.to_datetime("0001 " + v, format="%Y %b %d %H:%M:%S.%f",
                                errors="coerce", utc=True)
        return parsed
    if kind == "APACHE":
        v = vals.str.replace(r"(\d) ([+-])", r"\1\2", regex=True)
        return pd.to_datetime(v, format="%d/%b/%Y:%H:%M:%S%z", errors="coerce", utc=True)
    return pd.to_datetime(vals, format=kind, errors="coerce", utc=True)


def _parse_series_ref(s: pd.Series) -> pd.Series:
    """The all-pandas parse: the spec `parse_array` is pinned to, and its
    path for values RE2 cannot gate like Python `re` (non-ASCII, newline)."""
    s = s.astype("object")
    out = pd.Series(pd.NaT, index=s.index, dtype="datetime64[ns, UTC]")
    mask = s.notna()
    if not mask.any():
        return out
    norm = _normalize(s[mask].astype("string").astype(str))
    remaining = pd.Series(True, index=norm.index)
    for gate, fmt, _ in _ATTEMPTS:
        if not remaining.any():
            break
        idx = remaining[remaining].index
        vals = norm.loc[idx]
        gated = vals.str.match(gate)
        if not gated.any():
            continue
        gidx = gated[gated].index
        parsed = _attempt(fmt, vals.loc[gidx])
        ok = parsed.notna()
        if ok.any():
            okidx = ok[ok].index
            out.loc[okidx] = parsed.loc[okidx]
            remaining.loc[okidx] = False
    return out


# `_attempt` as Arrow kernels: per kind, the rewrites (kernel, pattern,
# replacement) applied in order, then the pd.to_datetime format. Only valid
# for ASCII values without a newline, where RE2 and Python `re` agree.
_LIT, _RE2 = pc.replace_substring, pc.replace_substring_regex
_ARROW_ATTEMPTS = {
    "ISO-TZ": ([(_LIT, " +", "+"), (_LIT, " -", "-")], "ISO8601"),
    "SPACE-TZ": ([(_LIT, " +", "+"), (_LIT, " -", "-")], "%Y-%m-%d %H:%M:%S.%f%z"),
    "UNIXDATE": ([(_RE2, "  +", " "), (_RE2, r" [A-Z]{3,4} (\d{4})$", r" \1")],
                 "%a %b %d %H:%M:%S %Y"),
    "ANSIC": ([(_RE2, "  +", " ")], "%a %b %d %H:%M:%S %Y"),
    "RUBY": ([], "%a %b %d %H:%M:%S %z %Y"),
    "STAMP": ([(_RE2, "  +", " "), (_RE2, "^", "0001 ")], "%Y %b %d %H:%M:%S.%f"),
    "APACHE": ([(_RE2, r"(\d) ([+-])", r"\1\2")], "%d/%b/%Y:%H:%M:%S%z"),
}
_FRAC_LONG_RE2 = r"(\.\d{6})\d+"


def _mask(arr: pa.Array) -> np.ndarray:
    """A boolean Arrow array as numpy (NULL = false)."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _subset(vals: pa.Array, mask: np.ndarray) -> pa.Array:
    return vals if mask.all() else vals.filter(pa.array(mask))


def _parse_fast(vals: pa.Array) -> np.ndarray:
    """`_parse_series_ref` for non-null ASCII values without a newline."""
    out = np.full(len(vals), np.datetime64("NaT"), dtype="datetime64[ns]")
    comma = pc.match_substring(vals, ",")
    if pc.any(comma).as_py():
        fixed = [_FRAC_COMMA.sub(".", v) for v in vals.filter(comma).to_pylist()]
        vals = pc.replace_with_mask(vals, comma, pa.array(fixed, pa.string()))
    vals = pc.replace_substring_regex(vals, _FRAC_LONG_RE2, r"\1")
    pos = np.arange(len(vals))  # positions of `vals` in `out`
    for gate, kind, _ in _ATTEMPTS:
        if not pos.size:
            break
        gated = _mask(pc.match_substring_regex(vals, gate.pattern))
        if not gated.any():
            continue
        v = _subset(vals, gated)
        rewrites, fmt = _ARROW_ATTEMPTS.get(kind, ([], kind))
        for kernel, pat, rep in rewrites:
            v = kernel(v, pat, rep)
        parsed = pd.to_datetime(v.to_numpy(zero_copy_only=False), format=fmt,
                                errors="coerce", utc=True).values
        ok = ~np.isnat(parsed)
        out[pos[gated][ok]] = parsed[ok]
        left = ~gated
        left[np.flatnonzero(gated)[~ok]] = True
        vals, pos = _subset(vals, left), pos[left]
    return out


def parse_array(values: pa.Array) -> np.ndarray:
    """Parse an Arrow string array into UTC datetime64[ns] (NaT on failure
    or NULL), mirroring ParseTimeUncached's ordered-first-match semantics."""
    out = np.full(len(values), np.datetime64("NaT"), dtype="datetime64[ns]")
    if values.null_count == len(values):
        return out
    fast = _mask(pc.and_(pc.string_is_ascii(values),
                         pc.invert(pc.match_substring(values, "\n"))))
    if fast.any():
        out[fast] = _parse_fast(_subset(values, fast))
    slow = ~fast & values.is_valid().to_numpy(zero_copy_only=False)
    if slow.any():
        ref = _parse_series_ref(pd.Series(_subset(values, slow).to_pylist(),
                                          dtype="object"))
        out[slow] = ref.values
    return out


def parse_series(s: pd.Series) -> pd.Series:
    """Parse a string Series into tz-aware UTC datetimes (NaT on failure)."""
    arr = pa.array(s.astype("object"), type=pa.string(), from_pandas=True)
    return pd.Series(parse_array(arr), index=s.index).dt.tz_localize("UTC")


def parse_one(value: str):
    """Scalar convenience wrapper (tests)."""
    res = parse_series(pd.Series([value]))
    v = res.iloc[0]
    return None if pd.isna(v) else v.to_pydatetime()
