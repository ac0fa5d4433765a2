"""Logfmt decoder with the reference's trash / msg-promotion semantics.

Re-creates /root/reference/pkg/utils/logfmtutils.go:27-162 (which wraps the
Loki logfmt tokenizer): scan k=v pairs; bare (valueless) words accumulate into
a space-joined "trash" buffer; duplicate keys merge values with a space; if no
kv pair decoded at all the whole line becomes `msg` plus a parse error; if
trash was caught and no `msg` key exists the trash is promoted to `msg`;
key aliases are normalized (ts/timestamp/time/t→ts, msg/message→msg,
err/error→error, traceid/tid→traceID, spanid→spanID, usr/user→user).

`decode` is pure Python and stateful per line: it is the reference.
`decode_batch` tokenizes a whole batch in one regex pass and hands back
only the lines that need `decode`'s state (bare words, duplicate keys,
escapes); a hypothesis test pins the two equal (test_logfmt.py)."""

from __future__ import annotations

import re

import numpy as np

KEY_TS = "ts"
KEY_LEVEL = "level"
KEY_MSG = "msg"
KEY_CALLER = "caller"
KEY_TRACE_ID = "traceID"
KEY_SPAN_ID = "spanID"
KEY_ERROR = "error"
KEY_USER = "user"
KEY_EVENT = "event"
KEY_TRASH = "trash"

_ALIASES = {
    "ts": KEY_TS, "timestamp": KEY_TS, "time": KEY_TS, "t": KEY_TS,
    "msg": KEY_MSG, "message": KEY_MSG,
    "level": KEY_LEVEL,
    "err": KEY_ERROR, "error": KEY_ERROR,
    "caller": KEY_CALLER,
    "traceid": KEY_TRACE_ID, "tid": KEY_TRACE_ID,
    "spanid": KEY_SPAN_ID,
    "user": KEY_USER, "usr": KEY_USER,
    "event": KEY_EVENT,
}

_UNESCAPE = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\", "/": "/"}


def normalize_key(key: str) -> str:
    """logfmtutils.go:136-162 — alias normalization (case-insensitive)."""
    return _ALIASES.get(key.lower(), key)


# One compiled pass in C instead of the char-by-char scanner below — the
# scanner is kept as `_tokenize_ref` and pinned byte-equal by a hypothesis
# parity test (test_logfmt.py). Alternation order matters: k=v (quoted value
# tried before bare so a leading '"' always takes the quoted branch), then
# bare word, then stray-'"' skip. The trailing `\\?` in the quoted branch
# absorbs a lone backslash at end-of-input exactly like the scanner's
# `i + 1 < n` guard.
_TOKEN_RE = re.compile(
    r'[ \t\r\n]*'
    r'(?:([^ \t\r\n="]*)='              # 1: key (may be empty) '='
    r'(?:"((?:[^"\\]|\\.)*\\?)"?'       # 2: quoted value
    r'|([^ \t\r\n]*))'                  # 3: bare value (may be empty)
    r'|([^ \t\r\n="]+)'                 # 4: bare word
    r'|")',                             # stray quote: consumed, no token
    re.DOTALL,                          # escaped NEWLINE inside quotes (\\.)
)
_ESC_RE = re.compile(r"\\(.)", re.DOTALL)


def _unescape_match(m: "re.Match[str]") -> str:
    return _UNESCAPE.get(m.group(1), m.group(1))


def _tokenize(line: str) -> list[tuple[str, str | None]]:
    """Scan (key, value|None) pairs, logfmt-style — regex fast path,
    byte-equal to `_tokenize_ref` (hypothesis-pinned)."""
    out: list[tuple[str, str | None]] = []
    append = out.append
    sub = _ESC_RE.sub
    for m in _TOKEN_RE.finditer(line):
        key, quoted, bare, word = m.group(1, 2, 3, 4)
        if word is not None:
            append((word, None))
        elif key is not None:
            if quoted is not None:
                if "\\" in quoted:
                    quoted = sub(_unescape_match, quoted)
                append((key, quoted))
            else:
                append((key, bare))
        # else: stray quote, no token
    return out


def _tokenize_ref(line: str) -> list[tuple[str, str | None]]:
    """The original character scanner — the SPEC for _tokenize. Kept for
    the parity test; not used in the hot path."""
    out: list[tuple[str, str | None]] = []
    i, n = 0, len(line)
    while i < n:
        # skip inter-token whitespace
        while i < n and line[i] in " \t\r\n":
            i += 1
        if i >= n:
            break
        # key: run until '=', whitespace or '"'
        k0 = i
        while i < n and line[i] not in ' \t\r\n="':
            i += 1
        key = line[k0:i]
        if i < n and line[i] == "=":
            i += 1
            if i < n and line[i] == '"':
                # quoted value (may contain newlines / escapes)
                i += 1
                buf: list[str] = []
                closed = False
                while i < n:
                    c = line[i]
                    if c == "\\" and i + 1 < n:
                        buf.append(_UNESCAPE.get(line[i + 1], line[i + 1]))
                        i += 2
                        continue
                    if c == '"':
                        i += 1
                        closed = True
                        break
                    buf.append(c)
                    i += 1
                out.append((key, "".join(buf)))
                if not closed:
                    # unterminated quote: keep what we have (lenient)
                    pass
            else:
                v0 = i
                while i < n and line[i] not in " \t\r\n":
                    i += 1
                out.append((key, line[v0:i]))
        elif key:
            out.append((key, None))  # bare word
        else:
            i += 1  # stray '"' etc.
    return out


def _is_key(word: str, rest: str) -> tuple[str, bool]:
    """logfmtutils.go:87-112 — find the first whitespace-field of `rest`
    containing `word`; it is "a key" iff that field contains '='; returns the
    remaining fields re-joined. (Reference shape, kept for unit parity;
    decode() uses the O(1)-amortized pointer scan below instead — calling
    this per token re-splits the remainder and is O(n²) on long lines.)"""
    fields = rest.split()
    for idx, cur in enumerate(fields):
        if word in cur:
            return " ".join(fields[idx + 1:]), "=" in cur
    return rest, False


def decode(line: str) -> tuple[dict[str, str], list[str]]:
    """DecodeLogFmt (logfmtutils.go:27-85). Returns (result, errors);
    errors joined with '\\n' reproduce the Go errors.Join string."""
    errors: list[str] = []
    result: dict[str, str] = {}
    if not line:
        return result, ["empty log not expected"]

    # the isKey scan over a shrinking remainder, without re-splitting the
    # remainder per token (the reference's rest-string shape is O(n²) on
    # long lines — measured 10 s on a 20k-token line; this is linear).
    # Hot-loop locals: alias lookup inlined (normalize_key is ~15% of
    # decode at 100k lines/s), fields[ptr] probed before the scan loop
    # (tokens align 1:1 with fields except inside space-spanning quotes).
    fields = line.split()
    nf = len(fields)
    ptr = 0
    acc: dict[str, list[str]] = {}
    trash: list[str] = []
    alias = _ALIASES.get
    for key, value in _tokenize(line):
        if ptr < nf and key in fields[ptr]:
            found_is_key = "=" in fields[ptr]
            ptr += 1
        else:
            found_is_key = False
            for idx in range(ptr + 1, nf):
                if key in fields[idx]:
                    ptr = idx + 1
                    found_is_key = "=" in fields[idx]
                    break
        k = key.lower()
        k = alias(k, key)
        if value is None and not found_is_key:
            trash.append(k)
        else:
            # duplicate keys merge with a space — accumulate and join once
            acc.setdefault(k, []).append(value if value is not None else "")
    result = {k: " ".join(v) for k, v in acc.items()}

    if not result:
        errors.append("could not extract key value pairs")
        result[KEY_MSG] = line
    elif trash:
        if not result.get(KEY_MSG, ""):
            result[KEY_MSG] = " ".join(trash)
            errors.append("is not in logfmt")
        else:
            result[KEY_TRASH] = " ".join(trash)
            errors.append("log fmt trash caught")
    return result, errors


# decode_batch: lines joined by _SEP and tokenized by one findall. The token
# grammar is _TOKEN_RE's with _SEP excluded from every class and matched as
# a token of its own, and without escapes (lines with a backslash take
# `decode`), so within a line it scans exactly like _TOKEN_RE.
_SEP = "\x00"
_BATCH_TOKEN_RE = re.compile(
    r'[ \t\r\n]*'
    r'(?:([^ \t\r\n="\x00]*)(=)'       # 1: key (may be empty), 2: '='
    r'(?:"([^"\x00]*)"?'                # 3: quoted value
    r'|([^ \t\r\n\x00]*))'              # 4: bare value (may be empty)
    r'|([^ \t\r\n="\x00]+)'            # 5: bare word
    r'|(\x00)'                          # 6: line separator
    r'|")',                             # stray quote: consumed, no token
)


def decode_batch(lines) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """`decode` over many lines at once, for the lines it can do without
    per-line state. Returns (line, key, value, exact): one entry per decoded
    pair, in line then pair order, with aliased keys; and the positions of
    the lines left for `decode` (a bare word, a repeated key after aliasing,
    a backslash, the separator character, or no key=value pair). A decoded
    line's pairs are `decode(line)`'s result, in order, with no errors."""
    lines = np.asarray(lines, dtype=object)
    special = np.fromiter((("\\" in s) or (_SEP in s) for s in lines), bool,
                          len(lines))
    cand = np.flatnonzero(~special)
    # a no-op stray-quote token keeps the columns defined for empty input
    toks = _BATCH_TOKEN_RE.findall(_SEP.join(lines[cand].tolist())) or [("",) * 6]
    key, eq, quoted, bare, word, sep = zip(*toks)

    def flag(col) -> np.ndarray:
        return np.fromiter(map(bool, col), bool, len(col))

    row = np.cumsum(flag(sep))           # token -> position in cand
    kv = np.flatnonzero(flag(eq))
    krow = row[kv]
    bad = np.bincount(krow, minlength=cand.size) == 0
    bad[row[flag(word)]] = True
    # aliased keys as integer codes (by hashing), to find repeats per line
    raw = np.array(key, dtype=object)[kv]
    aliased = {k: normalize_key(k) for k in set(raw)}
    codes = {a: c for c, a in enumerate(dict.fromkeys(aliased.values()))}
    code_of = {k: codes[a] for k, a in aliased.items()}
    code = np.fromiter(map(code_of.__getitem__, raw), np.int64, kv.size)
    width = max(1, len(codes))
    pair = np.sort(krow * width + code)
    bad[pair[1:][pair[1:] == pair[:-1]] // width] = True

    keep = np.flatnonzero(~bad[krow])
    sel = kv[keep]
    vals = np.array(quoted, dtype=object)[sel] + np.array(bare, dtype=object)[sel]
    exact = np.sort(np.concatenate([np.flatnonzero(special), cand[bad]]))
    names = np.array(list(codes), dtype=object)
    return cand[krow[keep]], names[code[keep]], vals, exact
