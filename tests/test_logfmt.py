"""Golden logfmt-decode tests re-expressed from
/root/reference/pkg/utils/logfmtutils_test.go (TestValidKvs :45-141,
TestInValidKvs :142-214, TestIsKey :9-44)."""

from logunifier_spark.functions.logfmt import _is_key, decode

VALID = [
    ("a=1", {"a": "1"}),
    ("a=1 b=2", {"a": "1", "b": "2"}),
    ("a=1 b=1 d=", {"a": "1", "b": "1", "d": ""}),
    ('a=1 b=1 d=""', {"a": "1", "b": "1", "d": ""}),
    ('a=1 b=1 multiline="line1\nline2"',
     {"a": "1", "b": "1", "multiline": "line1\nline2"}),
    ('multiline="line1\nline2"', {"multiline": "line1\nline2"}),
    ("a= b= c=2", {"a": "", "b": "", "c": "2"}),
    ("a@1=2 b= c=2", {"a@1": "2", "b": "", "c": "2"}),
]

INVALID = [
    ("you got it a=1 b= ", {"a": "1", "b": "", "msg": "you got it"}),
    ("a=1 you got it b= ", {"a": "1", "b": "", "msg": "you got it"}),
    ("a=1 b= you got it", {"a": "1", "b": "", "msg": "you got it"}),
    ('ts msg level is info msg="the only valid stuff here" spanID msg user not valid msg="is 42"',
     {"msg": "the only valid stuff here is 42",
      "trash": "ts msg level is info spanID msg user not valid"}),
    ("The only message here is gabare@localhost",
     {"msg": "The only message here is gabare@localhost"}),
]


def test_valid_kvs():
    for data, want in VALID:
        got, errs = decode(data)
        assert got == want, f"{data!r}: {got}"
        assert errs == [], f"{data!r}: unexpected errors {errs}"


def test_invalid_kvs():
    for data, want in INVALID:
        got, errs = decode(data)
        assert got == want, f"{data!r}: {got}"
        assert errs, f"{data!r}: expected an error"


def test_empty_log():
    got, errs = decode("")
    assert got == {} and errs == ["empty log not expected"]


def test_is_key_walk():
    # TestIsKey (logfmtutils_test.go:9-44)
    word = "a=1 b=1 d="
    word, is_k = _is_key("a", word)
    assert is_k and word == "b=1 d="
    word, is_k = _is_key("b", word)
    assert is_k and word == "d="
    word, is_k = _is_key("d", word)
    assert is_k and word == ""
    word, is_k = _is_key("d", word)
    assert not is_k and word == ""


def test_key_alias_normalization():
    got, _ = decode('time=2023-01-01T00:00:00Z message="hi" err=boom tid=42 usr=bob spanid=7')
    assert got == {"ts": "2023-01-01T00:00:00Z", "msg": "hi", "error": "boom",
                   "traceID": "42", "user": "bob", "spanID": "7"}


def test_duplicate_keys_merge_with_space():
    got, _ = decode("k=a k=b k=c")
    assert got == {"k": "a b c"}


def test_tokenize_regex_matches_scanner_reference():
    # the regex fast path must be BYTE-EQUAL to the character scanner spec
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logunifier_spark.functions.logfmt import _tokenize, _tokenize_ref

    alphabet = st.sampled_from(list('ab=" \t\r\n\\xyz0'))

    @settings(max_examples=2000, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=40))
    def check(line):
        assert _tokenize(line) == _tokenize_ref(line)

    check()
    # targeted nasties: quotes, escapes, trailing backslash, empty keys
    for line in ['k="a\\"', 'k="a\\', 'k="ab\\\\"', '="v"', 'a=b"c',
                 '"bare" x=1', 'k="multi\nline" y', 'a=b=c d', 'k=""',
                 'k=" " ts=1 "', "\\", 'x=\\n']:
        assert _tokenize(line) == _tokenize_ref(line), line


# --- batch decoder -----------------------------------------------------------

_KEYS = ["a", "A", "b", "ts", "TS", "time", "msg", "message", "level",
         "caller", "err", "traceID", "tid", "spanID", "spanid", "user",
         "\u212aey", "key", "K\u212a", ""]
_VALUES = ["1", "x", "", '"two words"', '"a\\"b"', '"unterminated', '""',
           "info", "main.go:12", "a:b:c", "2023-03-20T15:06:45Z", '"\x00"',
           "\x00", "C:\\dir", 'b"c', "=", '"multi\nline"']
_WORDS = ["you", "got", "it", '"', "\x00", "\u212a", "ts", "=x"]
_SPACES = [" ", "  ", "\t", "\n", " \r\n "]


def _line_strategy():
    from hypothesis import strategies as st

    pair = st.builds(lambda k, v: f"{k}={v}", st.sampled_from(_KEYS),
                     st.sampled_from(_VALUES))
    piece = st.one_of(pair, pair, st.sampled_from(_WORDS))
    structured = st.builds(
        lambda ps, sp: "".join(p + s for p, s in zip(ps, sp)),
        st.lists(piece, max_size=8),
        st.lists(st.sampled_from(_SPACES), min_size=8, max_size=8))
    free = st.text(alphabet=st.sampled_from(list('aAk\u212a=" \t\n\\\x00:')),
                   max_size=30)
    return st.one_of(structured, free)


def test_decode_batch_matches_decode():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logunifier_spark.functions.logfmt import _SEP, decode_batch

    @settings(max_examples=600, deadline=None)
    @given(st.lists(_line_strategy(), max_size=12))
    def check(lines):
        rows, keys, vals, exact = decode_batch(lines)
        assert np.all(np.diff(rows) >= 0)
        for j, line in enumerate(lines):
            kv, errs = decode(line)
            if j in exact:
                continue
            # a line the batch decoded is one decode handles without state
            assert errs == [], (line, errs)
            assert _SEP not in line and "\\" not in line
            got = [(k, v) for r, k, v in zip(rows, keys, vals) if r == j]
            assert got == list(kv.items()), line
        # every line with errors was left to decode
        for j, line in enumerate(lines):
            if decode(line)[1]:
                assert j in exact, line

    check()
    rows, keys, vals, exact = decode_batch(
        ["A=1 a=2", "ts=1 TS=2", "\u212aey=1 key=2", "", "a=1\x00b=2",
         'k="a\\"b"', "you got it a=1", "spanID=1"])
    assert list(exact) == [1, 3, 4, 5, 6]
    assert list(zip(rows, keys, vals)) == [
        (0, "A", "1"), (0, "a", "2"), (2, "\u212aey", "1"), (2, "key", "2"),
        (7, "spanID", "1")]


def _parse_logfmt(texts, exact_only=False):
    """parse_batch over LogFmt rows; exact_only sends every line through the
    per-row `decode` path (the reference)."""
    from unittest import mock

    import numpy as np
    import pyarrow as pa

    from logunifier_spark.functions import logfmt
    from logunifier_spark.operators.parse import parse_batch

    def all_exact(lines):
        none = np.empty(0, dtype=object)
        return np.empty(0, np.int64), none, none, np.arange(len(lines))

    args = (pa.array(texts, pa.string()), pa.array(["LogFmt"] * len(texts)))
    if not exact_only:
        return parse_batch(*args)
    with mock.patch.object(logfmt, "decode_batch", all_exact):
        return parse_batch(*args)


def test_parse_batch_logfmt_matches_per_row_decode():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(_line_strategy(), st.none()), max_size=12))
    def check(texts):
        got = _parse_logfmt(texts)
        want = _parse_logfmt(texts, exact_only=True)
        assert got.equals(want), (texts, got.to_pylist(), want.to_pylist())

    check()
    texts = ["spanID=1 a=2", "traceID=t spanID=s", "traceID=t", "", None,
             "\x00", "ts=2023-03-20T15:06:45Z level=WRN caller=x.go:1:2"]
    got = _parse_logfmt(texts)
    assert got.equals(_parse_logfmt(texts, exact_only=True))
    rows = got.to_pylist()
    assert rows[0]["span_id"] is None
    assert rows[0]["labels"] == [("logfmt_spanID", "1"), ("logfmt_a", "2")]
    assert (rows[1]["trace_id"], rows[1]["span_id"]) == ("t", "s")
    assert rows[4]["parse_error"] == "empty log not expected"
