"""Timestamp-layout tests re-expressed from
/root/reference/pkg/utils/patternutils_test.go (TestTimeParseTimeZone
:323-401) + the StandardTimeFormats coverage (patternutils.go:86-103)."""

from datetime import datetime, timezone

import pandas as pd

from logunifier_spark.functions.timeparse import parse_one, parse_series


def _utc(*args, us=0):
    return datetime(*args, microsecond=us, tzinfo=timezone.utc)


TZ_CASES = [
    # (input, expected UTC components) — patternutils_test.go:323-401
    ("2023-03-29T20:30:00+0000", _utc(2023, 3, 29, 20, 30, 0)),
    ("2023-03-29T20:30:00+0200", _utc(2023, 3, 29, 18, 30, 0)),
    ("2023-03-29T20:30:00-0200", _utc(2023, 3, 29, 22, 30, 0)),
    ("2023-03-29 20:50:13.931", _utc(2023, 3, 29, 20, 50, 13, us=931000)),
]

LAYOUT_CASES = [
    ("2023-03-20T15:06:45.057Z", _utc(2023, 3, 20, 15, 6, 45, us=57000)),
    ("2023-03-20 14:27:28,296", _utc(2023, 3, 20, 14, 27, 28, us=296000)),
    ("2023-03-19 21:17:04,243+0000", _utc(2023, 3, 19, 21, 17, 4, us=243000)),
    # ns truncated to µs (documented deviation: Spark timestamps are µs)
    ("2022-08-04T09:53:59.620557561Z", _utc(2022, 8, 4, 9, 53, 59, us=620557)),
    ("2023/03/20 14:27:52.652648", _utc(2023, 3, 20, 14, 27, 52, us=652648)),
    ("02/Feb/2023:15:04:05 -0700", _utc(2023, 2, 2, 22, 4, 5)),
    ("2023-03-27T18:23:45Z", _utc(2023, 3, 27, 18, 23, 45)),
    ("27/Mar/2023:18:23:45-0400", _utc(2023, 3, 27, 22, 23, 45)),
    ("2023-06-07T13:08:51+01:00", _utc(2023, 6, 7, 12, 8, 51)),
    ("2023-03-30T16:32:12.538785+02:00", _utc(2023, 3, 30, 14, 32, 12, us=538785)),
]


def test_timezone_shifts():
    for data, want in TZ_CASES:
        got = parse_one(data)
        assert got == want, f"{data!r}: {got} != {want}"


def test_all_layouts():
    for data, want in LAYOUT_CASES:
        got = parse_one(data)
        assert got == want, f"{data!r}: {got} != {want}"


def test_unparseable_returns_none():
    assert parse_one("definitely not a time") is None
    assert parse_one("") is None


def test_vectorized_matches_scalar():
    inputs = [c[0] for c in LAYOUT_CASES] + ["garbage", None]
    res = parse_series(pd.Series(inputs))
    for i, (_, want) in enumerate(LAYOUT_CASES):
        assert res.iloc[i].to_pydatetime() == want
    assert pd.isna(res.iloc[-2]) and pd.isna(res.iloc[-1])


# --- Arrow fast path vs the all-pandas reference -----------------------------

PARITY_EXTRA = [
    # Unicode digits: Python's \d matches them, RE2's does not
    "２０２３-03-20T15:06:45Z", "2023-03-2٣T15:06:45Z", "2023-03-20 14:27:28,٢96",
    # several commas
    "1,2,3", "2023-03-20 14:27:28,296,5", "2023-03-20 14:27:28,1,2+0000",
    # fractions longer than 7 digits
    "2023-03-20T15:06:45.1234567891Z", "2023/03/20 14:27:52.652648123",
    "2023-03-20 14:27:28.123456789 +0200",
    # a trailing newline (Python's $ matches before it)
    "2023-03-20T15:06:45Z\n",
    "Mon Jan  2 15:04:05 MST 2006", "Mon Jan  2 15:04:05 2006",
    "Mon Jan 02 15:04:05 -0700 2006", "Jan  2 15:04:05.000",
    "9999-01-01T00:00:00Z", "", " ", None,
]


def _same(a: pd.Series, b: pd.Series) -> bool:
    return a.dtype == b.dtype and a.index.equals(b.index) and a.equals(b)


def test_parse_series_matches_reference():
    from logunifier_spark.functions.timeparse import _parse_series_ref

    inputs = [c[0] for c in LAYOUT_CASES + TZ_CASES] + PARITY_EXTRA
    s = pd.Series(inputs, index=range(100, 100 + len(inputs)), dtype="object")
    got, want = parse_series(s), _parse_series_ref(s)
    assert _same(got, want), pd.DataFrame({"in": s, "got": got, "want": want})
    assert got.iloc[:len(LAYOUT_CASES + TZ_CASES)].notna().all()


def test_parse_series_matches_reference_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logunifier_spark.functions.timeparse import _parse_series_ref

    pieces = ["2023", "-", "03", "20", "T", " ", "  ", ":", "15", "06", "45",
              ",", ".", "057", "123456789", "Z", "+0200", "-07:00", " +0000",
              "/", "Mar", "Mon", "MST", "٣", "２", "\n", "0001"]
    mutated = st.builds(
        lambda base, i, c: base[:i % (len(base) + 1)] + c + base[i % (len(base) + 1) + 1:],
        st.sampled_from([c[0] for c in LAYOUT_CASES + TZ_CASES]),
        st.integers(0, 40), st.sampled_from(list("0٣,. Z+-:\nTa") + [""]))
    value = st.one_of(st.none(), mutated,
                      st.lists(st.sampled_from(pieces), max_size=10).map("".join))

    @settings(max_examples=400, deadline=None)
    @given(st.lists(value, max_size=8))
    def check(values):
        s = pd.Series(values, dtype="object")
        assert _same(parse_series(s), _parse_series_ref(s)), values

    check()
