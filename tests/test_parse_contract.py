"""Arrow contract of the parse UDF body (`parse_batch`), no Spark.

EXPECTED is the pandas-UDF implementation's output on the same rows (the
golden lines plus adversarial rows), as Spark's pandas-UDF serializer
converted it; the Arrow implementation must return it value for value,
with the exact Arrow type the JVM expects back."""

from datetime import datetime

import pyarrow as pa
import pytest

from logunifier_spark.fixtures import GOLDEN_LINES
from logunifier_spark.operators.parse import PARSE_RESULT_SCHEMA, parse_batch

_KEY = {"tslevelmsg": "TsLevelMsg", "envoy": "Envoy", "traefik": "Traefik",
        "logfmt": "LogFmt", "nop": "Nop", "ecs": "Ecs"}

ADVERSARIAL = [
    (None, "TsLevelMsg"), (None, "LogFmt"), (None, "Nop"),
    # Ecs rows are untouched, with or without their text
    (None, "Ecs"), ('{"message":"native"}', "Ecs"),
    # unmapped keys: factory default branch
    ("127.0.0.1 - - [x] GET", "Clf"), ("anything", "Unknown"), (None, "Clf"),
    ("no key at all", None),
    # ns fraction truncated to µs
    ("2022-08-04T09:53:59.620557561Z INFO ns fraction", "TsLevelMsg"),
    ("2023-03-20 14:27:28,296 WARN [main] comma fraction", "TsLevelMsg"),
    ("9999-01-01T00:00:00Z INFO out of datetime64 range", "TsLevelMsg"),
    ("2024-12-19T18:22:09Z DBG no origin here", "Traefik"),
    ("[2023-03-30 10:51:43.705][42][critical][x] boom", "Envoy"),
    ("ts=bogus level=WARN caller=a:b:c msg=hi", "LogFmt"),
    ("spanID=1 a=2", "LogFmt"),
    ("traceID=t1 spanID=s1 A=1 a=2 err=boom", "LogFmt"),
    ('k="a\\"b" ts=2023-01-01T00:00:00Z', "LogFmt"),
    ("", "LogFmt"),
    ("ts=1 TS=2", "LogFmt"),
    ("a=1\x00b=2", "LogFmt"),
    ('k="unterminated', "LogFmt"),
    ("level=notalevel msg= caller=main.go:12", "LogFmt"),
    ("Key=1 key=2 time=2023-03-10T18:53:52Z", "LogFmt"),
]


def contract_rows() -> tuple[list, list]:
    rows = [(line, _KEY[tool]) for tool, line in GOLDEN_LINES] + ADVERSARIAL
    return [t for t, _ in rows], [k for _, k in rows]


EXPECTED = [
    {
        'ts': '2023-03-20T15:06:45.057000+00:00',
        'message': 'nomad: memberlist: Stream connection from=127.0.0.1:48046',
        'level': 'debug',
        'labels': [],
    },
    {
        'ts': '2023-03-19T21:17:04.243000+00:00',
        'message': '[FelixStartLevel] bundle org.apache.felix.scr:2.1.30 (54) Starting',
        'level': 'info',
        'labels': [],
    },
    {
        'ts': '2023-03-20T14:27:52.652648+00:00',
        'message': 'Server is ready',
        'level': 'info',
        'labels': [],
    },
    {
        'ts': '2023-03-29T20:50:13.931000+00:00',
        'message': 'Server is ready',
        'level': 'info',
        'labels': [],
    },
    {
        'ts': '2025-02-12T17:16:50.575363+00:00',
        'message': 'Processor EcsLogChannel Nothing received after 10s',
        'level': 'warn',
        'labels': [],
    },
    {
        'message': 'Invalid message',
        'parse_error': "Can't find timestamp\nCan't find a message",
        'labels': [],
    },
    {
        'ts': '2023-03-30T10:51:43.705000+00:00',
        'message': '[upstream] [source/common/upstream/upstream_impl.cc:451] transport socket match',
        'level': 'debug',
        'labels': [('pattern_thread', '42')],
    },
    {
        'ts': '2023-03-30T10:51:43.705000+00:00',
        'message': 'ing][config] [source/server/config.cc:91] gRPC config stream closed',
        'level': 'warn',
        'labels': [('pattern_thread', '7')],
    },
    {
        'ts': '2024-12-19T18:22:09+00:00',
        'message': 'Filtering disabled item providerName=consulcatalog',
        'level': 'debug',
        'origin_file': 'github.com/traefik/traefik/v3/pkg/provider/consulcatalog/consul_catalog.go',
        'origin_line': '287',
        'labels': [],
    },
    {
        'ts': '2024-12-19T18:22:10+00:00',
        'message': 'Router up routerName=web',
        'level': 'info',
        'origin_file': 'github.com/traefik/traefik/v3/pkg/server/router.go',
        'origin_line': '102',
        'labels': [],
    },
    {
        'ts': '2023-03-10T18:53:52.739622+00:00',
        'message': 'error collecting stats for unit',
        'level': 'error',
        'origin_file': 'health.go',
        'origin_line': '87',
        'error_message': 'permission denied',
        'labels': [],
    },
    {
        'ts': '2023-03-16T20:43:56.936517+00:00',
        'message': 'Initialized channel handler',
        'level': 'info',
        'labels': [('logfmt_logger', 'live'), ('logfmt_channel', 'grafana'), ('logfmt_path', 'grafana')],
    },
    {
        'labels': [('logfmt_a', '1'), ('logfmt_b', '2'), ('logfmt_c', '3')],
    },
    {
        'message': 'you got it',
        'parse_error': 'is not in logfmt',
        'labels': [('logfmt_a', '1'), ('logfmt_b', '')],
    },
    {
        'message': 'request done',
        'level': 'info',
        'trace_id': '6a3b2f1c',
        'labels': [('logfmt_user', 'svc-account'), ('logfmt_duration', '12ms')],
    },
    {
        'message': 'plain unstructured container output line',
        'labels': [],
    },
    {
        'message': 'another raw line with no structure at all',
        'labels': [],
    },
    {
        'labels': [],
    },
    {
        'labels': [],
    },
    {
        'labels': [],
    },
    {
        'message': '',
        'parse_error': "Can't find timestamp\nCan't find a message",
        'labels': [],
    },
    {
        'parse_error': 'empty log not expected',
        'labels': [],
    },
    {
        'message': '',
        'labels': [],
    },
    {
        'labels': [],
    },
    {
        'labels': [],
    },
    {
        'message': '127.0.0.1 - - [x] GET',
        'parse_error': 'The identified PatternKey Clf by the ingress is not mapped to a pattern extractor',
        'labels': [],
    },
    {
        'message': 'anything',
        'parse_error': 'The identified PatternKey Unknown by the ingress is not mapped to a pattern extractor',
        'labels': [],
    },
    {
        'message': '',
        'parse_error': 'The identified PatternKey Clf by the ingress is not mapped to a pattern extractor',
        'labels': [],
    },
    {
        'labels': [],
    },
    {
        'ts': '2022-08-04T09:53:59.620557+00:00',
        'message': 'ns fraction',
        'level': 'info',
        'labels': [],
    },
    {
        'ts': '2023-03-20T14:27:28.296000+00:00',
        'message': '[main] comma fraction',
        'level': 'warn',
        'labels': [],
    },
    {
        'message': 'out of datetime64 range',
        'level': 'info',
        'parse_error': "Can't find timestamp for 9999-01-01T00:00:00Z",
        'labels': [],
    },
    {
        'message': '2024-12-19T18:22:09Z DBG no origin here',
        'parse_error': "Can't find timestamp\nCan't find a message",
        'labels': [],
    },
    {
        'ts': '2023-03-30T10:51:43.705000+00:00',
        'message': 'ical][x] boom',
        'level': 'fatal',
        'labels': [('pattern_thread', '42')],
    },
    {
        'message': 'hi',
        'level': 'warn',
        'origin_file': 'a',
        'origin_line': '-1',
        'parse_error': "Can't find timestamp for bogus",
        'labels': [],
    },
    {
        'labels': [('logfmt_spanID', '1'), ('logfmt_a', '2')],
    },
    {
        'error_message': 'boom',
        'trace_id': 't1',
        'span_id': 's1',
        'labels': [('logfmt_A', '1'), ('logfmt_a', '2')],
    },
    {
        'ts': '2023-01-01T00:00:00+00:00',
        'labels': [('logfmt_k', 'a"b')],
    },
    {
        'parse_error': 'empty log not expected',
        'labels': [],
    },
    {
        'parse_error': "Can't find timestamp for 1 2",
        'labels': [],
    },
    {
        'labels': [('logfmt_a', '1\x00b=2')],
    },
    {
        'labels': [('logfmt_k', 'unterminated')],
    },
    {
        'message': '',
        'level': 'unknown',
        'origin_file': 'main.go',
        'origin_line': '12',
        'labels': [],
    },
    {
        'ts': '2023-03-10T18:53:52+00:00',
        'labels': [('logfmt_Key', '1'), ('logfmt_key', '2')],
    },
]


def _rows(arr: pa.StructArray) -> list[dict]:
    out = []
    for row in arr.to_pylist():
        d = {f: v for f, v in row.items() if v is not None and f != "labels"}
        if "ts" in d:
            d["ts"] = d["ts"].isoformat()
        d["labels"] = row["labels"]
        out.append(d)
    return out


@pytest.fixture(scope="module")
def result() -> pa.StructArray:
    texts, keys = contract_rows()
    return parse_batch(pa.array(texts, pa.string()), pa.array(keys, pa.string()))


def test_matches_pandas_udf_output(result):
    assert _rows(result) == EXPECTED


def test_arrow_type_is_what_the_jvm_expects(result):
    from pyspark.sql.pandas.types import to_arrow_type

    assert result.type == to_arrow_type(PARSE_RESULT_SCHEMA)
    assert result.type.field("ts").type == pa.timestamp("us", tz="UTC")
    assert result.null_count == 0


def test_ts_truncated_to_microseconds(result):
    texts, _ = contract_rows()
    i = texts.index("2022-08-04T09:53:59.620557561Z INFO ns fraction")
    ts = result.field("ts")[i].as_py()
    assert ts.replace(tzinfo=None) == datetime(2022, 8, 4, 9, 53, 59, 620557)


def test_untouched_rows_get_an_empty_map(result):
    texts, keys = contract_rows()
    labels = result.field("labels")
    assert labels.null_count == 0
    for i, k in enumerate(keys):
        if k in ("Nop", "Ecs", None):
            assert labels[i].as_py() == [], (texts[i], k)


def test_ecs_rows_untouched_with_null_text(result):
    _, keys = contract_rows()
    ecs = [i for i, k in enumerate(keys) if k == "Ecs"]
    rows = result.to_pylist()
    for i in ecs:
        assert rows[i] == rows[ecs[0]]
        assert all(v is None for f, v in rows[i].items() if f != "labels")


def test_unmapped_key_errors(result):
    texts, keys = contract_rows()
    rows = result.to_pylist()
    for i, k in enumerate(keys):
        if k in ("Clf", "Unknown"):
            assert rows[i]["parse_error"] == (
                f"The identified PatternKey {k} by the ingress is not "
                f"mapped to a pattern extractor")
            assert rows[i]["message"] == (texts[i] or "")


def test_pandas_series_inputs_accepted():
    import pandas as pd

    texts, keys = contract_rows()
    got = parse_batch(pd.Series(texts, dtype=object), pd.Series(keys, dtype=object))
    assert got.equals(parse_batch(pa.array(texts, pa.string()),
                                  pa.array(keys, pa.string())))
