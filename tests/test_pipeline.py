"""End-to-end envelope tests re-expressed from the reference's converter
golden tests (/root/reference/internal/streams/ingress/journald/journald_test.go,
internal/streams/ingress/ecs/ecs_test.go, internal/streams/process/validate.go)
over the transcripts input shape. Assertions run under the stable
(conv_id, turn_idx) ordering (M2)."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from logunifier_spark.functions.levels import MSG_UNPARSEABLE
from logunifier_spark.operators.enrich import default_pattern_labels
from logunifier_spark.pipeline import stable_order, unify
from logunifier_spark.schema import TRANSCRIPT_SCHEMA


def _utc(*args, us=0):
    return datetime(*args, microsecond=us)  # session tz is UTC; naive compare


BASE_TS = datetime(2024, 1, 1, 0, 0, 0)

ROWS = [
    # (turn_idx, role, text, tool)
    (0, "user",
     "2023-03-20T15:06:45.057Z [DEBUG] nomad: memberlist: Stream connection from=127.0.0.1:48046",
     "tslevelmsg"),
    (1, "assistant",
     'ts=2023-03-10T18:53:52.739622365Z caller=http.go:97 level=error msg="error collecting stats for unit" err="oops"',
     "logfmt"),
    (2, "tool",
     "time=\"2023-03-17T15:03:33+01:00\" level=warning msg=\"Error while Peeking first byte\" error=\"read tcp 172.26.64.1:443: use of closed network connection\"",
     "logfmt"),
    (3, "system", "Invalid message", "tslevelmsg"),
    (4, "user",
     "[2023-03-30 10:51:43.705][42][debug][upstream] [source/common/upstream/upstream_impl.cc:451] transport socket match",
     "envoy"),
    (5, "assistant", "plain raw container line", ""),
    (6, "tool",
     '{"@timestamp":"2023-06-07T13:08:51+01:00","message":"native ecs","log":{"level":"INFO","logger":"app"},'
     '"service":{"name":"shop","version":"1.2.3","type":"web","stack":"prod","namespace":"retail"},'
     '"host":{"name":"node1","hostname":"node1"},"organization":{"name":"acme"},"environment":{"name":"prod"},'
     '"trace":{"trace":{"id":"t-1"},"span":{"id":"s-1"}}}',
     "ecs"),
    (7, "system", "this is not json {", "ecs"),
    (8, "user",
     "2024-12-19T18:22:09Z DBG github.com/traefik/x/consul_catalog.go:287 > Filtering disabled item providerName=consulcatalog",
     "traefik"),
    (9, "assistant",
     'level=info msg="request done" traceID=6a3b2f1c user=svc duration=12ms',
     "logfmt"),
]


@pytest.fixture(scope="module")
def unified(spark):
    data = [("conv1", i, role, text, tool,
             datetime(2024, 1, 1, 0, 0, i)) for i, role, text, tool in ROWS]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    rows = unify(df).orderBy("turn_idx").collect()
    return {r["turn_idx"]: r for r in rows}


def test_tslevelmsg_envelope(unified):
    r = unified[0]
    assert r["log_pattern_key"] == "TsLevelMsg"
    assert r["log_level"] == "debug"
    assert r["log_level_emoji"] == "🐞"
    assert r["message"] == "nomad: memberlist: Stream connection from=127.0.0.1:48046"
    assert r["timestamp"] == _utc(2023, 3, 20, 15, 6, 45, us=57000)
    assert r["process_error_reason"] is None
    assert r["service_name"] == "user"          # role plays jobName
    assert r["id"] == ""                        # inverted-emptiness quirk


def test_logfmt_envelope(unified):
    r = unified[1]
    assert r["log_level"] == "error"
    assert "collecting stats for" in r["message"]
    assert r["timestamp"] == _utc(2023, 3, 10, 18, 53, 52, us=739622)
    assert r["log_origin_file"] == "http.go"
    assert r["log_origin_line"] == "97"
    assert r["error_message"] == "oops"


def test_logfmt_tz_normalized(unified):
    r = unified[2]
    assert r["log_level"] == "warn"
    # +01:00 normalized to UTC
    assert r["timestamp"] == _utc(2023, 3, 17, 14, 3, 33)
    assert r["error_message"].startswith("read tcp")


def test_invalid_tslevelmsg(unified):
    r = unified[3]
    assert r["message"] == "Invalid message"
    assert r["process_error_reason"] == "Can't find timestamp\nCan't find a message"
    assert r["timestamp"] == _utc(2024, 1, 1, 0, 0, 3)  # fallback ingestion ts
    assert r["log_level"] == "unknown"  # fallback level untouched


def test_envoy_thread_label(unified):
    r = unified[4]
    assert r["log_level"] == "debug"
    assert r["labels"]["pattern_thread"] == "42"
    assert r["timestamp"] == _utc(2023, 3, 30, 10, 51, 43, us=705000)


def test_nop_raw_copy(unified):
    r = unified[5]
    assert r["log_pattern_key"] == "Nop"
    assert r["message"] == "plain raw container line"
    assert r["log_level"] == "unknown"
    assert r["log_level_emoji"] == "🤷"


def test_native_ecs_preserved(unified):
    r = unified[6]
    assert r["log_pattern_key"] == "Ecs"
    assert r["message"] == "native ecs"
    assert r["log_level"] == "info"
    assert r["timestamp"] == _utc(2023, 6, 7, 12, 8, 51)  # UTC normalized
    assert r["service_name"] == "shop"
    assert r["service_version"] == "1.2.3"
    assert r["service_type"] == "web"
    assert r["host_name"] == "node1"
    assert r["org_name"] == "acme"
    assert r["environment"] == "prod"
    assert r["trace_id"] == "t-1" and r["span_id"] == "s-1"
    # APM marker appended (extensions.go:195-198)
    assert r["log_level_emoji"] == "✅ 🧬"
    assert r["validation_errors"] is None


def test_invalid_ecs_fatal(unified):
    r = unified[7]
    assert r["message"] == MSG_UNPARSEABLE
    assert r["log_level"] == "fatal"
    assert r["log_level_emoji"] == "🔥"
    assert r["process_error_reason"] is not None


def test_traefik_origin(unified):
    r = unified[8]
    assert r["log_origin_file"] == "github.com/traefik/x/consul_catalog.go"
    assert r["log_origin_line"] == "287"
    assert r["log_level"] == "debug"


def test_logfmt_apm_and_spill(unified):
    r = unified[9]
    assert r["trace_id"] == "6a3b2f1c"
    # user/event keys are NOT consumed (ExtractFrom chain omits userInfo) —
    # they spill as logfmt_ labels (types.go:68-84 quirk)
    assert r["labels"]["logfmt_user"] == "svc"
    assert r["labels"]["logfmt_duration"] == "12ms"
    assert r["log_level_emoji"] == "✅ 🧬"


def test_validation_error_exact_string(unified):
    r = unified[0]
    assert r["validation_errors"] == (
        "No organisation name set,\n"
        "No Logger set,\n"
        "Service type is empty,\n"
        "No environment set,\n"
        "No stack set,\n"
        "No namespace set,\n"
        "No host name set"
    )
    # defaults applied (validate.go:9-81)
    assert r["org_name"] == "NoOrg"
    assert r["service_type"] == "Empty"
    assert r["environment"] == "NoEnv"
    assert r["service_stack"] == "NoStack"
    assert r["service_namespace"] == "NoNameSpace"
    assert r["host_name"] == "NoHost"
    assert r["log_logger"] == "Empty"


def test_strip_ansi(spark):
    """A coloured TsLevelMsg line parses once journald's per-row
    STRIP_ANSI label has stripped its escapes."""
    import json
    from logunifier_spark.pipeline import unify_journald
    text = "\x1b[90m2023-03-30T16:32:12Z\x1b[0m \x1b[31mDBG\x1b[0m Nothing to validate after 10s "
    payload = {"COM_GITHUB_LOGUNIFIER_APPLICATION_PATTERN_KEY": "tslevelmsg",
               "COM_GITHUB_LOGUNIFIER_APPLICATION_STRIP_ANSI": "true",
               "PRIORITY": "6", "__REALTIME_TIMESTAMP": "1680193932000000",
               "host": "worker-01", "message": text}
    df = spark.createDataFrame([(json.dumps(payload),)], "raw string")
    r = unify_journald(df).collect()[0]
    assert r["message"] == "Nothing to validate after 10s "
    assert r["log_level"] == "debug"


def test_dedup_and_stable_order(spark):
    data = [("c1", 1, "user", "x", "", BASE_TS),
            ("c1", 0, "user", "y", "", BASE_TS),
            ("c1", 1, "user", "x-dup", "", BASE_TS),
            ("c2", 0, "user", "z", "", BASE_TS)]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    out = stable_order(unify(df))
    rows = out.orderBy("conv_id", "turn_idx").collect()
    assert [(r["conv_id"], r["turn_idx"], r["turn_rank"]) for r in rows] == [
        ("c1", 0, 1), ("c1", 1, 2), ("c2", 0, 1)]


def test_routing_deterministic(spark):
    data = [("c%d" % i, j, "user", "plain", "", BASE_TS)
            for i in range(5) for j in range(4)]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    labels = default_pattern_labels(spark)
    a = unify(df, pattern_labels=labels).select(
        "conv_id", "turn_idx", "sink", "route_partition", "stream_key")
    b = unify(df, pattern_labels=labels).select(
        "conv_id", "turn_idx", "sink", "route_partition", "stream_key")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_loki_label_map(spark):
    df = spark.createDataFrame(
        [("c", 0, "user", "plain line", "", BASE_TS)], TRANSCRIPT_SCHEMA)
    r = unify(df, pattern_labels=default_pattern_labels(spark)).collect()[0]
    lbl = r["loki_labels"]
    assert set(lbl.keys()) == {
        "ingress", "host", "org_name", "environment", "service_stack",
        "service_name", "service_type", "service_namespace", "log_logger",
        "level", "pattern_key", "process_error", "validation_error",
        "error_stack"}
    assert lbl["process_error"] == "false"
    assert lbl["validation_error"] == "true"
    assert lbl["pattern_key"] == "Nop"
    assert r["stream_key"].startswith('{environment="')  # sorted keys
    # enrich filled type/org from the broadcast table → no validation error
    assert "Service type is empty" not in r["validation_errors"]
    assert lbl["service_type"] == "raw"
    assert lbl["org_name"] == "core"


def test_edge_rows_no_crash(spark):
    """Null text / unknown tool / huge text / all-null row: Nop fallback +
    process_error columns, never an exception (poison-row policy, SURVEY
    §2.9 backpressure row)."""
    huge = "k=v " * 250_000  # ~1 MB logfmt line
    data = [
        ("c", 0, "r", None, "tslevelmsg", BASE_TS),
        ("c", 1, "r", "hello", "no-such-tool", BASE_TS),
        ("c", 2, "r", huge, "logfmt", BASE_TS),
        ("c", 3, None, None, None, None),
    ]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    rows = unify(df).orderBy("turn_idx").collect()
    assert len(rows) == 4
    by_idx = {r["turn_idx"]: r for r in rows}
    # null text + grok key → no match → raw copy + parse error
    assert by_idx[0]["message"] == ""
    assert by_idx[0]["process_error_reason"] is not None
    # unknown tool → Nop passthrough
    assert by_idx[1]["log_pattern_key"] == "Nop"
    assert by_idx[1]["message"] == "hello"
    assert by_idx[1]["log_level"] == "unknown"
    # huge logfmt line parsed, labels spilled, no crash
    assert by_idx[2]["log_pattern_key"] == "LogFmt"
    # all-null row → Nop, empty message, null ts tolerated
    assert by_idx[3]["log_pattern_key"] == "Nop"
    assert by_idx[3]["message"] == ""


def test_hot_conversation_salt_spreads_partitions(spark):
    """North-rule skew handling: a single hot conv_id must fan out across
    multiple route partitions via the deterministic turn-idx salt, not pin
    one partition."""
    data = [("hot", i, "user", "plain", "", BASE_TS) for i in range(2000)]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    u = unify(df, pattern_labels=default_pattern_labels(spark))
    parts = [r["route_partition"] for r in
             u.select("route_partition").distinct().collect()]
    from logunifier_spark.operators.route import SALT_BUCKETS
    assert len(parts) > 1                      # not pinned to one partition
    assert len(parts) <= SALT_BUCKETS          # bounded by the salt domain
    # deterministic: same input → same partition ids
    u2 = unify(df, pattern_labels=default_pattern_labels(spark))
    parts2 = {r["route_partition"] for r in
              u2.select("route_partition").distinct().collect()}
    assert set(parts) == parts2


def test_stream_key_quotes_special_values(spark):
    """batch.go:106 strconv.Quote's the label values — quotes and
    backslashes in metadata must be escaped in the canonical key, and the
    native and map-based builders must stay byte-identical."""
    from logunifier_spark.operators.enrich import loki_label_map, stream_key
    data = [("c", 0, 'svc"with\\quote', "plain", "", BASE_TS)]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    u = unify(df, pattern_labels=default_pattern_labels(spark))
    r = u.withColumn("sk_map", stream_key(loki_label_map())).collect()[0]
    assert r["stream_key"] == r["sk_map"]
    assert 'service_name="svc\\"with\\\\quote"' in r["stream_key"]


def test_stream_key_parity_with_error_type(spark):
    """The conditional error_type splice in stream_key_native is
    hand-ordered — pin it against the map-based builder, including
    newline/tab escaping inside the label value (batch.go:106 quoting)."""
    from logunifier_spark.operators.enrich import loki_label_map, stream_key
    ecs = ('{"@timestamp":"2023-06-07T12:00:00Z","message":"boom",'
           '"error":{"message":"x","type":"java.lang.Illegal\\nState\\tError"}}')
    data = [("c", 0, "agent", ecs, "ecs", BASE_TS),
            ("c", 1, "agent", "plain", "", BASE_TS)]
    df = spark.createDataFrame(data, TRANSCRIPT_SCHEMA)
    u = unify(df, pattern_labels=default_pattern_labels(spark))
    rows = u.withColumn("sk_map", stream_key(loki_label_map())).collect()
    for r in rows:
        assert r["stream_key"] == r["sk_map"]   # byte parity, both branches
    with_et = next(r for r in rows if r["turn_idx"] == 0)
    without = next(r for r in rows if r["turn_idx"] == 1)
    assert 'error_type="java.lang.Illegal\\nState\\tError"' in with_et["stream_key"]
    assert "error_type" not in without["stream_key"]


def test_structured_metadata_user_quirk(spark):
    """lokishipper.go:267-282 + extensions.go:126-128: traceID/spanID ship
    only when non-empty; `user` ships whenever the user OBJECT exists —
    even with an empty name."""
    from logunifier_spark.pipeline import ship_structured_metadata
    base = '{"@timestamp":"2023-06-07T12:00:00Z","message":"m"'
    rows = [
        ("c", 0, "agent", base + ',"trace":{"trace":{"id":"T1"},'
         '"span":{"id":"S1"}},"user":{"name":"alice"}}', "ecs", BASE_TS),
        ("c", 1, "agent", base + ',"user":{"name":""}}', "ecs", BASE_TS),
        ("c", 2, "agent", base + ',"trace":{"trace":{"id":""}}}', "ecs", BASE_TS),
        ("c", 3, "agent", "plain text", "", BASE_TS),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    u = ship_structured_metadata(unify(df, pattern_labels=default_pattern_labels(spark)))
    md = {r["turn_idx"]: dict(r["ship_metadata"]) for r in u.collect()}
    assert md[0] == {"traceID": "T1", "spanID": "S1", "user": "alice"}
    assert md[1] == {"user": ""}      # User != nil quirk: empty name ships
    assert md[2] == {}                # empty trace id does NOT ship
    assert md[3] == {}


def test_to_ecs_struct_json_uses_proto_names(spark):
    """P18: F.to_json(to_ecs_struct()) serializes a unified row with the
    protojson field names of EcsLogEntry (extensions.go:296-305)."""
    import json

    from logunifier_spark.schema import to_ecs_struct

    ecs = ('{"@timestamp":"2023-06-07T13:08:51+01:00","message":"boom",'
           '"log":{"level":"ERROR"},"error":{"stack_trace":"at main()"}}')
    df = spark.createDataFrame(
        [("c", 0, "tool", ecs, "ecs", BASE_TS),
         ("c", 1, "user", "plain raw container line", "", BASE_TS),
         ("c", 2, "tool", "this is not json {", "ecs", BASE_TS)],
        TRANSCRIPT_SCHEMA)
    docs = {r["turn_idx"]: json.loads(r["j"]) for r in unify(df).select(
        "turn_idx", F.to_json(to_ecs_struct()).alias("j")).collect()}
    e, n, bad = docs[0], docs[1], docs[2]
    assert e["@timestamp"] == "2023-06-07T12:08:51.000000Z"
    assert e["log"]["patternKey"] == "Ecs"
    assert e["error"]["stack_trace"] == "at main()"
    assert "timestamp" not in e and "log_pattern_key" not in e
    assert n["log"]["patternKey"] == "Nop"
    assert n["validationError"]["errors"].startswith("No organisation name set")
    # rawData is kept only on rows with a process error
    assert "rawData" not in n["processError"]
    assert bad["processError"]["rawData"] == "this is not json {"


# ------------------------------------------- per-SparkContext Column memo ----

def _frame(spark, rows, conv="conv1"):
    return spark.createDataFrame(
        [(conv, i, role, text, tool, datetime(2024, 1, 1, 0, 0, i))
         for i, role, text, tool in rows], TRANSCRIPT_SCHEMA)


def test_warm_unify_build_reuses_memoized_columns(spark, monkeypatch):
    """A repeat unify build reuses the pipeline's memoized Column
    expressions, so it pays py4j round-trips only for the DataFrame calls
    (rebuilding the expression trees costs ~7,900). Garbage is collected
    before the build and not during it, so the count repeats exactly."""
    import gc

    from py4j.clientserver import ClientServerConnection

    df = _frame(spark, ROWS)
    unify(df, pattern_labels=default_pattern_labels(spark))
    sent = 0
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal sent
        sent += 1
        return send(self, command)

    gc.collect()
    gc.disable()
    try:
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        unify(df, pattern_labels=default_pattern_labels(spark))
        monkeypatch.undo()
    finally:
        gc.enable()
    assert 0 < sent < 1000


def _json_rows(u):
    return [r["j"] for r in u.select(F.to_json(F.struct("*")).alias("j")).collect()]


def test_memoized_columns_in_two_subtrees(spark):
    """Two unify outputs built from the same memoized PythonUDF / from_json
    expressions, unioned and joined in one plan, equal the outputs
    collected separately."""
    labels = default_pattern_labels(spark)
    # same (conv_id, turn_idx) keys, every key on a different extractor
    shifted = [(i, role, text, tool) for (i, role, _, _), (_, _, text, tool)
               in zip(ROWS, ROWS[1:] + ROWS[:1])]
    ua = unify(_frame(spark, ROWS), pattern_labels=labels, dedup=False)
    ub = unify(_frame(spark, shifted), pattern_labels=labels, dedup=False)
    a, b = _json_rows(ua), _json_rows(ub)
    assert sorted(_json_rows(ua.unionByName(ub))) == sorted(a + b)

    def keyed(u):
        return u.select("conv_id", "turn_idx",
                        F.to_json(F.struct(*u.columns)).alias("j"))
    joined = {(r["turn_idx"], r["ja"], r["jb"]) for r in
              keyed(ua).withColumnRenamed("j", "ja")
              .join(keyed(ub).withColumnRenamed("j", "jb"),
                    ["conv_id", "turn_idx"]).collect()}
    by_key_b = {r["turn_idx"]: r["j"] for r in keyed(ub).collect()}
    assert joined == {(r["turn_idx"], r["j"], by_key_b[r["turn_idx"]])
                      for r in keyed(ua).collect()}
    assert len(joined) == len(ROWS)


TZ_ROWS = [
    (0, "user", '{"@timestamp":"2023-06-07T13:08:51","message":"naive"}', "ecs"),
    (1, "user", '{"@timestamp":"2023-06-07T13:08:51+01:00","message":"offset"}', "ecs"),
    (2, "user", "2023-03-29 20:50:13.931 [INF] Server is ready", "tslevelmsg"),
    (3, "user", "no timestamp here", "tslevelmsg"),
]


def test_memoized_columns_carry_no_session_state(spark):
    """Columns memoized in the UTC session resolve the time zone of the
    session that analyzes them: a new session at America/New_York reads
    the naive ECS @timestamp in New York time and renders every
    timestamp there (values as computed without the memo)."""
    def rows(session):
        u = unify(_frame(session, TZ_ROWS, conv="c"),
                  pattern_labels=default_pattern_labels(session), dedup=False)
        return [tuple(r) for r in u.select(
            "turn_idx", F.unix_micros("timestamp"),
            F.col("timestamp").cast("string")).orderBy("turn_idx").collect()]

    utc = rows(spark)  # warms the memo
    ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert rows(ny) == [
        (0, 1686157731000000, "2023-06-07 13:08:51"),
        (1, 1686139731000000, "2023-06-07 08:08:51"),
        (2, 1680123013931000, "2023-03-29 16:50:13.931"),
        (3, 1704067203000000, "2023-12-31 19:00:03"),
    ]
    assert utc == [
        (0, 1686143331000000, "2023-06-07 13:08:51"),
        (1, 1686139731000000, "2023-06-07 12:08:51"),
        (2, 1680123013931000, "2023-03-29 20:50:13.931"),
        (3, 1704067203000000, "2024-01-01 00:00:03"),
    ]


# ------------------------------------------- dedup on file-backed input ----

DUP_ROWS = ROWS + [
    (1, "assistant", "level=info msg=\"sent twice, new text\"", "logfmt"),
    (3, "system", "Invalid message", "tslevelmsg"),
]


@pytest.fixture(scope="module")
def parquet_turns(spark, tmp_path_factory):
    """{has_dups: (path, rows)}: the ROWS transcript written to parquet
    without and with duplicate (conv_id, turn_idx) keys."""
    out = {}
    for has_dups, rows in ((False, ROWS), (True, DUP_ROWS)):
        path = str(tmp_path_factory.mktemp("turns") / "t.parquet")
        _frame(spark, rows).write.parquet(path)
        out[has_dups] = (path, rows)
    return out


@pytest.mark.parametrize("has_dups", [False, True])
def test_unify_build_runs_no_job(spark, parquet_turns, has_dups):
    """Building unify over a parquet scan runs no Spark job: the dedup
    decides at run time, not with an eager probe at construction. (The
    scan is opened first: reading the parquet footers is a job of its
    own.)"""
    df = spark.read.parquet(parquet_turns[has_dups][0])
    sc = spark.sparkContext
    group = f"unify-build-{has_dups}"
    sc.setJobGroup(group, "unify plan construction")
    try:
        unify(df, pattern_labels=default_pattern_labels(spark))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("has_dups", [False, True])
def test_file_backed_unify_equals_in_memory(spark, parquet_turns, has_dups):
    """File-backed and in-memory input take one dedup plan and give the
    same rows, duplicates or not."""
    path, rows = parquet_turns[has_dups]
    labels = default_pattern_labels(spark)
    from_file = _json_rows(unify(spark.read.parquet(path), pattern_labels=labels))
    in_memory = _json_rows(unify(_frame(spark, rows), pattern_labels=labels))
    assert sorted(from_file) == sorted(in_memory)
    assert len(from_file) == len(ROWS)


def test_aqe_drops_empty_duplicate_branch(spark, parquet_turns):
    """With no duplicate key, AQE's empty-relation propagation removes the
    dedup's anti-join and semi-join from the final plan; with duplicates
    both stay. This is the Spark behaviour that lets _dedup_turns build
    one plan for every input."""
    def final_plan(has_dups):
        u = unify(spark.read.parquet(parquet_turns[has_dups][0]),
                  pattern_labels=default_pattern_labels(spark))
        u.collect()
        adaptive = u._jdf.queryExecution().executedPlan()
        assert adaptive.isFinalPlan()
        return adaptive.executedPlan().toString()

    clean = final_plan(False)
    assert "LeftAnti" not in clean and "LeftSemi" not in clean, clean
    dups = final_plan(True)
    assert "LeftAnti" in dups and "LeftSemi" in dups, dups
