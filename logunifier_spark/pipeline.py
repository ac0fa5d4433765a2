"""The unification pipeline: transcripts → unified ECS-shaped rows → routed.

One declarative logical plan (SURVEY.md §3.4):

    read transcripts
      → key-hash dedup (_dedup_turns)                  # M3 dedup window
      → pattern-key resolution (literal map, J1)
      → [optional] ANSI strip (P9)
      → Arrow-UDF parse (P2-P11, vectorized grok/logfmt)
        + native from_json branch for native-ECS rows (P15)
      → envelope assembly (P1/P14/P16 analogs, exact fallback semantics)
      → validate-and-fix (P17, exact strings) + emoji markers (P10)
      → broadcast enrich (J7) → Loki label projection + tags fold (A5)
      → stream key (A1) + salted routing (north-rule skew handling)

Catalyst sees a single plan: the scan prunes to the 6 input columns, every
non-UDF stage is whole-stage-codegen, and the only exchanges are the ones
the caller asks for (routing / aggregation).

Each stage's Column expressions are built once per SparkContext
(`session.per_context`): a repeat `unify` call pays Dataset analysis, not
the thousands of py4j round-trips that building the expression trees
costs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logunifier_spark.functions.levels import (
    MSG_UNPARSEABLE,
    STRING_TO_LEVEL,
    STRING_TO_PATTERN_KEY,
)
from logunifier_spark.operators import enrich as enrich_ops
from logunifier_spark.operators import route as route_ops
from logunifier_spark.operators.parse import parse_turns
from logunifier_spark.operators.validate import validate_and_fix
from logunifier_spark.schema import UNIFIED_SCHEMA
from logunifier_spark.session import per_context
from logunifier_spark.sources.ecsjson import (
    INVALID_JSON_REASON,
    is_bad_ecs,
    parse_ecs_json,
)

DEFAULT_SUBJECT = "ingress.logs.transcripts"

# the ANSI escape regex of /root/reference/pkg/utils/stripansi.go:7-13
ANSI_RE = ("[\\x1b\\x9b][\\[\\]()#;?]*(?:(?:(?:[a-zA-Z\\d]*(?:;[a-zA-Z\\d]*)*)?\\x07)"
           "|(?:(?:\\d{1,4}(?:;\\d{0,4})*)?[\\dA-PRZcf-ntqry=><~]))")


@per_context
def _pattern_key_map() -> Column:
    return F.create_map(*[F.lit(x) for kv in STRING_TO_PATTERN_KEY.items() for x in kv])


def _level_alias_map() -> Column:
    return F.create_map(*[F.lit(x) for kv in STRING_TO_LEVEL.items() for x in kv])


def resolve_pattern_key(tool: Column) -> Column:
    """StringToLogPatternKey (model/utils.go:40-47): lowercase lookup,
    anything unmapped (incl. null/''/'clf') → Nop."""
    return F.coalesce(F.element_at(_pattern_key_map(), F.lower(tool)), F.lit("Nop"))


def _e(j: Column, *path: str) -> Column:
    c = j
    for p in path:
        c = c[p]
    return c


def _dedup_turns(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """JetStream duplicate-window analog (streamcfg.go:30), keyed on the
    stable turn id, built for the rare-duplicate case.

    Any full-row key-dedup (dropDuplicates / max_by-of-struct) shuffles and
    double-sorts the entire input — string agg buffers are not
    hash-aggregable, so Spark plans SortAggregate (measured 57% of the
    end-to-end job). Instead:

      1. count rows per 64-bit KEY-HASH — a NARROW hash aggregate (long
         key, long buffer) whose shuffle carries only (key_hash, count),
      2. broadcast the (normally tiny) set of key-hashes that actually
         have duplicates,
      3. pass every clean row through UNSHUFFLED via broadcast anti-join,
      4. dedupe only the duplicate subset with a deterministic
         max-payload-hash winner.

    Building the plan runs no Spark job, whatever the input. When no key
    has duplicates (the common case), AQE finds the broadcast side empty
    at run time: its empty-relation propagation replaces the anti-join
    with its left child and the semi-join branch with an empty relation,
    so the scan runs once, unjoined. The Union keeps that empty input
    when a Python UDF sits above it (unify's parse): the propagation does
    not cross ArrowEvalPython.

    At 10^12 turns the full input never shuffles for dedup; only key
    triples do. If duplicates are pathologically common the broadcast is
    the limit — callers with adversarial inputs should pre-filter."""
    keys = keys or ["conv_id", "turn_idx"]
    # The duplicate FILTER runs on a 64-bit hash of the key tuple, not the
    # key columns: the count aggregate then hashes/compares longs instead
    # of strings and the exchange carries 8 B/row instead of the full key
    # (at 10^12 turns that is the difference between shuffling ~8 TB and
    # ~100+ TB of key material). Collisions are harmless — the hash is
    # only a routing filter, never the dedup identity: a clean row whose
    # key-hash collides with a genuine duplicate's merely takes the
    # winners path, where the aggregate groups by the TRUE key columns
    # and passes it through intact (expected extra rows at 10^12 inputs:
    # n²/2^65 ≈ tens of thousands — noise).
    kh, n_rows, is_dup, winner = _dedup_columns(tuple(keys), tuple(df.columns))
    dup_hashes = (df.select(kh).groupBy("_kh").agg(n_rows)
                    .where(is_dup).select("_kh"))
    dfh = df.withColumns({"_kh": kh})
    clean = dfh.join(F.broadcast(dup_hashes), "_kh", "left_anti")
    dups = dfh.join(F.broadcast(dup_hashes), "_kh", "left_semi")
    winners = (dups.groupBy(*keys).agg(winner)
                   .select(*keys, "_s.*")
                   .select(*df.columns))
    return clean.select(*df.columns).unionByName(winners)


@per_context
def _dedup_columns(keys: tuple[str, ...],
                   columns: tuple[str, ...]) -> tuple[Column, ...]:
    """_dedup_turns' expressions for one key tuple and input schema: the
    key hash `_kh`, the per-hash row count `_n`, the duplicate filter and
    the max-payload-hash winner struct `_s`."""
    others = [c for c in columns if c not in keys]
    pick = F.xxhash64(*[F.col(c) for c in columns])
    return (F.xxhash64(*[F.col(k) for k in keys]).alias("_kh"),
            F.count("*").alias("_n"),
            F.col("_n") > 1,
            F.max_by(F.struct(*[F.col(c) for c in others]), pick).alias("_s"))


@per_context
def _key_text_columns() -> dict[str, Column]:
    return {"_text": F.col("text"),
            "log_pattern_key": resolve_pattern_key(F.col("tool"))}


@per_context
def _parse_columns() -> dict[str, Column]:
    is_ecs = F.col("log_pattern_key") == "Ecs"
    # the envelope never reads _parsed on Ecs rows (ecs_or below), so their
    # text is not shipped to the Python worker
    return {
        "_parsed": parse_turns(F.when(~is_ecs, F.col("_text")),
                               F.col("log_pattern_key")),
        "_j": F.when(is_ecs, parse_ecs_json(F.col("_text"))),
    }


@per_context
def _envelope_columns(subject: str) -> dict[str, Column]:
    """The unified envelope over `_parsed` / `_j`. The caller's fallback
    level arrives as the `_fallback_level` column, so one memoized
    envelope serves every caller."""
    is_ecs = F.col("log_pattern_key") == "Ecs"
    j = F.col("_j")
    p = F.col("_parsed")
    # ecs rows: invalid JSON → pre-parse process error → Parse() early-exit
    # (patternfactory.go:113-118)
    ecs_bad = is_ecs & is_bad_ecs(j)

    def ecs_or(ecs_col: Column, other: Column) -> Column:
        return F.when(is_ecs, ecs_col).otherwise(other)

    ecs_level = F.when(_e(j, "log").isNull(), F.lit("not_set")).otherwise(
        F.coalesce(F.element_at(_level_alias_map(), F.lower(_e(j, "log", "level"))),
                   F.lit("unknown")))

    return {
        # id quirk preserved: reference never fills an empty id
        # (journald.go:191-193 / ecs.go:45-47 — inverted emptiness check);
        # when the input DID carry one it is replaced (deterministically here:
        # sha2 of the stable turn key instead of a random uuid)
        "id": ecs_or(
            F.when(F.length(F.coalesce(_e(j, "id"), F.lit(""))) > 0,
                   F.sha2(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx")), 256)
                   ).otherwise(F.lit("")),
            F.lit("")),
        "timestamp": ecs_or(
            F.coalesce(F.to_timestamp(_e(j, "@timestamp")), F.col("ts")),
            F.coalesce(p["ts"], F.col("ts"))),
        "message": F.when(ecs_bad, F.lit(MSG_UNPARSEABLE)).otherwise(
            ecs_or(F.coalesce(_e(j, "message"), F.lit("")),
                   F.coalesce(p["message"], F.lit("")))),
        "tags": ecs_or(_e(j, "tags"), F.lit(None).cast("array<string>")),
        "labels": ecs_or(_e(j, "labels"), p["labels"]),
        "log_level": F.when(ecs_bad, F.lit("fatal")).otherwise(
            ecs_or(ecs_level, F.coalesce(p["level"], F.col("_fallback_level")))),
        "log_level_emoji": F.lit(""),  # finalized by validate_and_fix
        "log_logger": ecs_or(_e(j, "log", "logger"), F.lit("")),
        "log_ingress": F.lit(subject),
        "log_origin_file": ecs_or(_e(j, "log", "origin", "file", "name"), p["origin_file"]),
        "log_origin_line": ecs_or(_e(j, "log", "origin", "file", "line"), p["origin_line"]),
        # transcripts: role plays the journald jobName (appName cascade,
        # journald.go:342-364,445-450 — SURVEY §1.4 mapping)
        "service_name": ecs_or(_e(j, "service", "name"), F.coalesce(F.col("role"), F.lit(""))),
        "service_version": ecs_or(_e(j, "service", "version"), F.lit("")),
        "service_type": ecs_or(_e(j, "service", "type"), F.lit("")),
        "service_stack": ecs_or(_e(j, "service", "stack"), F.lit("")),
        "service_namespace": ecs_or(_e(j, "service", "namespace"), F.lit("")),
        "service_group": ecs_or(_e(j, "service", "group"), F.lit("")),
        "service_node_name": ecs_or(_e(j, "service", "node", "name"), F.lit("")),
        "org_name": ecs_or(_e(j, "organization", "name"), F.lit("")),
        "org_id": ecs_or(_e(j, "organization", "id"), F.lit("")),
        "environment": ecs_or(_e(j, "environment", "name"), F.lit("")),
        "host_name": ecs_or(
            # IsHostNameSet needs BOTH name and hostname (extensions.go:116-118)
            F.when((F.length(F.coalesce(_e(j, "host", "name"), F.lit(""))) > 0)
                   & (F.length(F.coalesce(_e(j, "host", "hostname"), F.lit(""))) > 0),
                   _e(j, "host", "name")).otherwise(F.lit("")),
            F.lit("")),
        "user_name": ecs_or(_e(j, "user", "name"), F.lit(None).cast("string")),
        "event_kind": ecs_or(_e(j, "event", "kind"), F.lit(None).cast("string")),
        "trace_id": ecs_or(_e(j, "trace", "trace", "id"), p["trace_id"]),
        "span_id": ecs_or(_e(j, "trace", "span", "id"), p["span_id"]),
        "error_message": ecs_or(_e(j, "error", "message"), p["error_message"]),
        "error_type": ecs_or(_e(j, "error", "type"), F.lit(None).cast("string")),
        "error_stack_trace": ecs_or(_e(j, "error", "stack_trace"), F.lit(None).cast("string")),
        # fillMissing REPLACES any incoming processError (ecs.go:48-54)
        "process_error_reason": ecs_or(
            F.when(ecs_bad, F.lit(INVALID_JSON_REASON)), p["parse_error"]),
        "process_error_subject": F.lit(subject),
        "process_error_raw_data": F.col("_text"),
        "validation_errors": ecs_or(_e(j, "validationError", "errors"),
                                    F.lit(None).cast("string")),
    }


def unify(
    transcripts: DataFrame,
    pattern_labels: DataFrame | None = None,
    subject: str = DEFAULT_SUBJECT,
    dedup: bool = True,
    fallback_level: Column | None = None,
    overrides: dict | None = None,
    dedup_keys: list[str] | None = None,
) -> DataFrame:
    """Transcripts (conv_id, turn_idx, role, text, tool, ts) → unified rows
    (UNIFIED_SCHEMA [+ sink/loki_labels/stream_key when pattern_labels given]).

    `fallback_level` is the level used when no extractor set one (the
    reference's MetaLog fallback, PRIORITY-derived for journald;
    default 'unknown'). `overrides` (name → Column over the input frame)
    are applied after envelope assembly but BEFORE enrich/validate — the
    journald metadata-override hook (journald.go:190-275).

    `dedup_keys` overrides the duplicate-window key (default the stable
    (conv_id, turn_idx) turn id) — journald uses a full 64-bit payload hash
    so hash truncation can never merge distinct messages."""
    df = transcripts
    if dedup:
        df = _dedup_turns(df, dedup_keys)

    df = df.withColumns({
        **_key_text_columns(),
        "_fallback_level": (F.lit("unknown") if fallback_level is None
                            else fallback_level),
    })
    df = df.withColumns(_parse_columns())
    df = df.withColumns(_envelope_columns(subject))

    if overrides:
        df = df.withColumns(dict(overrides))

    # broadcast enrich BEFORE validate: the lookup fills service_type /
    # org_name where the envelope left them empty; validate backfills the rest
    if pattern_labels is not None:
        df = enrich_ops.enrich_with_pattern_labels(df, pattern_labels)

    df = validate_and_fix(df, fallback_ts_col="ts")
    keep = ["conv_id", "turn_idx"] + [
        f.name for f in UNIFIED_SCHEMA.fields if f.name not in ("conv_id", "turn_idx")
    ]
    if pattern_labels is not None:
        keep.append("sink")
    df = df.select(*keep)

    if pattern_labels is not None:
        df = df.withColumns({
            "loki_labels": enrich_ops.loki_label_map(),
            # static-key concat, NOT stream_key(loki_labels): byte-identical
            # output, but stays inside whole-stage codegen (and lets Catalyst
            # prune the map column entirely when the caller doesn't read it)
            "stream_key": enrich_ops.stream_key_native(),
        })
        df = route_ops.with_routing(df)
    return df


def unify_journald(
    raw_df: DataFrame,
    json_col: str = "raw",
    pattern_labels: DataFrame | None = None,
    subject: str = "ingress.logs.journald",
) -> DataFrame:
    """The full journald ingress flow (S1/P1/M1 + the metadata-override
    contract of journald.go:190-275): raw journald JSON → envelope →
    partial-message reassembly → unify, with journald/nomad metadata
    overriding whatever the parse (or a delegated native-ECS message)
    produced — service.*, host.*, org, env come from journald
    UNCONDITIONALLY, and the PRIORITY-derived level is the fallback when no
    extractor found one (toMetaLog, journald.go:160-185)."""
    from logunifier_spark.operators.multiline import reassemble_partials
    from logunifier_spark.sources.journald import journald_envelope

    env = journald_envelope(raw_df, json_col=json_col, subject=subject)
    env = reassemble_partials(env, message_col="text")

    meta_cols = ["service_name", "service_version", "service_stack",
                 "service_namespace", "service_group", "service_type",
                 "service_node_name", "host_name", "org_name", "environment"]
    renames = {c: f"_env_{c}" for c in meta_cols}
    for old, new in renames.items():
        env = env.withColumnRenamed(old, new)

    # journald has no conversation structure: stream analog = host, dedup id
    # = FULL 64-bit payload hash (JetStream msg-id dedup analog). turn_idx
    # is a 31-bit display value only — deduping on it would silently merge
    # distinct messages once a host exceeds ~65k lines (birthday bound in
    # 31-bit space), so _dedup_turns keys on `_dedup_key` instead.
    t = env.withColumns({
        "conv_id": F.coalesce(F.col("_env_host_name"), F.lit("")),
        "_dedup_key": F.xxhash64(F.col("_raw_data")),
        "turn_idx": F.pmod(F.xxhash64(F.col("_raw_data")),
                           F.lit(2**31)).cast("int"),
        "role": F.coalesce(F.col("_env_service_name"), F.lit("")),
        "tool": F.col("log_pattern_key"),
    }).drop("log_pattern_key")

    overrides = {c: F.col(f"_env_{c}") for c in meta_cols}
    # unmarshal failure → ProcessError.Reason (toMetaLog err path; the Go
    # error string is runtime-specific, we use one stable reason)
    overrides["process_error_reason"] = F.when(
        F.col("_corrupt").isNotNull(),
        F.lit("can't unmarshal journald json"),
    ).otherwise(F.col("process_error_reason"))
    # ProcessError.RawData carries the whole journald JSON, not the message
    # (toMetaLog, journald.go:176-179)
    overrides["process_error_raw_data"] = F.col("_raw_data")
    u = unify(
        t,
        pattern_labels=pattern_labels,
        subject=subject,
        dedup=True,
        fallback_level=F.col("fallback_level"),
        overrides=overrides,
        dedup_keys=["conv_id", "_dedup_key"],
    )
    return u


def ship_labels(df: DataFrame) -> DataFrame:
    """Entry-level labels as shipped: envelope labels + folded tags
    (lokishipper.go:127-139)."""
    return df.withColumn(
        "ship_labels",
        enrich_ops.fold_tags_into_labels(F.col("labels"), F.col("tags")),
    )


def ship_structured_metadata(df: DataFrame) -> DataFrame:
    """Per-entry structured metadata as shipped next to the labels:
    traceID/spanID/user (lokishipper.go:267-282) — unlike `loki_labels`
    these are NOT stream-index keys; they ride per entry."""
    return df.withColumn("ship_metadata", enrich_ops.structured_metadata())


def stable_order(df: DataFrame) -> DataFrame:
    """M2: the driver-mandated stable turn ordering — a window over
    (conv_id, turn_idx) attaching row_number for per-turn equality checks."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))
