"""Enrichment: broadcast pattern→label lookup + Loki label projection.

- `pattern_labels` broadcast join: the north-star "lookup enrich"
  (SURVEY.md §2.4 J7) — a small dimension (pattern_key, service_type, sink,
  org_name) joined with an explicit broadcast() hint so the join never
  shuffles the fact side at any scale.
- `loki_label_map`: the 14-label index projection of
  /root/reference/internal/streams/connectors/lokishipper/lokishipper.go:284-306
  plus the tags→labels fold of lokishipper.go:127-139 (arrays folded as
  tags_<i>, empty strings skipped).
- `stream_key`: the canonical sorted `{k="v", ...}` label-set string of
  /root/reference/pkg/clients/lokiclient/batch.go:81-111.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logunifier_spark.schema import LOKI_LABEL_COLUMNS
from logunifier_spark.session import per_context

# default pattern→labels dimension (deterministic; FIXTURES.md §2)
DEFAULT_PATTERN_LABELS = [
    # pattern_key, service_type, sink, org_name
    ("Unknown", "unclassified", "loki_errors", "noorg"),
    ("Nop", "raw", "loki_infra", "core"),
    ("LogFmt", "structured", "loki_app", "core"),
    ("Ecs", "native", "loki_app", "core"),
    ("TsLevelMsg", "structured", "loki_app", "core"),
    ("Envoy", "proxy", "loki_infra", "mesh"),
    ("Clf", "access", "loki_infra", "mesh"),
    ("Traefik", "proxy", "loki_infra", "mesh"),
]
PATTERN_LABELS_SCHEMA = "pattern_key string, enr_service_type string, sink string, enr_org_name string"


def default_pattern_labels(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DEFAULT_PATTERN_LABELS, PATTERN_LABELS_SCHEMA)


def enrich_with_pattern_labels(df: DataFrame, pattern_labels: DataFrame) -> DataFrame:
    """Left broadcast join on the pattern key; fills service_type / org_name
    only where the envelope left them unset, and attaches `sink`."""
    joined = df.join(
        F.broadcast(pattern_labels),
        df["log_pattern_key"] == pattern_labels["pattern_key"],
        "left",
    ).drop(pattern_labels["pattern_key"])
    return (joined.withColumns(_fill_columns())
                  .drop("enr_service_type", "enr_org_name"))


@per_context
def _fill_columns() -> dict[str, Column]:
    return {
        "service_type": F.coalesce(F.nullif(F.col("service_type"), F.lit("")),
                                   F.col("enr_service_type")),
        "org_name": F.coalesce(F.nullif(F.col("org_name"), F.lit("")),
                               F.col("enr_org_name")),
        "sink": F.coalesce(F.col("sink"), F.lit("loki_errors")),
    }


def _bool_str(c: Column) -> Column:
    return F.when(c, F.lit("true")).otherwise(F.lit("false"))


@per_context
def loki_label_map() -> Column:
    """The 14-label Loki index set (lokishipper.go:284-306) + conditional
    error_type, as a map<string,string> column over the unified schema."""
    has_proc = F.col("process_error_reason").isNotNull() & (F.col("process_error_reason") != "")
    has_val = F.col("validation_errors").isNotNull() & (F.col("validation_errors") != "")
    has_stack = F.col("error_stack_trace").isNotNull() & (F.col("error_stack_trace") != "")
    has_etype = F.col("error_type").isNotNull() & (F.col("error_type") != "")
    base = F.create_map(
        F.lit("ingress"), F.coalesce(F.col("log_ingress"), F.lit("")),
        F.lit("host"), F.coalesce(F.col("host_name"), F.lit("")),
        F.lit("org_name"), F.coalesce(F.col("org_name"), F.lit("")),
        F.lit("environment"), F.coalesce(F.col("environment"), F.lit("")),
        F.lit("service_stack"), F.coalesce(F.col("service_stack"), F.lit("")),
        F.lit("service_name"), F.coalesce(F.col("service_name"), F.lit("")),
        F.lit("service_type"), F.coalesce(F.col("service_type"), F.lit("")),
        F.lit("service_namespace"), F.coalesce(F.col("service_namespace"), F.lit("")),
        F.lit("log_logger"), F.coalesce(F.col("log_logger"), F.lit("")),
        F.lit("level"), F.coalesce(F.col("log_level"), F.lit("")),
        F.lit("pattern_key"), F.coalesce(F.col("log_pattern_key"), F.lit("")),
        F.lit("process_error"), _bool_str(has_proc),
        F.lit("validation_error"), _bool_str(has_val),
        F.lit("error_stack"), _bool_str(has_stack),
    )
    return F.when(has_etype,
                  F.map_concat(base, F.create_map(F.lit("error_type"), F.col("error_type")))
                  ).otherwise(base)


def fold_tags_into_labels(labels: Column, tags: Column) -> Column:
    """tags -> labels["tags_<i>"], skipping empty values
    (lokishipper.go:127-139)."""
    folded = F.map_from_entries(
        F.filter(
            F.transform(
                F.coalesce(tags, F.array()),
                lambda t, i: F.struct(
                    F.concat(F.lit("tags_"), i.cast("string")).alias("key"),
                    t.alias("value"),
                ),
            ),
            lambda e: F.length(F.coalesce(e["value"], F.lit(""))) > 0,
        )
    )
    return F.map_concat(F.coalesce(labels, F.map_from_arrays(F.array(), F.array())), folded)


def structured_metadata() -> Column:
    """Per-entry Loki STRUCTURED METADATA (not index labels) —
    /root/reference/internal/streams/connectors/lokishipper/lokishipper.go:267-282:
    traceID / spanID ship when the id is non-empty (IsTraceIdSet /
    IsSpanIdSet, extensions.go:119-125); `user` ships whenever the user
    object EXISTS — even with an empty name (IsUserSet is `User != nil`,
    extensions.go:126-128; mirrored as user_name IS NOT NULL, since the
    envelope materializes User==nil as null and User{Name:""} as '')."""
    has_trace = F.col("trace_id").isNotNull() & (F.col("trace_id") != "")
    has_span = F.col("span_id").isNotNull() & (F.col("span_id") != "")
    has_user = F.col("user_name").isNotNull()
    entries = F.filter(F.array(
        F.when(has_trace, F.struct(F.lit("traceID").alias("key"),
                                   F.col("trace_id").alias("value"))),
        F.when(has_span, F.struct(F.lit("spanID").alias("key"),
                                  F.col("span_id").alias("value"))),
        F.when(has_user, F.struct(F.lit("user").alias("key"),
                                  F.col("user_name").alias("value"))),
    ), lambda e: e.isNotNull())
    return F.map_from_entries(entries)


def _quote_value(v: Column) -> Column:
    """strconv.Quote's escaping for the characters that occur in label
    values (batch.go:106 quotes every value): backslash, double-quote,
    newline, tab, CR. Go also hex-escapes other non-printables — that long
    tail is a documented deviation (log metadata never carries them
    unescaped past the journald JSON layer).

    Fast path: one rlike scan decides whether any escaping is needed; the
    5-pass replace chain (5 string allocations per value) runs only on the
    rare dirty rows. With 14 labels per stream key the clean-row cost drops
    from 70 string rewrites to 9 regex scans per row (the 5 fixed-domain
    values skip even the scan — see stream_key_native)."""
    v = F.coalesce(v, F.lit(""))
    dirty = v.rlike('[\\\\"\n\t\r]')
    esc = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit('"'), F.lit('\\"'))
    esc = F.replace(esc, F.lit("\n"), F.lit("\\n"))
    esc = F.replace(esc, F.lit("\t"), F.lit("\\t"))
    esc = F.replace(esc, F.lit("\r"), F.lit("\\r"))
    return F.when(dirty, esc).otherwise(v)


def stream_key(label_map: Column) -> Column:
    """Canonical sorted `{k="v", ...}` stream key (batch.go:81-111) over an
    arbitrary map column. For the fixed Loki label set prefer
    `stream_key_native` — higher-order functions over a per-row map are
    interpreted (no whole-stage codegen)."""
    entries = F.sort_array(F.map_entries(label_map))
    return F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(entries, lambda e: F.concat(
                e["key"], F.lit('="'), _quote_value(e["value"]), F.lit('"'))),
            ", ",
        ),
        F.lit("}"),
    )


@per_context
def stream_key_native() -> Column:
    """The same canonical stream key built directly from the unified scalar
    columns: the 14 label keys (+ conditional error_type) are compile-time
    constants, so the sorted order is static and the whole key is one
    codegen-friendly concat — byte-identical to
    stream_key(loki_label_map())."""
    has_proc = F.col("process_error_reason").isNotNull() & (F.col("process_error_reason") != "")
    has_val = F.col("validation_errors").isNotNull() & (F.col("validation_errors") != "")
    has_stack = F.col("error_stack_trace").isNotNull() & (F.col("error_stack_trace") != "")
    has_etype = F.col("error_type").isNotNull() & (F.col("error_type") != "")

    def q(c):  # "" for null + strconv.Quote escaping, like the map variant
        return _quote_value(F.col(c))

    def fixed(c):
        # closed-vocabulary column (pattern-bank keys only — the resolver
        # can emit nothing else): values can never contain escapable
        # characters, so the dirty-scan itself is skipped. Byte parity with
        # the map builder holds because _quote_value is the identity on
        # these values. log_level does NOT qualify: unify()'s public
        # fallback_level parameter can flow arbitrary raw strings into it.
        return F.coalesce(F.col(c), F.lit(""))

    # lexicographic key order — matches sort_array(map_entries(...))
    parts = [
        F.lit('{environment="'), q("environment"),
        F.lit('", error_stack="'), _bool_str(has_stack),
        F.when(has_etype, F.concat(F.lit('", error_type="'),
                                   _quote_value(F.col("error_type"))))
         .otherwise(F.lit("")),
        F.lit('", host="'), q("host_name"),
        F.lit('", ingress="'), q("log_ingress"),
        F.lit('", level="'), q("log_level"),
        F.lit('", log_logger="'), q("log_logger"),
        F.lit('", org_name="'), q("org_name"),
        F.lit('", pattern_key="'), fixed("log_pattern_key"),
        F.lit('", process_error="'), _bool_str(has_proc),
        F.lit('", service_name="'), q("service_name"),
        F.lit('", service_namespace="'), q("service_namespace"),
        F.lit('", service_stack="'), q("service_stack"),
        F.lit('", service_type="'), q("service_type"),
        F.lit('", validation_error="'), _bool_str(has_val),
        F.lit('"}'),
    ]
    return F.concat(*parts)
