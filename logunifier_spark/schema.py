"""Schemas: transcript input (BASELINE.json input_hint) and the unified
ECS-shaped output (flattened mirror of /root/reference/pkg/model/ecs.proto:16-40).

The output is FLAT (one column per leaf) rather than nested structs: the
equality contract is per-leaf-field, flat columns keep every expression inside
whole-stage codegen, and per-sink parquet/Iceberg tables stay
column-prunable.  A nested `to_ecs_struct`/`to_json` view is provided for
protojson-shaped output (P18, extensions.go:296-305).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])

# Flattened EcsLogEntry (ecs.proto:16-40). Field ↔ proto path in comments.
UNIFIED_FIELDS: list[tuple[str, object]] = [
    ("id", StringType()),                      # id
    ("conv_id", StringType()),                 # lineage: input key
    ("turn_idx", IntegerType()),               # lineage: input key
    ("timestamp", TimestampType()),            # @timestamp
    ("message", StringType()),                 # message
    ("tags", ArrayType(StringType())),         # tags
    ("labels", MapType(StringType(), StringType())),  # labels
    ("log_level", StringType()),               # log.level (enum name)
    ("log_level_emoji", StringType()),         # log.levelEmoji
    ("log_pattern_key", StringType()),         # log.patternKey
    ("log_logger", StringType()),              # log.logger
    ("log_ingress", StringType()),             # log.ingress
    ("log_origin_file", StringType()),         # log.origin.file.name
    ("log_origin_line", StringType()),         # log.origin.file.line (string!)
    ("service_name", StringType()),            # service.name
    ("service_version", StringType()),         # service.version
    ("service_type", StringType()),            # service.type
    ("service_stack", StringType()),           # service.stack
    ("service_namespace", StringType()),       # service.namespace
    ("service_group", StringType()),           # service.group
    ("service_node_name", StringType()),       # service.node.name
    ("org_name", StringType()),                # organization.name
    ("org_id", StringType()),                  # organization.id
    ("environment", StringType()),             # environment.name
    ("host_name", StringType()),               # host.name (=host.hostname)
    ("user_name", StringType()),               # user.name
    ("event_kind", StringType()),              # event.kind
    ("trace_id", StringType()),                # trace.trace.id
    ("span_id", StringType()),                 # trace.span.id
    ("error_message", StringType()),           # error.message
    ("error_type", StringType()),              # error.type
    ("error_stack_trace", StringType()),       # error.stack_trace
    ("process_error_reason", StringType()),    # processError.reason
    ("process_error_subject", StringType()),   # processError.subject
    ("process_error_raw_data", StringType()),  # processError.rawData
    ("validation_errors", StringType()),       # validationError.errors
]


UNIFIED_SCHEMA = StructType([StructField(n, t) for n, t in UNIFIED_FIELDS])

# the 14-label Loki index projection (lokishipper.go:284-306)
LOKI_LABEL_COLUMNS = [
    "ingress", "host", "org_name", "environment", "service_stack",
    "service_name", "service_type", "service_namespace", "log_logger",
    "level", "pattern_key", "process_error", "validation_error", "error_stack",
]


def to_ecs_struct():
    """Nested protojson-shaped struct mirroring EcsLogEntry field names
    (extensions.go:296-305 uses proto field names: @timestamp, stack_trace)."""
    c = F.col
    return F.struct(
        c("id").alias("id"),
        F.date_format(c("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX").alias("@timestamp"),
        c("message").alias("message"),
        c("tags").alias("tags"),
        c("labels").alias("labels"),
        F.struct(
            c("log_level").alias("level"),
            c("log_level_emoji").alias("levelEmoji"),
            c("log_pattern_key").alias("patternKey"),
            c("log_logger").alias("logger"),
            c("log_ingress").alias("ingress"),
            F.struct(
                F.struct(
                    c("log_origin_file").alias("name"),
                    c("log_origin_line").alias("line"),
                ).alias("file"),
            ).alias("origin"),
        ).alias("log"),
        F.struct(
            c("service_name").alias("name"),
            c("service_version").alias("version"),
            c("service_type").alias("type"),
            c("service_stack").alias("stack"),
            c("service_namespace").alias("namespace"),
            c("service_group").alias("group"),
            F.struct(c("service_node_name").alias("name")).alias("node"),
        ).alias("service"),
        F.struct(c("org_name").alias("name"), c("org_id").alias("id")).alias("organization"),
        F.struct(c("environment").alias("name")).alias("environment"),
        F.struct(
            c("host_name").alias("name"),
            c("host_name").alias("hostname"),
        ).alias("host"),
        F.struct(c("user_name").alias("name")).alias("user"),
        F.struct(c("event_kind").alias("kind")).alias("event"),
        F.struct(
            F.struct(c("trace_id").alias("id")).alias("trace"),
            F.struct(c("span_id").alias("id")).alias("span"),
        ).alias("trace"),
        F.struct(
            c("error_message").alias("message"),
            c("error_type").alias("type"),
            c("error_stack_trace").alias("stack_trace"),
        ).alias("error"),
        F.struct(
            c("process_error_reason").alias("reason"),
            c("process_error_subject").alias("subject"),
            c("process_error_raw_data").alias("rawData"),
        ).alias("processError"),
        F.struct(c("validation_errors").alias("errors")).alias("validationError"),
    )
