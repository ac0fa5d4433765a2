"""Journald JSON ingress (S1 / P1 / P12-P14 / M1).

Re-creates /root/reference/internal/streams/ingress/journald/journald.go:
  - the ~50-field journald JSON projection (:24-80; unknown keys dropped),
  - fallback ts from __REALTIME_TIMESTAMP µs (:297-308),
  - PRIORITY → level with the nomad-job not_set override (:309-333),
  - SYSLOG_FACILITY → job type, nomad/container precedence (:366-428),
  - service-name precedence cascade (:342-364, 445-450),
  - CONTAINER_TAG csv → tags (:452-457),
  - per-row STRIP_ANSI gate (:437-443, 467-472),
  - CONTAINER_PARTIAL_* multiline reassembly (:110-133, via
    operators/multiline.py),
  - pattern-key resolution from the logunifier label (:459-465),
  - ECS delegation: pattern key `ecs` re-parses Message as native ECS JSON
    and overrides service/host/org/env metadata from journald (:134-146,
    :190-275).

Everything is from_json + native column expressions; the text parse itself
is the shared Arrow-UDF bank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logunifier_spark.sources.common import nz as _nz

from logunifier_spark.functions.levels import (
    FACILITY_TO_JOBTYPE,
    PRIORITY_TO_LEVEL,
)

# journald fields consumed by the converter (journald.go:24-80).
# NOTE: vector lower-cases `message`/`host`/`timestamp` (struct tags
# json:"message", json:"host" at journald.go:77-79) while the native
# journald fields stay upper-case — the casing here matches those tags.
JOURNALD_SCHEMA = (
    "struct<"
    "message:string, host:string, PRIORITY:string, SYSLOG_FACILITY:string,"
    "SYSLOG_IDENTIFIER:string, `_MACHINE_ID`:string,"
    "`__REALTIME_TIMESTAMP`:string,"
    "`_SYSTEMD_UNIT`:string, `_SYSTEMD_SLICE`:string, `_SYSTEMD_CGROUP`:string,"
    "CONTAINER_ID:string, CONTAINER_ID_FULL:string, CONTAINER_NAME:string,"
    "CONTAINER_TAG:string, IMAGE_NAME:string,"
    "CONTAINER_PARTIAL_ID:string, CONTAINER_PARTIAL_ORDINAL:string,"
    "CONTAINER_PARTIAL_LAST:string, CONTAINER_PARTIAL_MESSAGE:string,"
    "COM_HASHICORP_NOMAD_ALLOC_ID:string, COM_HASHICORP_NOMAD_JOB_NAME:string,"
    "COM_HASHICORP_NOMAD_NODE_NAME:string,"
    "COM_HASHICORP_NOMAD_NAMESPACE:string, COM_HASHICORP_NOMAD_TASK_GROUP_NAME:string,"
    "COM_HASHICORP_NOMAD_TASK_NAME:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_NAME:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_VERSION:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_PATTERN_KEY:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_STRIP_ANSI:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_ORG:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_ENV:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_NAMESPACE:string,"
    "COM_GITHUB_LOGUNIFIER_APPLICATION_STACK:string,"
    "ORG_OPENCONTAINERS_IMAGE_REVISION:string,"
    "ORG_OPENCONTAINERS_IMAGE_SOURCE:string,"
    "ORG_OPENCONTAINERS_IMAGE_TITLE:string,"
    "_corrupt_record:string"
    ">"
)


def _map_lit(d: dict) -> Column:
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])


def journald_envelope(df: DataFrame, json_col: str = "raw",
                      subject: str = "ingress.logs.journald",
                      keep: tuple = ()) -> DataFrame:
    """raw journald JSON → pre-parse envelope columns (text, tool=pattern-key
    string, fallback ts/level, service/host/org/env metadata, tags, partial
    fields). Feed the result through reassemble_partials + unify_journald.
    `keep` lists input columns to carry through unchanged (e.g. a row key)."""
    j = F.from_json(F.col(json_col), JOURNALD_SCHEMA,
                    {"columnNameOfCorruptRecord": "_corrupt_record"})
    g = lambda f: j[f]  # noqa: E731

    job_type = (
        F.when(_nz(g("COM_HASHICORP_NOMAD_ALLOC_ID")).isNotNull(), F.lit("nomad_job"))
         .when(_nz(g("CONTAINER_NAME")).isNotNull(), F.lit("container"))
         .otherwise(F.coalesce(
             F.element_at(_map_lit(FACILITY_TO_JOBTYPE), g("SYSLOG_FACILITY")),
             F.lit("")))
    )
    # toLogLevel (journald.go:309-333)
    fallback_level = (
        F.when(job_type == "nomad_job", F.lit("not_set"))
         .when(_nz(g("PRIORITY")).isNull(), F.lit("unknown"))
         .otherwise(F.coalesce(
             F.element_at(_map_lit(PRIORITY_TO_LEVEL), g("PRIORITY")),
             F.lit("not_set")))
    )
    job_name = F.coalesce(
        _nz(g("COM_HASHICORP_NOMAD_TASK_NAME")), _nz(g("CONTAINER_NAME")),
        _nz(g("_SYSTEMD_UNIT")), _nz(g("_SYSTEMD_SLICE")),
        _nz(g("_SYSTEMD_CGROUP")), _nz(g("SYSLOG_IDENTIFIER")), F.lit(""))
    app_name = F.coalesce(_nz(g("COM_GITHUB_LOGUNIFIER_APPLICATION_NAME")), job_name)

    strip = F.lower(F.coalesce(g("COM_GITHUB_LOGUNIFIER_APPLICATION_STRIP_ANSI"),
                               F.lit(""))).isin("true", "1", "t")
    from logunifier_spark.pipeline import ANSI_RE, resolve_pattern_key
    message = F.when(strip, F.regexp_replace(F.coalesce(g("message"), F.lit("")),
                                             ANSI_RE, "")
                     ).otherwise(F.coalesce(g("message"), F.lit("")))

    return df.select(
        *[F.col(c) for c in keep],
        F.col(json_col).alias("_raw_data"),
        message.alias("text"),
        resolve_pattern_key(g("COM_GITHUB_LOGUNIFIER_APPLICATION_PATTERN_KEY"))
            .alias("log_pattern_key"),
        F.timestamp_micros(g("__REALTIME_TIMESTAMP").cast("long")).alias("ts"),
        fallback_level.alias("fallback_level"),
        job_type.alias("service_type"),
        app_name.alias("service_name"),
        F.coalesce(g("COM_GITHUB_LOGUNIFIER_APPLICATION_VERSION"), F.lit(""))
            .alias("service_version"),
        F.coalesce(_nz(g("COM_GITHUB_LOGUNIFIER_APPLICATION_STACK")),
                   g("COM_HASHICORP_NOMAD_JOB_NAME"), F.lit("")).alias("service_stack"),
        F.coalesce(_nz(g("COM_GITHUB_LOGUNIFIER_APPLICATION_NAMESPACE")),
                   g("COM_HASHICORP_NOMAD_NAMESPACE"), F.lit("")).alias("service_namespace"),
        F.coalesce(g("COM_HASHICORP_NOMAD_TASK_GROUP_NAME"), F.lit("")).alias("service_group"),
        F.coalesce(g("COM_HASHICORP_NOMAD_NODE_NAME"), F.lit("")).alias("service_node_name"),
        F.coalesce(g("host"), F.lit("")).alias("host_name"),
        F.coalesce(g("_MACHINE_ID"), F.lit("")).alias("host_id"),
        F.coalesce(g("COM_GITHUB_LOGUNIFIER_APPLICATION_ORG"), F.lit("")).alias("org_name"),
        F.coalesce(g("COM_GITHUB_LOGUNIFIER_APPLICATION_ENV"), F.lit("")).alias("environment"),
        F.when(_nz(g("CONTAINER_TAG")).isNotNull(),
               F.split(g("CONTAINER_TAG"), ",")).alias("tags"),
        g("CONTAINER_PARTIAL_ID").alias("partial_id"),
        g("CONTAINER_PARTIAL_ORDINAL").alias("partial_ordinal"),
        g("CONTAINER_PARTIAL_LAST").alias("partial_last"),
        g("_corrupt_record").alias("_corrupt"),
        F.lit(subject).alias("_subject"),
    )
