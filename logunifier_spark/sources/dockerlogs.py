"""Docker-logs (vector-docker) ingress — S9.

Re-creates the reference's dormant docker converter
(/root/reference/internal/streams/ingress/dockerlogs/docker.go:1-116). That
file ships FULLY COMMENTED OUT, and every symbol it names outside its own
package — patterns.KeyCloakPattern, patterns.CommonUtcPatternWithCommaTsAndTz,
patterns.ConsulConnectPattern, patterns.CommonPattern,
model.ToUnmarshalError, ingress.IndexedContainerLabel* — was deleted from
the active packages, so the original grok definitions are unrecoverable.
Everything the commented source DOES specify is re-created exactly:

  - the vector-docker JSON shape (IngessSubjectDockerLogs, docker.go:17-40,
    including the dotted `com.hashicorp.nomad.*` label keys)
  - pattern-key precedence: nomad task name, else container name (:54-57)
  - the container→pattern dispatch with its dynamic rules (:58-72):
    "keycloak" → KeyCloakPattern, "nexus" → CommonUtcPatternWithCommaTsAndTz,
    prefix "connect-proxy-" → ConsulConnectPattern,
    suffix "postgres" → ConsulConnectPattern, else CommonPattern
  - parse-with-defaults: level `unknown` and the entry's own timestamp when
    the message supplies neither (:75-81)
  - the EcsLogEntry projection (:83-115): ORIGINAL message (not the grok
    remainder), tags = [source_type], container identity plus the four
    indexed nomad labels, host.name, and labels
    ingress="vector-docker" / used_pattern=<dispatched pattern>

The four dead pattern constants survive as DISPATCH NAMES (the
`used_pattern` label value the reference indexes on); for actual ts/level
extraction each maps onto the live TsLevelMsg bank — all four were
"timestamp + level prefix" grok shapes, and no stronger fidelity is
recoverable from the reference. Label-map keys reconstruct the dead
`IndexedContainerLabel*` identifiers as snake_case. Corrupt JSON follows
this repo's journald convention: a stable process-error reason instead of
Go's runtime-specific error string, with level `fatal` (the unify()
ecs-unparseable convention).

All native from_json + column expressions; ts/level extraction is the
shared Arrow-UDF parse bank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logunifier_spark.sources.common import nz as _nz
from pyspark.sql.types import StructField, StructType, StringType, TimestampType

DOCKER_UNMARSHAL_REASON = "can't unmarshal docker json"
INGRESS_LABEL = "vector-docker"

_LABEL_FIELDS = [
    "com.hashicorp.nomad.alloc_id", "com.hashicorp.nomad.job_id",
    "com.hashicorp.nomad.job_name", "com.hashicorp.nomad.namespace",
    "com.hashicorp.nomad.node_id", "com.hashicorp.nomad.node_name",
    "com.hashicorp.nomad.task_group_name", "com.hashicorp.nomad.task_name",
    "org.opencontainers.image.revision", "org.opencontainers.image.source",
    "org.opencontainers.image.title",
]

# IngessSubjectDockerLogs (docker.go:17-40)
DOCKER_SCHEMA = StructType([
    StructField("container_created_at", TimestampType()),
    StructField("container_id", StringType()),
    StructField("container_name", StringType()),
    StructField("host", StringType()),
    StructField("image", StringType()),
    StructField("label", StructType(
        [StructField(f, StringType()) for f in _LABEL_FIELDS])),
    StructField("message", StringType()),
    StructField("source_type", StringType()),
    StructField("stream", StringType()),
    StructField("timestamp", TimestampType()),
    StructField("_corrupt_record", StringType()),
])


def dispatch_pattern(pattern_key_name):
    """containerToPattern + the dynamic prefix/suffix rules
    (docker.go:43-46, 58-72). Returns the reference pattern NAME (the
    used_pattern label value)."""
    return (
        F.when(pattern_key_name == "keycloak", F.lit("KeyCloakPattern"))
         .when(pattern_key_name == "nexus",
               F.lit("CommonUtcPatternWithCommaTsAndTz"))
         .when(pattern_key_name.startswith("connect-proxy-"),
               F.lit("ConsulConnectPattern"))
         .when(pattern_key_name.endswith("postgres"),
               F.lit("ConsulConnectPattern"))
         .otherwise(F.lit("CommonPattern"))
    )


def docker_to_ecs(df: DataFrame, json_col: str = "raw",
                  keep: tuple = ()) -> DataFrame:
    """raw vector-docker JSON → ECS-shaped rows (the converter emits
    EcsLogEntry directly, docker.go:48-115 — it does NOT go through the
    MetaLog/patternfactory flow, so neither does this).

    Output: (id, timestamp, message, log_level, tags, container_id,
    container_name, container_created_at, container_image,
    container_labels, host_name, labels, process_error_reason)."""
    from logunifier_spark.operators.parse import parse_turns

    j = F.from_json(F.col(json_col), DOCKER_SCHEMA,
                    {"columnNameOfCorruptRecord": "_corrupt_record"})
    g = lambda f: j[f]  # noqa: E731
    lab = lambda f: j["label"][f"com.hashicorp.nomad.{f}"]  # noqa: E731
    corrupt = g("_corrupt_record").isNotNull()

    # patternKey := task_name, else container_name (docker.go:54-57)
    pattern_key_name = F.coalesce(_nz(lab("task_name")),
                                  _nz(g("container_name")), F.lit(""))
    used_pattern = dispatch_pattern(pattern_key_name)

    df = df.withColumns({
        "_j": j,
        "_msg": F.coalesce(g("message"), F.lit("")),
        "_pattern_key_name": pattern_key_name,
        "_used_pattern": used_pattern,
    })
    # ts/level via the live TsLevelMsg bank (see module docstring); keep the
    # UDF argument a plain projected column — struct-field expressions as
    # Python-UDF args break ExtractPythonUDFs
    df = df.withColumn("_parsed",
                       parse_turns(F.col("_msg"), F.lit("TsLevelMsg")))

    j2 = F.col("_j")
    g2 = lambda f: j2[f]  # noqa: E731
    lab2 = lambda f: j2["label"][f"com.hashicorp.nomad.{f}"]  # noqa: E731
    p = F.col("_parsed")
    ne = F.coalesce  # not-empty helper shorthand

    return df.select(
        *[F.col(c) for c in keep],
        # reference: model.UUID() — deterministic here, like the rest of
        # the repo (sha2 of the raw payload)
        F.sha2(F.coalesce(F.col(json_col), F.lit("")), 256).alias("id"),
        # ParseWitDefaults: parsed ts, else the entry's own timestamp
        F.coalesce(p["ts"], g2("timestamp")).alias("timestamp"),
        F.when(corrupt, F.lit("")).otherwise(F.col("_msg")).alias("message"),
        F.when(corrupt, F.lit("fatal"))
         .otherwise(F.coalesce(p["level"], F.lit("unknown"))).alias("log_level"),
        F.when(~corrupt & g2("source_type").isNotNull(),
               F.array(g2("source_type"))).alias("tags"),
        ne(g2("container_id"), F.lit("")).alias("container_id"),
        ne(g2("container_name"), F.lit("")).alias("container_name"),
        g2("container_created_at").alias("container_created_at"),
        ne(g2("image"), F.lit("")).alias("container_image"),
        # the four indexed container labels (docker.go:101-106)
        F.when(~corrupt, F.map_from_arrays(
            F.array(F.lit("stack_name"), F.lit("task_group"),
                    F.lit("task"), F.lit("namespace")),
            F.array(ne(lab2("job_name"), F.lit("")),
                    ne(lab2("task_group_name"), F.lit("")),
                    F.col("_pattern_key_name"),
                    ne(lab2("namespace"), F.lit(""))),
        )).alias("container_labels"),
        ne(g2("host"), F.lit("")).alias("host_name"),
        # indexed entry labels (docker.go:111-114)
        F.when(~corrupt, F.map_from_arrays(
            F.array(F.lit("ingress"), F.lit("used_pattern")),
            F.array(F.lit(INGRESS_LABEL), F.col("_used_pattern")),
        )).alias("labels"),
        F.when(corrupt, F.lit(DOCKER_UNMARSHAL_REASON))
         .alias("process_error_reason"),
    )
