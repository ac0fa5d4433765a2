"""Native-ECS JSON ingress (pattern key `Ecs`).

Re-creates /root/reference/internal/streams/ingress/ecs/ecs.go:13-55 and the
FromJson quirks of /root/reference/pkg/model/extensions.go:307-358:
  - @timestamp is RFC3339Nano, normalized to UTC,
  - log.origin.file.line may arrive as JSON number OR string (from_json
    coerces numbers into a StringType field natively — verified),
  - log.level is an alias string mapped through StringToLogLevel,
  - a missing `log` object yields level not_set; a present `log` object with
    a missing level yields unknown (proto3 zero value),
  - invalid JSON sets ProcessError.Reason, which makes the process stage
    emit the can't-parse message + fatal (patternfactory.go:113-118).

All native `from_json` / column expressions — no Python in this path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# protojson field names (ecs.proto); only leaves the envelope consumes.
ECS_JSON_SCHEMA = (
    "struct<"
    "id:string,"
    "`@timestamp`:string,"
    "message:string,"
    "tags:array<string>,"
    "labels:map<string,string>,"
    "log:struct<level:string,logger:string,patternKey:string,ingress:string,"
    "  origin:struct<file:struct<name:string,line:string>,function:string>>,"
    "service:struct<name:string,version:string,type:string,stack:string,"
    "  namespace:string,group:string,node:struct<name:string>>,"
    "organization:struct<name:string,id:string>,"
    "environment:struct<name:string>,"
    "host:struct<name:string,hostname:string,id:string>,"
    "user:struct<name:string>,"
    "event:struct<kind:string>,"
    "trace:struct<trace:struct<id:string>,span:struct<id:string>>,"
    "error:struct<message:string,type:string,stack_trace:string,code:string,id:string>,"
    "processError:struct<reason:string,subject:string,rawData:string>,"
    "validationError:struct<errors:string>,"
    "_corrupt_record:string"
    ">"
)

# deviation from Go: encoding/json error strings are Go-runtime-specific;
# we use one stable reason string for undecodable payloads.
INVALID_JSON_REASON = "can't unmarshal ecs json"


def parse_ecs_json(text: Column) -> Column:
    """from_json against the ECS envelope schema. Malformed input lands in
    the struct's `_corrupt_record` field (PERMISSIVE mode) — the FromJson
    error-path marker."""
    return F.from_json(text, ECS_JSON_SCHEMA,
                       {"columnNameOfCorruptRecord": "_corrupt_record"})


def is_bad_ecs(j: Column) -> Column:
    return j.isNull() | j["_corrupt_record"].isNotNull()
