"""Validate-and-fix: null-coalescing defaults + error accumulation.

Re-creates /root/reference/internal/streams/process/validate.go:9-81 with the
exact default strings, exact message strings and the exact ",\\n" join of
/root/reference/pkg/model/extensions.go:229-243 — all as native Spark column
expressions (one whole-stage-codegen projection, no UDF).

Field-emptiness semantics: proto3 empty string == unset on the wire, so the
flat-column ``col is null or col == ''`` test is equivalent to the
reference's ``struct == nil || len(field) == 0`` checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logunifier_spark.functions.levels import (
    EMOJI_APM,
    EMOJI_MARKER,
    EMOJI_STACKTRACE,
    LEVEL_TO_EMOJI,
)
from logunifier_spark.session import per_context

def _emoji_map() -> Column:
    # built lazily: F.lit needs an active SparkContext
    return F.create_map(*[F.lit(x) for kv in LEVEL_TO_EMOJI.items() for x in kv])


def _unset(c: Column) -> Column:
    return c.isNull() | (c == "")


def validate_and_fix(df: DataFrame, fallback_ts_col: str = "ts") -> DataFrame:
    """Apply the 12 checks in reference order; accumulate messages; apply
    defaults; clear empty processError/validationError; set marker emojis."""
    return df.withColumns(_validate_projections(fallback_ts_col))


@per_context
def _validate_projections(fallback_ts_col: str) -> dict[str, Column]:
    """validate_and_fix's one projection: checks + defaults, the
    processError clear and the marker emojis. Each reads only columns the
    others do not write, so all three see the input row."""
    checks: list[tuple[Column, str]] = [
        (_unset(F.col("log_ingress")), "Ingress is empty"),
        (_unset(F.col("org_name")), "No organisation name set"),
        (_unset(F.col("service_name")), "Service name is empty"),
        (_unset(F.col("log_logger")), "No Logger set"),
        (_unset(F.col("service_type")), "Service type is empty"),
        (F.col("log_level") == "not_set", "Log level not found"),
        (F.col("timestamp").isNull(), "Timestamp not found. Set to fallback"),
        (_unset(F.col("log_pattern_key")), "No pattern found"),
        (_unset(F.col("environment")), "No environment set"),
        (_unset(F.col("service_stack")), "No stack set"),
        (_unset(F.col("service_namespace")), "No namespace set"),
        (_unset(F.col("host_name")), "No host name set"),
    ]
    errors = F.array_compact(F.array(
        *[F.when(cond, F.lit(msg)) for cond, msg in checks]
    ))
    new_errors = F.when(F.size(errors) > 0, F.array_join(errors, ",\n"))
    # AppendValidationError (extensions.go:229-243) appends to any errors the
    # envelope already carries (native-ECS JSON may ship a validationError)
    existing = F.nullif(F.col("validation_errors"), F.lit(""))
    validation = (F.when(existing.isNotNull() & new_errors.isNotNull(),
                         F.concat(existing, F.lit(",\n"), new_errors))
                   .when(existing.isNotNull(), existing)
                   .otherwise(new_errors))

    def dflt(c: str, v: str) -> Column:
        return F.coalesce(F.nullif(F.col(c), F.lit("")), F.lit(v)).alias(c)

    defaults = {
        "validation_errors": validation,
        "log_ingress": dflt("log_ingress", "Empty"),
        "org_name": dflt("org_name", "NoOrg"),
        # SetOrgName also pins Organization.Id="0" (extensions.go:146-150)
        "org_id": F.when(_unset(F.col("org_name")), F.lit("0"))
                   .otherwise(F.col("org_id")),
        "service_name": dflt("service_name", "Empty"),
        "log_logger": dflt("log_logger", "Empty"),
        "service_type": dflt("service_type", "Empty"),
        "timestamp": F.coalesce(F.col("timestamp"), F.col(fallback_ts_col)),
        "log_pattern_key": dflt("log_pattern_key", "NoPattern"),
        "environment": dflt("environment", "NoEnv"),
        "service_stack": dflt("service_stack", "NoStack"),
        "service_namespace": dflt("service_namespace", "NoNameSpace"),
        "host_name": dflt("host_name", "NoHost"),
    }

    # clear empty processError (validate.go:70-77): nil when no reason
    no_proc = _unset(F.col("process_error_reason"))
    clear = {
        "process_error_reason": F.when(~no_proc, F.col("process_error_reason")),
        "process_error_subject": F.when(~no_proc, F.col("process_error_subject")),
        "process_error_raw_data": F.when(~no_proc, F.col("process_error_raw_data")),
    }

    # SetMarkerEmojis + SetMarkerApm (extensions.go:183-198)
    emoji = F.element_at(_emoji_map(), F.col("log_level"))
    emoji = F.when(F.size(F.coalesce(F.col("tags"), F.array())) > 0,
                   F.concat(emoji, F.lit(" " + EMOJI_MARKER))).otherwise(emoji)
    emoji = F.when(~_unset(F.col("error_stack_trace")),
                   F.concat(emoji, F.lit(" " + EMOJI_STACKTRACE))).otherwise(emoji)
    emoji = F.when(~_unset(F.col("trace_id")),
                   F.concat(emoji, F.lit(" " + EMOJI_APM))).otherwise(emoji)
    return {**defaults, **clear, "log_level_emoji": emoji}
