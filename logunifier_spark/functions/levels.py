"""Literal lookup tables ported from the reference (values verbatim).

Sources:
  - level aliases        /root/reference/pkg/model/utils.go:58-86
  - level → emoji        /root/reference/pkg/model/utils.go:88-97
  - pattern-key strings  /root/reference/pkg/model/utils.go:49-56
  - priority → level     /root/reference/internal/streams/ingress/journald/journald.go:309-333
  - facility → job type  /root/reference/internal/streams/ingress/journald/journald.go:366-428
  - marker emojis        /root/reference/pkg/model/utils.go:115-126
"""

from __future__ import annotations

# 25 alias rows + the 2 canonical non-levels (model/utils.go:58-86)
STRING_TO_LEVEL = {
    "trace": "trace", "trc": "trace", "fine": "trace", "finer": "trace",
    "finest": "trace",
    "debug": "debug", "config": "debug", "dbg": "debug", "dbug": "debug",
    "info": "info", "inf": "info", "notice": "info",
    "wrn": "warn", "warn": "warn", "warning": "warn",
    "severe": "error", "error": "error", "err": "error", "alert": "error",
    "fatal": "fatal", "emerg": "fatal", "emergency": "fatal",
    "crit": "fatal", "critical": "fatal",
    "unknown": "unknown", "not_set": "not_set",
}

LEVEL_TO_EMOJI = {
    "trace": "👀", "debug": "🐞", "info": "✅", "warn": "⚠️",
    "error": "🚨", "fatal": "🔥", "unknown": "🤷", "not_set": "⁉️",
}

EMOJI_MARKER = "🏷️"        # tags present
EMOJI_STACKTRACE = "🔖️"    # stack trace present
EMOJI_APM = "🧬"           # traceID present

# pattern-key string -> enum name (model/utils.go:49-56; unmapped -> Nop).
# note: "clf" is deliberately absent — the reference never maps it from a
# string (metalog.proto has the Clf enum but utils.go omits it).
STRING_TO_PATTERN_KEY = {
    "nop": "Nop",
    "logfmt": "LogFmt",
    "ecs": "Ecs",
    "tslevelmsg": "TsLevelMsg",
    "envoy": "Envoy",
    "traefik": "Traefik",
}

# journald PRIORITY -> level (journald.go:309-333); "" -> unknown,
# any other value -> not_set; nomad-job rows -> not_set (handled by caller)
PRIORITY_TO_LEVEL = {
    "0": "fatal", "1": "fatal", "2": "fatal",
    "3": "error", "4": "warn", "5": "info", "6": "info", "7": "debug",
}

# SYSLOG_FACILITY code -> job type (journald.go:366-428)
FACILITY_TO_JOBTYPE = {
    "0": "kernel", "1": "user", "2": "mail", "3": "daemon", "4": "auth",
    "5": "syslog", "6": "lpr", "7": "news", "8": "uucp", "9": "cron",
    "10": "authpriv", "11": "ftp", "12": "ntp", "13": "security",
    "14": "console", "15": "solaris-cron",
    "16": "local-0", "17": "local-1", "18": "local-2", "19": "local-3",
    "20": "local-4", "21": "local-5", "22": "local-6", "23": "local-7",
}

MSG_UNPARSEABLE = ("Can't parse a MetaLog with process errors. "
                   "See the ProcessError Raw message for further debugging")
