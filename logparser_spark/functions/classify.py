"""Scalar classification expressions — all native Catalyst expressions
(whole-stage-codegen friendly), no Python in the hot path.

Semantics from the reference:
- status-class buckets + labels: StatisticsService.java:99-110 (the
  Russian labels are the reference's own output vocabulary, kept for
  parity).
- status fallback: LogFileParser.java:1127-1145.
- username validity: LogParserUtils.java:19-28.
- routing category: the reference silently drops rejects
  (LogFileParser.java:1062-1066); per the north rule we instead fan out
  to quarantine/denied/error/success/other sinks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STATUS_CLASS_LABELS = {
    "2xx": "2xx (Успех)",
    "3xx": "3xx (Перенаправление)",
    "4xx": "4xx (Ошибка клиента)",
    "5xx": "5xx (Ошибка сервера)",
    "other": "Другие",
}

CATEGORIES = ["quarantine", "denied", "error", "success", "other"]


# the status-class ranges as (lo, hi, label key), hi exclusive and None
# for no upper bound; a status in none of them, or null, is "other".
# ``status_class_expr`` and ``summary_state`` both classify from it
STATUS_CLASS_RANGES = [(200, 300, "2xx"), (300, 400, "3xx"), (400, 500, "4xx"), (500, None, "5xx")]


def status_class_expr(status: Column) -> Column:
    """CASE bucket per StatisticsService.java:99-110."""
    expr = F
    for lo, hi, key in STATUS_CLASS_RANGES:
        hit = status >= lo if hi is None else (status >= lo) & (status < hi)
        expr = expr.when(hit, STATUS_CLASS_LABELS[key])
    return expr.otherwise(STATUS_CLASS_LABELS["other"])


def action_family_expr(action: Column) -> Column:
    """Family used for enrichment + routing (dim_action contract)."""
    return (
        F.when(action.contains("DENIED") | action.contains("DENY"), "DENIED")
        .when(action.contains("HIT"), "HIT")
        .when(action.contains("MISS"), "MISS")
        .when(action.contains("TUNNEL"), "TUNNEL")
        .when(action.contains("REFRESH"), "REFRESH")
        .otherwise("OTHER")
    )


def status_fallback_expr(status_str: Column, action: Column) -> Column:
    """Pure-SQL variant of parseStatusCode (used by the no-UDF plan)."""
    return (
        F.when((status_str.isNotNull()) & (status_str != ""), status_str.cast("int"))
        .when(action.contains("DENIED") | action.contains("DENY"), F.lit(403))
        .when(
            action.contains("MISS")
            | action.contains("HIT")
            | action.contains("TUNNEL")
            | action.contains("REFRESH"),
            F.lit(200),
        )
        .otherwise(F.lit(0))
    )


def username_valid_expr(u: Column) -> Column:
    """Pure-SQL variant of isValidUsername."""
    return (
        u.isNotNull()
        & (u != "")
        & (u != "-")
        & (
            F.lower(u).contains("user")
            | (F.size(F.split(u, "_", -1)) - 1 >= 2)
        )
    )


def category_expr(valid: Column, action: Column, status: Column) -> Column:
    """Routing key: quarantine > denied > error > success > other."""
    return (
        F.when(valid == 0, "quarantine")
        .when(action.contains("DENIED") | action.contains("DENY"), "denied")
        .when(status >= 400, "error")
        .when((status >= 200) & (status < 400), "success")
        .otherwise("other")
    )
