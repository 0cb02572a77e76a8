from .parse import LOG_PATTERN, DOMAIN_PATTERN, PARSED_SCHEMA
from .classify import (
    status_class_expr,
    action_family_expr,
    category_expr,
    status_fallback_expr,
    username_valid_expr,
)

__all__ = [
    "LOG_PATTERN",
    "DOMAIN_PATTERN",
    "PARSED_SCHEMA",
    "status_class_expr",
    "action_family_expr",
    "category_expr",
    "status_fallback_expr",
    "username_valid_expr",
]
