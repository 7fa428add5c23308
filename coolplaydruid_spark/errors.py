"""Druid-style query error envelope.

The reference specifies the exact error contract (HTTP 500 + JSON body)
at query/query-module-overview.md:60-87: fields ``error``,
``errorMessage``, ``errorClass``, ``host`` with error codes
"Query timeout" / "Query interrupted" / "Query cancelled" /
"Resource limit exceeded" / "Unknown exception".
"""

from __future__ import annotations

import socket
from typing import Any


class DruidQueryError(Exception):
    """Engine-level query failure carrying the Druid error envelope."""

    def __init__(
        self,
        error: str,
        message: str,
        error_class: str | None = None,
        host: str | None = None,
    ):
        super().__init__(message)
        self.error = error
        self.error_message = message
        self.error_class = error_class or type(self).__name__
        self.host = host or socket.gethostname()

    def envelope(self) -> dict[str, Any]:
        return {
            "error": self.error,
            "errorMessage": self.error_message,
            "errorClass": self.error_class,
            "host": self.host,
        }


class QueryTimeoutError(DruidQueryError):
    def __init__(self, message: str = "Query did not complete within configured timeout"):
        super().__init__("Query timeout", message)


class QueryCancelledError(DruidQueryError):
    def __init__(self, message: str = "Query cancelled"):
        super().__init__("Query cancelled", message)


class ResourceLimitExceededError(DruidQueryError):
    def __init__(self, message: str = "Resource limit exceeded"):
        super().__init__("Resource limit exceeded", message)


class UnknownQueryError(DruidQueryError):
    def __init__(self, message: str, error_class: str | None = None):
        super().__init__("Unknown exception", message, error_class=error_class)


def envelope_for(exc: Exception) -> dict[str, Any]:
    """Map any exception to the reference's JSON error envelope."""
    if isinstance(exc, DruidQueryError):
        return exc.envelope()
    return UnknownQueryError(str(exc), error_class=type(exc).__name__).envelope()
