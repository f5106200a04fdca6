"""Engine exception taxonomy.

Mirrors the error contract of the reference engine
(/root/reference/src/dve/core_engine/backends/exceptions.py:60-180) with a
minimal Spark-first surface: constraint violations raised by integrity
checks, misconfiguration raised at rule-parse time.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for all engine errors."""


class ConstraintError(EngineError):
    """A data constraint was violated (e.g. one-to-one join multiplied rows).

    Reference parity: ``dve.core_engine.backends.exceptions`` ConstraintError
    raised at spark/rules.py:217-259 and base/core.py:84-124.
    """

    def __init__(self, message: str, *, constraint: str | None = None):
        super().__init__(message)
        self.constraint = constraint


class ConfigurationError(EngineError, ValueError):
    """A rule/step/contract configuration is invalid: a bad value, so
    also a ``ValueError`` (as pydantic's ``ValidationError`` is)."""


class ExpressionsMisparseWarning(UserWarning):
    """A multi-expression string looks malformed (unclosed bracket/string)."""
