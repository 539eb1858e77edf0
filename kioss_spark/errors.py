"""Errors-as-data — the reference's signature non-Spark idea.

In the reference, a per-element exception propagates through the pipeline *in
stream position* and iteration continues afterwards (reference:
tests/test_stream.py:555-576); concurrent operators ship worker exceptions in
``ExceptionContainer`` envelopes and re-raise at the consumer (reference:
streamable/iterators.py:472-486); ``catch`` turns them back into control flow
or replacement values (reference: streamable/stream.py:112-131).

Spark-first translation: fallible operators emit an error struct column
``__err__: struct<kind string, message string>`` (null = success) and a null
value. ``catch`` filters/replaces on it; an *uncaught* non-null ``__err__``
raises at action time, positioned by the stream's ``__seq__`` order — the
exact analog of "re-raise at the consumer in stream position". This is also
what a robust 100 TB pipeline needs: per-record failure isolation instead of
task-level retry storms.
"""

from __future__ import annotations

import builtins

from pyspark.sql import types as T

#: sentinel for "no replacement" in catch() (reference: streamable/util/constants.py:1)
NO_REPLACEMENT = object()

ERR_COL = "__err__"
SEQ_COL = "__seq__"

ERR_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        # full MRO class names (subclass-first) so catch(kind) can match
        # isinstance-style with array_contains — the reference's semantics
        # (reference: streamable/iterators.py:89 uses isinstance)
        T.StructField("kinds", T.ArrayType(T.StringType()), True),
        T.StructField("message", T.StringType(), True),
    ]
)


def mro_names(cls: type) -> list:
    return [c.__name__ for c in cls.__mro__ if issubclass(c, BaseException)]


def err_dict(exc: BaseException) -> dict:
    return {
        "kind": type(exc).__name__,
        "kinds": mro_names(type(exc)),
        "message": str(exc),
    }


def rebuild_exception(kind: str, message: str) -> BaseException:
    """Best-effort reconstruction of the original exception type for the
    action-time re-raise (builtins only; anything else -> RuntimeError)."""
    cls = getattr(builtins, kind, None)
    if isinstance(cls, type) and issubclass(cls, BaseException):
        try:
            return cls(message)
        except Exception:  # pragma: no cover - exotic constructors
            pass
    return RuntimeError(f"{kind}: {message}")
