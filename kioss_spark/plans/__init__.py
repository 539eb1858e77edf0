"""Plan inspection — the reference's repr/display visitor
(streamable/visitors/representation.py:29-149) maps to two things here:
the Stream's own logical-chain rendering (``str(stream)``) and Catalyst's
EXPLAIN (``stream.explain()``). Helpers below inspect physical plans for the
properties the 100 TB target cares about (pushdown, broadcast, codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


class PlanVisitor:
    """Public extensibility hook over the Stream's logical chain — the
    reference's Visitor pattern (streamable/stream.py:106-110,
    visitors/base.py:9-55). Subclass and override ``visit_source`` /
    ``visit_step``; ``Stream.accept(visitor)`` walks source-first and
    returns ``visitor.result()``.

    The walk is over the facade's operator chain (what the user declared),
    not Catalyst's plan — for the physical side use ``physical_plan``.
    """

    def visit_source(self, step: str) -> None:  # pragma: no cover - default no-op
        self.visit_step(step, 0)

    def visit_step(self, step: str, index: int) -> None:
        """Called once per operator, source-first. ``step`` is the operator's
        rendered form (e.g. ``map(fn, concurrency=1, ordered=True)``)."""

    def result(self):
        return None


class ToStringVisitor(PlanVisitor):
    """Renders the chain the way the reference's repr visitor does
    (streamable/visitors/representation.py:29-128): source first, one
    dotted line per operator."""

    def __init__(self) -> None:
        self._lines: list = []

    def visit_step(self, step: str, index: int) -> None:
        prefix = "    " if index == 0 else "    ."
        self._lines.append(prefix + step)

    def result(self) -> str:
        return "Stream(\n" + "\n".join(self._lines) + "\n)"
