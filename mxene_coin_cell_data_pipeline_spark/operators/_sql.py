"""SQL-text builders for the cell chain's plans.

Normalize and the per-cycle feature plan write their expressions as SQL
text that the JVM parses once (``F.expr`` / ``selectExpr``), instead of
Column trees that Python builds one py4j call per node. Two rules keep
the text equal to the Column trees it replaced:

- every identifier is backtick-quoted, a backtick inside it doubled, so
  any header text (spaces, dots, quotes, backticks) names its column;
- every float literal is a DOUBLE literal: a bare SQL ``0.05`` or
  ``1000.0`` is a DECIMAL, which would change the arithmetic.

Values supplied by the user (a ``cell_id``) stay ``F.lit``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string(text: str) -> str:
    """``text`` as a SQL string literal (backslash escapes are on)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(x: float) -> str:
    """``x`` as a DOUBLE literal: ``repr`` round-trips, so the parsed
    value is the same double."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"  # 'nan', 'inf', '-inf'


def over(partition: Sequence[str], order: Sequence[str] = (), frame: str = "") -> str:
    """An ``OVER (...)`` clause partitioned by the ``partition`` columns
    (none: the whole frame) and ordered by the ``order`` columns."""
    spec = []
    if partition:
        spec.append("PARTITION BY " + ", ".join(map(ident, partition)))
    if order:
        spec.append("ORDER BY " + ", ".join(map(ident, order)))
    if frame:
        spec.append(frame)
    return "OVER (" + " ".join(spec) + ")"
