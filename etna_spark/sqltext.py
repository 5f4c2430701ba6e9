"""SQL text for the projections of the hot read paths.

A ``Column`` tree built with ``pyspark.sql.functions`` costs the driver one
py4j round trip per function call and per ``Column`` method, so a gap-fill
or near-dup plan of a few hundred nodes spent longer being built than its
Spark jobs ran. The operators on those paths instead write each projection
as SQL text parsed once by ``F.expr`` / ``selectExpr``, which yields the
same Catalyst expressions. Every identifier goes through :func:`ident`, so
column names with spaces, dots or backquotes work.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

# the frame of a running (cumulative) window
RUNNING = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def idents(names: Sequence[str]) -> str:
    return ", ".join(map(ident, names))


def double(x: float) -> str:
    """A DOUBLE literal (a bare ``0.5`` parses as DECIMAL)."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x}' AS DOUBLE)"


def over(partition: Sequence[str], order: str, frame: str = "") -> str:
    """``OVER (PARTITION BY <partition> ORDER BY <order> <frame>)``;
    ``order`` and ``frame`` are SQL text."""
    part = f"PARTITION BY {idents(partition)} " if partition else ""
    return f"OVER ({part}ORDER BY {order}{' ' + frame if frame else ''})"


def rows_back(n: int) -> str:
    """The frame of the current row and the ``n`` rows before it."""
    start = f"{n} PRECEDING" if n > 0 else "CURRENT ROW"
    return f"ROWS BETWEEN {start} AND CURRENT ROW"
