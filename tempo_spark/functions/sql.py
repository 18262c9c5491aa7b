"""The SQL-expression kit: the one place that renders SQL text.

tempo_spark has no expression IR of its own — the text it pastes into
``F.expr``/``selectExpr`` IS its expression layer (one parse per output
column instead of one py4j round trip per Column node). Every module
builds that text from these helpers; a local quoter, escaper, quantizer
or OVER builder is a copy that will drift:

- :func:`ident` — a backtick-quoted identifier (backticks doubled, so
  any legal column name survives the parse);
- :func:`str_lit` / :func:`double_lit` — string and DoubleType literals;
- :func:`grid6` / :func:`grid6_sql` / :func:`grid6_key` — THE 1e-6 value
  grid, as a Column, as SQL text, and as its scaled bigint rank key;
- :func:`over_sql` — an ``OVER (PARTITION BY … ORDER BY … [frame])``
  clause.

The 1e-6 grid is the repo's single cross-engine quantization. Every
exactness-contract operator (ACF/CCF/pairwise corr, changepoint, trend,
seasonal decomposition, LTTB, drawdown, indicators, forecasts, the
pipeline's fractions and similarity scores) quantizes values with the
same ``floor(x*1e6 + 0.5)/1e6`` so decimal sufficient sums replay
bit-for-bit on an external engine, where ``round()`` would not (Spark's
HALF_UP BigDecimal and DuckDB's float multiply disagree on binary-fraction
midpoints).

Why the grid is guarded: NaN and NULL both quantize to NULL. Unguarded,
``floor(NaN)`` is 0 in Spark, so a NaN silently became the value 0.0 —
counted as an observation, selected as a bucket minimum, averaged into a
phase mean. Left as NaN it is no better: Spark sorts and maxes NaN ABOVE
every real number (corrupting running peaks and percentiles), and the
ANSI double→decimal cast of NaN aborts the job deep in the plan. As NULL
it is excluded from statistics exactly like a missing value.
"""

from __future__ import annotations

import math
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

#: the window frame of every running (prefix) aggregate
RUNNING = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def ident(name: str) -> str:
    """Backtick-quote a column name for embedding in a SQL fragment."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(s: str) -> str:
    """SQL string literal (C-style escapes, Spark's default literal
    dialect)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_lit(x: float) -> str:
    """Shortest-round-trip SQL double literal: ``repr`` parses back to the
    identical IEEE double and the ``D`` suffix pins DoubleType, so the
    parsed expression carries the same value as ``F.lit(float(x))``."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite literal: {x!r}")
    return repr(v) + "D"


def _as_double(c) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("double")


def _ok(d: Column) -> Column:
    return d.isNotNull() & ~F.isnan(d)


def _scaled(d: Column) -> Column:
    return F.floor(d * 1e6 + F.lit(0.5))


def grid6(c) -> Column:
    """The 1e-6 grid over a column name or Column; NULL for NULL *and
    NaN* inputs. Builds the same tree as ``F.expr(grid6_sql(...))``."""
    d = _as_double(c)
    return F.when(_ok(d), _scaled(d) / F.lit(1e6))


def grid6_key(c) -> Column:
    """The grid as its scaled bigint (``grid6 × 1e6``): an exact integer
    rank key, NULL for NULL and NaN."""
    d = _as_double(c)
    return F.when(_ok(d), _scaled(d))


def grid6_sql(expr: str) -> str:
    """SQL text of :func:`grid6` over a SQL fragment — pass
    ``ident(name)`` for a column."""
    d = f"cast({expr} as double)"
    return (
        f"(CASE WHEN {d} IS NOT NULL AND NOT isnan({d}) "
        f"THEN floor({d} * 1000000.0D + 0.5D) / 1000000.0D END)"
    )


def over_sql(
    partition: Sequence[str] = (), order: Sequence[str] = (), frame: str = ""
) -> str:
    """``OVER (PARTITION BY … ORDER BY … [frame])`` from SQL fragments:
    partition expressions, order items with their direction, and an
    optional frame clause. Empty parts are left out."""
    spec = []
    if partition:
        spec.append("PARTITION BY " + ", ".join(partition))
    if order:
        spec.append("ORDER BY " + ", ".join(order))
    if frame:
        spec.append(frame)
    return "OVER (" + " ".join(spec) + ")"
