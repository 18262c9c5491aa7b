"""Timestamp handling helpers.

Spark's ``TimestampType`` is microsecond precision. For nanosecond data the
engine follows the reference's convention (reference:
python/tempo/tsdf.py:86-150): represent the timestamp as a ``DoubleType``
epoch-seconds value whose fractional part carries sub-microsecond digits,
parsed from the original string.

All helpers build Column expressions only — no eager actions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    NumericType,
    TimestampType,
    TimestampNTZType,
)


def is_time_like(dtype) -> bool:
    return isinstance(
        dtype, (TimestampType, TimestampNTZType, DateType, NumericType)
    )


def ts_to_double(col: Column, dtype=None) -> Column:
    """Epoch seconds (with fractional part) as double for any time-like column.

    Casting a Spark timestamp to double yields epoch seconds with microsecond
    fraction; numeric columns pass through unchanged. TIMESTAMP_NTZ has no
    direct double cast — route it through TIMESTAMP (session-tz interpretation;
    sessions should pin UTC) — and DATE has no double cast at all — route it
    through TIMESTAMP too (midnight, order-preserving); both require passing
    the ``dtype``. Under ANSI mode any other dtype (e.g. string) throws at
    runtime — callers that accept user columns should gate on
    :func:`is_time_like` first for a clear error.
    """
    if dtype is not None and isinstance(dtype, (TimestampNTZType, DateType)):
        return col.cast(TimestampType()).cast(DoubleType())
    return col.cast(DoubleType())


def ts_double_sql(expr: str, dtype=None) -> str:
    """SQL text of :func:`ts_to_double` over a SQL fragment."""
    if dtype is not None and isinstance(dtype, (TimestampNTZType, DateType)):
        expr = f"cast({expr} as timestamp)"
    return f"cast({expr} as double)"


def ts_double_from(df: DataFrame, col_name: str) -> Column:
    """Schema-aware variant of :func:`ts_to_double`."""
    import pyspark.sql.functions as F  # local alias; F already imported above

    return ts_to_double(F.col(col_name), df.schema[col_name].dataType)


def double_ts_expr(ts_str_col: Column) -> Column:
    """Parse ``YYYY-MM-DD[ T]HH:MM:SS[.fffffffff]`` strings into double epoch
    seconds, preserving sub-microsecond (nano) digits that ``to_timestamp``
    would truncate.
    """
    parts = F.split(ts_str_col, r"\.")
    whole = F.to_timestamp(parts.getItem(0))
    frac = F.when(
        F.size(parts) > 1,
        F.concat(F.lit("0."), parts.getItem(1)).cast(DoubleType()),
    ).otherwise(F.lit(0.0))
    return whole.cast(DoubleType()) + frac


def parse_nanos_timestamp(
    df: DataFrame,
    ts_col: str,
    parsed_col: str | None = None,
    double_ts_col: str | None = None,
) -> DataFrame:
    """Replace (or augment) a string timestamp column with a nanos-preserving
    double epoch column.

    - ``parsed_col``: if given, also keep a ``TimestampType`` (µs-truncated)
      parse of the original string under this name.
    - ``double_ts_col``: name for the double column; defaults to ``ts_col``
      (in-place replacement).

    Mirrors the behavior of the reference's ``parse_nanos_timestamp``
    (reference: python/tempo/tsdf.py:86-129) without any eager action.
    """
    out = double_ts_col or ts_col
    cols = [df[c] for c in df.columns]
    result = df
    if parsed_col:
        result = result.withColumn(parsed_col, F.to_timestamp(F.col(ts_col)))
    result = result.withColumn(out, double_ts_expr(F.col(ts_col)))
    del cols
    return result
