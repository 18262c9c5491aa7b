"""Multi-column data-skipping layout for plain parquet: Z-order (Morton).

Delta's ``OPTIMIZE ... ZORDER BY`` is unavailable on parquet-only
deployments (and in this sandbox — see sources/io.py's fallback); the
layout itself is just arithmetic: interleave the bits of quantized
column values into one Morton code, range-partition + sort by it, and
parquet row-group min/max statistics on BOTH columns become selective
for 2-D predicates (time × series, lat × lon, price × size). Readers
need no special support — pushed-down filters skip row groups whose
per-column ranges miss, which the Z-curve keeps tight in every
interleaved dimension at once.

Everything is JVM-side long arithmetic (shiftleft / bitwise or-and), so
the code column is codegen-friendly and cross-engine replayable
bit-for-bit (the correctness gate pins it against DuckDB).
"""

from __future__ import annotations

from typing import Mapping, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from tempo_spark.functions.sql import ident


def _quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Clamp to [lo, hi] and quantize to an integer in [0, 2^bits - 1].

    The float op order (subtract, divide, multiply, floor) is fixed so
    any engine reproduces the same cell for the same double input."""
    span = float(hi) - float(lo)
    d = col.cast("double")
    clamped = F.least(F.greatest(d, F.lit(float(lo))), F.lit(float(hi)))
    q = F.floor(
        (clamped - F.lit(float(lo))) / F.lit(span) * F.lit(float((1 << bits) - 1))
    ).cast("long")
    # explicit null/NaN guard: Spark's greatest/least SKIP nulls (a null
    # input would silently land in the lo edge cell) and order NaN above
    # everything (silently the hi cell) — both must yield a NULL code
    return F.when(d.isNotNull() & ~F.isnan(d), q)


def with_morton_code(
    df: DataFrame,
    col_bounds: Mapping[str, Tuple[float, float]] | Sequence[Tuple[str, Tuple[float, float]]],
    out: str = "morton",
    bits: int = 16,
) -> DataFrame:
    """Add a Morton (Z-order) code column interleaving the quantized bits
    of 2+ numeric columns.

    ``col_bounds``: ordered ``{column: (lo, hi)}`` — bounds are FIXED
    constants (a schema decision, like a bucketing count), not data
    statistics: the code must not change when data grows, or an appended
    shard would interleave on a different grid than the existing files.
    Values outside the bounds clamp to the edge cell. A NULL in any
    input column yields a NULL code (sort it last; nulls cluster in the
    final row groups).

    ``bits`` per column; ``n_cols * bits`` must fit in 63 (a signed
    long). Bit j of column i lands at position ``j * n_cols + (n_cols -
    1 - i)`` — the first column owns the most significant bit of each
    group, so it is the coarsest sort dimension.

    Returns df + the long code column; feed :func:`zorder_frame` (or
    your own ``repartitionByRange(out).sortWithinPartitions(out)``)
    before writing.
    """
    items = (
        list(col_bounds.items())
        if isinstance(col_bounds, Mapping)
        else [(c, b) for c, b in col_bounds]
    )
    if len(items) < 2:
        raise ValueError("with_morton_code needs >= 2 columns to interleave")
    n = len(items)
    if n * bits > 63:
        raise ValueError(
            f"{n} cols x {bits} bits = {n * bits} code bits; must be <= 63"
        )
    if out in df.columns:
        raise ValueError(f"output column {out!r} already exists")
    qnames = [f"__mq_{i}" for i in range(n)]
    clash = ({out, *qnames}) & set(df.columns)
    if clash - {out}:
        raise ValueError(f"reserved staging columns present: {sorted(clash)}")
    for c, (lo, hi) in items:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
        if not (hi > lo):
            raise ValueError(f"bounds for {c!r} must satisfy hi > lo, got ({lo}, {hi})")
    # stage each quantized value ONCE, then interleave with a single
    # parsed-SQL expression: the Column-API loop form built ~4·n·bits py4j
    # nodes and re-inlined the whole clamp/floor subtree per bit (the
    # plan-build latency class CLAUDE.md flags; parsed exprs measured 6×
    # faster bit-identical on simhash). NULL/NaN inputs stay NULL: the
    # staged q is NULL and every shift/or over it propagates NULL.
    staged = df
    for qn, (c, (lo, hi)) in zip(qnames, items):
        staged = staged.withColumn(qn, _quantize(F.col(c), lo, hi, bits))
    terms = [
        f"shiftleft(shiftright({ident(qn)}, {j}) & 1, {j * n + (n - 1 - i)})"
        for i, qn in enumerate(qnames)
        for j in range(bits)
    ]
    code = F.expr(" | ".join(terms))
    return staged.withColumn(out, code).drop(*qnames)


def zorder_frame(
    df: DataFrame,
    col_bounds: Mapping[str, Tuple[float, float]],
    n_partitions: int,
    bits: int = 16,
    keep_code: bool = False,
) -> DataFrame:
    """Re-lay a frame on the Z-curve for writing: Morton code →
    ``repartitionByRange`` (range exchange — each output file owns a
    contiguous curve segment) → ``sortWithinPartitions`` (tight row-group
    min/max inside each file). Write the result with a plain
    ``.write.parquet(...)``; predicates on ANY of the interleaved
    columns then skip files and row groups.

    ``keep_code=True`` retains the code column in the written schema
    (useful for debugging skipping behavior; readers ignore it).
    """
    if keep_code and "zorder_code" in df.columns:
        raise ValueError(
            "column 'zorder_code' already exists (re-laying out a "
            "keep_code output? drop it first)"
        )
    # asc_nulls_last so NULL-code rows land in the FINAL file/row groups
    # as documented (Spark's default ascending sort places NULLs first)
    coded = with_morton_code(df, col_bounds, out="__zorder", bits=bits)
    laid = coded.repartitionByRange(
        n_partitions, F.col("__zorder").asc_nulls_last()
    ).sortWithinPartitions(F.col("__zorder").asc_nulls_last())
    if keep_code:
        return laid.withColumnRenamed("__zorder", "zorder_code")
    return laid.drop("__zorder")
