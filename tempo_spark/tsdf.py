"""TSDF — a time-series view over a Spark DataFrame.

The central abstraction: a plain Spark ``DataFrame`` plus structural
metadata —

- ``ts_col``: the distinguished event-time column (TimestampType, or a
  numeric epoch column for nanosecond data),
- ``series_ids``: the columns identifying one logical series (may be empty
  for a single global series),
- ``sequence_col``: optional tie-breaker for records sharing a timestamp.

Capability parity target: the reference TSDF (reference:
python/tempo/tsdf.py:28-77). Architectural stance is Spark-first: every
operator builds a lazy DataFrame plan (window functions, groupBy
aggregations, joins) and lets Catalyst/AQE choose physical execution.
Unlike the reference, the constructor performs **no eager actions** —
string timestamp conversion is an explicit opt-in via
``tempo_spark.functions.timestamps.parse_nanos_timestamp``.

At scale: every per-series operator compiles to a single
``Exchange(hashpartitioning(series_ids))`` followed by sort + WindowExec.
Operators reuse one window spec wherever possible so consecutive window
functions share the same shuffle and sort.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterable, Optional, Sequence, Union

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql.types import (
    BooleanType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from tempo_spark.functions.sql import RUNNING, ident, over_sql
from tempo_spark.functions.timestamps import ts_double_from, ts_to_double

TsLiteral = Union[str, int, float]

#: column types summarizable by stats operators
_SUMMARIZABLE = (NumericType,)


def _pct_name(p: float, col: str) -> str:
    """Percentile output column name: integral percents keep the classic
    ``p50_x`` form; fractional percents spell the decimals with an
    underscore (``0.125`` → ``p12_5_x``) instead of silently colliding
    with their floor."""
    pct = p * 100
    if float(pct).is_integer():
        return f"p{int(round(pct)):02d}_{col}"
    return "p" + f"{pct:g}".replace(".", "_") + f"_{col}"


def _pct_names(percentiles, col: str) -> "list[str]":
    names = [_pct_name(p, col) for p in percentiles]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"percentiles collide on output names: {sorted(dupes)}")
    return names


class TSDF:
    """Time-series DataFrame wrapper. Immutable; every operator returns a new
    TSDF (or DataFrame where the result is no longer a time series)."""

    def __init__(
        self,
        df: DataFrame,
        ts_col: str = "event_ts",
        series_ids: Optional[Sequence[str]] = None,
        sequence_col: Optional[str] = None,
        *,
        partition_cols: Optional[Sequence[str]] = None,  # reference-style alias
        validate: bool = True,
        parse_string_ts: bool = False,
    ):
        if series_ids is None and partition_cols is not None:
            series_ids = partition_cols
        if parse_string_ts and ts_col in df.columns and isinstance(
            df.schema[ts_col].dataType, StringType
        ):
            # opt-in reference-constructor sugar (reference:
            # python/tempo/tsdf.py:70,131-161 converts string ts_cols in
            # __init__ after an eager head(1) format sample). Delegates to
            # the LAZY fromStringTs conversion — a to_timestamp column
            # expression, no eager scan; pass nanosecond strings through
            # TSDF.fromStringTs(nanos=True) explicitly instead.
            df = df.withColumn(ts_col, F.to_timestamp(F.col(ts_col)))
        self.df = df
        self.ts_col = ts_col
        self.series_ids: list[str] = list(series_ids or [])
        self.sequence_col = sequence_col
        if validate:
            self._validate()

    # ------------------------------------------------------------------ meta

    def _validate(self) -> None:
        fields = {f.name: f.dataType for f in self.df.schema.fields}
        if self.ts_col not in fields:
            raise ValueError(f"ts_col {self.ts_col!r} not in DataFrame columns {list(fields)}")
        t = fields[self.ts_col]
        if not isinstance(t, (TimestampType, TimestampNTZType, NumericType)):
            if isinstance(t, StringType):
                raise ValueError(
                    f"ts_col {self.ts_col!r} is a string; pass "
                    "parse_string_ts=True, use TSDF.fromStringTs, or convert "
                    "with tempo_spark.functions.timestamps."
                    "parse_nanos_timestamp / to_timestamp first"
                )
            raise ValueError(f"ts_col {self.ts_col!r} has unsupported type {t}")
        for c in self.series_ids:
            if c not in fields:
                raise ValueError(f"series id column {c!r} not in DataFrame")
        if self.sequence_col and self.sequence_col not in fields:
            raise ValueError(f"sequence_col {self.sequence_col!r} not in DataFrame")

    @property
    def structural_cols(self) -> list[str]:
        cols = [self.ts_col] + self.series_ids
        if self.sequence_col:
            cols.append(self.sequence_col)
        return cols

    @property
    def observational_cols(self) -> list[str]:
        s = set(self.structural_cols)
        return [c for c in self.df.columns if c not in s]

    @property
    def metric_cols(self) -> list[str]:
        """Numeric non-structural columns (the stats-summarizable set)."""
        s = set(self.structural_cols)
        return [
            f.name
            for f in self.df.schema.fields
            if f.name not in s and isinstance(f.dataType, _SUMMARIZABLE)
        ]

    def _with_df(self, df: DataFrame, **overrides) -> "TSDF":
        kw = dict(
            ts_col=self.ts_col,
            series_ids=self.series_ids,
            sequence_col=self.sequence_col,
            validate=False,
        )
        kw.update(overrides)
        return TSDF(df, **kw)

    # ------------------------------------------------------- constructors

    @classmethod
    def fromStringTs(
        cls,
        df: DataFrame,
        ts_col: str = "event_ts",
        series_ids: Optional[Sequence[str]] = None,
        sequence_col: Optional[str] = None,
        *,
        nanos: bool = False,
        partition_cols: Optional[Sequence[str]] = None,
    ) -> "TSDF":
        """Construct a TSDF from a frame whose ``ts_col`` is a STRING — the
        reference constructor's implicit string→timestamp conversion
        (reference: python/tempo/tsdf.py:70,131-161), made explicit and LAZY:
        the conversion is a column expression in the returned plan
        (``to_timestamp``, or the nanosecond-preserving double parse with
        ``nanos=True``), never an eager scan.

        A ``ts_col`` that is already time-like passes through unchanged, so
        reference idioms like ``TSDF(df, "string_timestamp", ...)`` port as
        ``TSDF.fromStringTs(df, "string_timestamp", ...)`` regardless of the
        incoming column type.
        """
        if series_ids is None and partition_cols is not None:
            series_ids = partition_cols
        dtype = df.schema[ts_col].dataType if ts_col in df.columns else None
        if isinstance(dtype, StringType):
            if nanos:
                from tempo_spark.functions.timestamps import parse_nanos_timestamp

                df = parse_nanos_timestamp(df, ts_col)
            else:
                df = df.withColumn(ts_col, F.to_timestamp(F.col(ts_col)))
        return cls(df, ts_col=ts_col, series_ids=series_ids,
                   sequence_col=sequence_col)

    # ------------------------------------------------------- metadata setters

    def withTsCol(self, ts_col: str) -> "TSDF":
        return TSDF(self.df, ts_col=ts_col, series_ids=self.series_ids,
                    sequence_col=self.sequence_col)

    def withPartitionCols(self, series_ids: Sequence[str]) -> "TSDF":
        return TSDF(self.df, ts_col=self.ts_col, series_ids=series_ids,
                    sequence_col=self.sequence_col)

    def withSequenceCol(self, sequence_col: Optional[str]) -> "TSDF":
        return TSDF(self.df, ts_col=self.ts_col, series_ids=self.series_ids,
                    sequence_col=sequence_col)

    def repartitioned(self, num_partitions: Optional[int] = None) -> "TSDF":
        """Hash-partition the frame by ``series_ids`` so every downstream
        per-series operator reuses ONE exchange: Spark satisfies a groupBy
        on ``(series, x)`` with subset-hash partitioning on ``series``
        alone, so chains like dedup → resample → upsample-window collapse
        from three exchanges to one (measured 1.5× on the b4 bench query).

        Apply right after the scan. Caveat for heavily-duplicated inputs: a
        pre-aggregation shuffle moves raw rows, so map-side combine happens
        post-shuffle — when the first operation is a high-reduction dedup,
        aggregating first may shuffle fewer bytes."""
        parts = [F.col(c) for c in self.series_ids]
        if not parts:
            return self
        df = (
            self.df.repartition(num_partitions, *parts)
            if num_partitions
            else self.df.repartition(*parts)
        )
        return self._with_df(df)

    # --------------------------------------------------------------- windows

    def base_window(self, reverse: bool = False) -> WindowSpec:
        """Per-series window ordered by (ts [, sequence])."""
        order = [F.col(self.ts_col)]
        if self.sequence_col:
            order.append(F.col(self.sequence_col))
        if reverse:
            order = [c.desc() for c in order]
        return Window.partitionBy(*[F.col(c) for c in self.series_ids]).orderBy(*order)

    def rows_window(self, start: int, end: int, reverse: bool = False) -> WindowSpec:
        return self.base_window(reverse).rowsBetween(start, end)

    def _micros_order(self) -> Column:
        ts_dtype = self.df.schema[self.ts_col].dataType
        return (
            ts_to_double(F.col(self.ts_col), ts_dtype) * F.lit(1_000_000.0)
        ).cast("long")

    def _exact_micros_order(self) -> Column:
        """EXACT epoch micros for ordering/thresholds. _micros_order's
        double round-trip (seconds × 1e6) is ±1µs off for ~24% of values
        in the 2038-2041 epoch band — enough to flip strict comparisons
        (the gaps lesson). Time-typed ts goes through unix_micros; double
        epoch ts keeps the round-trip (its precision IS the double).
        Single definition shared by gaps / lttb / acf / seasonal."""
        if self.df.schema[self.ts_col].dataType.typeName() in (
            "timestamp", "timestamp_ntz", "date",
        ):
            return F.unix_micros(F.col(self.ts_col).cast("timestamp"))
        return self._micros_order()

    def range_window(self, back_secs: float, fwd_secs: float = 0.0) -> WindowSpec:
        """Time-range window. Orders by epoch **microseconds** as long (Spark
        range frames need integral offsets), so sub-second lookbacks work."""
        return (
            Window.partitionBy(*[F.col(c) for c in self.series_ids])
            .orderBy(self._micros_order())
            .rangeBetween(-int(back_secs * 1_000_000), int(fwd_secs * 1_000_000))
        )

    def _growing_window(self, end_offset_micros: int) -> WindowSpec:
        """unboundedPreceding → offset frame. Spark evaluates growing frames
        incrementally (rows only ever enter), so aggregates over them are
        O(n) — unlike sliding range frames, which re-aggregate the whole
        frame per distinct boundary (O(n × frame_rows))."""
        return (
            Window.partitionBy(*[F.col(c) for c in self.series_ids])
            .orderBy(self._micros_order())
            .rangeBetween(Window.unboundedPreceding, end_offset_micros)
        )

    # ------------------------------------------------------------ DF passthru

    def select(self, *cols: str) -> "TSDF":
        """Projection that always retains structural columns
        (reference: python/tempo/tsdf.py:389-418)."""
        keep = list(dict.fromkeys(self.structural_cols + list(cols)))
        return self._with_df(self.df.select(*keep))

    def where(self, condition) -> "TSDF":
        return self._with_df(self.df.where(condition))

    filter = where

    def withColumn(self, name: str, col: Column) -> "TSDF":
        return self._with_df(self.df.withColumn(name, col))

    def union(self, other: "TSDF") -> "TSDF":
        return self._with_df(self.df.union(other.df))

    def unionByName(self, other: "TSDF") -> "TSDF":
        return self._with_df(self.df.unionByName(other.df))

    def drop(self, *cols: str) -> "TSDF":
        structural = set(self.structural_cols) & set(cols)
        if structural:
            raise ValueError(f"cannot drop structural columns {sorted(structural)}")
        return self._with_df(self.df.drop(*cols))

    def show(
        self, n: int = 20, k: int = 5, truncate: bool = True, vertical: bool = False
    ) -> None:
        """Show the ``k`` most recent records per series (reference:
        python/tempo/tsdf.py:579-618 — same ``k <= n`` contract), series-
        then-time ordered."""
        # strict validation: a caller positionally passing the OLD
        # (n, truncate) signature would otherwise bind truncate into k and
        # silently print 0 rows (bool is an int subclass — reject it too)
        if isinstance(k, bool) or not isinstance(k, int) or k < 1:
            raise ValueError(f"Parameter k must be a positive int, got {k!r}")
        if k > n:
            raise ValueError(f"Parameter k {k} cannot be greater than parameter n {n}")
        from tempo_spark.utils import get_display_df

        get_display_df(self, k).show(n, truncate, vertical)

    def __repr__(self) -> str:
        return (
            f"TSDF(ts_col={self.ts_col!r}, series_ids={self.series_ids!r}, "
            f"sequence_col={self.sequence_col!r}, columns={self.df.columns})"
        )

    # ---------------------------------------------------------------- slicing
    # reference: python/tempo/tsdf.py:441-506. Plain Column comparisons (the
    # reference builds SQL strings; Column ops get identical Catalyst plans
    # with predicate pushdown to the scan and no quoting pitfalls).

    def _ts_lit(self, ts: TsLiteral) -> Column:
        lit = F.lit(ts)
        if isinstance(ts, str):
            lit = lit.cast(self.df.schema[self.ts_col].dataType)
        return lit

    def at(self, ts: TsLiteral) -> "TSDF":
        return self._with_df(self.df.where(F.col(self.ts_col) == self._ts_lit(ts)))

    def before(self, ts: TsLiteral) -> "TSDF":
        return self._with_df(self.df.where(F.col(self.ts_col) < self._ts_lit(ts)))

    def atOrBefore(self, ts: TsLiteral) -> "TSDF":
        return self._with_df(self.df.where(F.col(self.ts_col) <= self._ts_lit(ts)))

    def after(self, ts: TsLiteral) -> "TSDF":
        return self._with_df(self.df.where(F.col(self.ts_col) > self._ts_lit(ts)))

    def atOrAfter(self, ts: TsLiteral) -> "TSDF":
        return self._with_df(self.df.where(F.col(self.ts_col) >= self._ts_lit(ts)))

    def between(self, start: TsLiteral, end: TsLiteral, inclusive: bool = True) -> "TSDF":
        c = F.col(self.ts_col)
        if inclusive:
            cond = (c >= self._ts_lit(start)) & (c <= self._ts_lit(end))
        else:
            cond = (c > self._ts_lit(start)) & (c < self._ts_lit(end))
        return self._with_df(self.df.where(cond))

    # ----------------------------------------------------------------- top-k
    # reference: python/tempo/tsdf.py:508-573 — per-series top-k via
    # row_number over the series window; one shuffle, no global sort.

    def _top_rows_per_series(self, n: int, reverse: bool) -> "TSDF":
        rn = "__tempo_rn"
        out = (
            self.df.withColumn(rn, F.row_number().over(self.base_window(reverse)))
            .where(F.col(rn) <= n)
            .drop(rn)
        )
        return self._with_df(out)

    def earliest(self, n: int = 1) -> "TSDF":
        return self._top_rows_per_series(n, reverse=False)

    def latest(self, n: int = 1) -> "TSDF":
        return self._top_rows_per_series(n, reverse=True)

    def priorTo(self, ts: TsLiteral, n: int = 1) -> "TSDF":
        return self.atOrBefore(ts)._top_rows_per_series(n, reverse=True)

    def subsequentTo(self, ts: TsLiteral, n: int = 1) -> "TSDF":
        return self.atOrAfter(ts)._top_rows_per_series(n, reverse=False)

    # ------------------------------------------------------------- as-of join

    def asofJoin(
        self,
        right: "TSDF",
        left_prefix: Optional[str] = None,
        right_prefix: str = "right",
        tsPartitionVal: Optional[int] = None,
        fraction: float = 0.5,
        skipNulls: bool = True,
        sql_join_opt: bool = False,
        suppress_null_warning: bool = False,  # reference-API compat; see below
        tolerance: Optional[float] = None,
        direction: str = "backward",
        check_null_lookback: bool = False,
        range_join_bin_seconds: Optional[float] = None,
        allowExactMatches: bool = True,
    ) -> "TSDF":
        """For each left row, attach the latest right row with
        ``right.ts <= left.ts`` within the same series
        (reference: python/tempo/tsdf.py:752-947); ``direction`` extends to
        forward/nearest matches (pandas ``merge_asof`` semantics, beyond the
        reference). See ``tempo_spark.operators.asof`` for strategies and
        scale notes. ``sql_join_opt=True`` asks for the range/broadcast
        join; it is taken when no size estimate is known or some known side
        is under the 30 MiB cutoff. ``range_join_bin_seconds`` (with
        ``sql_join_opt=True``) switches the range join to the bucketized
        big×big rewrite: both sides keyed by ``ts div bin`` so the plan
        stays a hash join at any size instead of degrading to a nested-loop
        / hot sort-merge group.
        ``allowExactMatches=False`` (pandas ``merge_asof`` parity, beyond
        the reference) makes the comparison STRICT — a right row at the
        left's exact timestamp is skipped in every direction and strategy.

        The reference's skew path EAGERLY warns when a right column has no
        values inside the lookback window (reference:
        python/tempo/tsdf.py:300-338, gated by ``suppress_null_warning``).
        Operators here never run eager actions, so that check is opt-in:
        pass ``check_null_lookback=True`` to run ONE aggregate over the
        join result (a deliberate action) and log a warning for each right
        column that matched nothing; ``suppress_null_warning`` is accepted
        for API compatibility and implies nothing when the check is off."""
        from tempo_spark.operators.asof import asof_join

        result = asof_join(
            self,
            right,
            left_prefix=left_prefix,
            right_prefix=right_prefix,
            ts_partition_val=tsPartitionVal,
            fraction=fraction,
            skip_nulls=skipNulls,
            use_range_join=sql_join_opt,
            tolerance=tolerance,
            direction=direction,
            range_join_bin_seconds=range_join_bin_seconds,
            allow_exact_matches=allowExactMatches,
        )
        if check_null_lookback and not suppress_null_warning:
            import logging

            right_cols = [
                c for c in result.df.columns
                if c.startswith(f"{right_prefix}_")
            ]
            # a 1000-column right would make this one agg 1000 aggregate
            # expressions wide — cap the diagnostic (it's a warning aid,
            # not a correctness gate) and say which columns went unchecked
            _NULL_CHECK_MAX_COLS = 64
            if len(right_cols) > _NULL_CHECK_MAX_COLS:
                logging.getLogger(__name__).warning(
                    "check_null_lookback: checking the first %d of %d right "
                    "columns (wide-frame cap)",
                    _NULL_CHECK_MAX_COLS, len(right_cols),
                )
                right_cols = right_cols[:_NULL_CHECK_MAX_COLS]
            if right_cols:
                counts = result.df.agg(
                    *[F.count(F.col(c)).alias(c) for c in right_cols]
                ).first()
                for c in right_cols:
                    if counts[c] == 0:
                        logging.getLogger(__name__).warning(
                            "column %s had no values within the lookback "
                            "window — all as-of matches are null",
                            c,
                        )
        return result

    def asofJoinMany(
        self,
        rights: "dict[str, TSDF]",
        skipNulls: bool = True,
        allowExactMatches: bool = True,
        tolerances: Optional[dict] = None,
        strategy: str = "auto",
    ) -> "TSDF":
        """N backward as-of joins (beyond the reference):
        ``trades.asofJoinMany({"quote": quotes, "sent": sentiment})``
        attaches each right's latest row per series. ``strategy="auto"``
        (default) reads Catalyst's size estimates (memoized EXPLAIN COST
        — no job, stays lazy) and picks the packed-union single-sort plan
        when the rights are sparse relative to the left — N-1 fewer
        full-left shuffles — or falls back to chained single joins when
        the union sort would dominate (left-sized rights). Results are
        identical either way. See
        ``tempo_spark.operators.asof.asof_join_many`` for semantics."""
        from tempo_spark.operators.asof import asof_join_many

        return asof_join_many(
            self, rights,
            skip_nulls=skipNulls, allow_exact_matches=allowExactMatches,
            tolerances=tolerances, strategy=strategy,
        )

    # ------------------------------------------------------- window analytics

    def withRangeStats(
        self,
        type: str = "range",  # reference-API compat
        colsToSummarize: Optional[Sequence[str]] = None,
        rangeBackWindowSecs: float = 1000,
        percentiles: Optional[Sequence[float]] = None,
        strategy: str = "sliding",
        stats: Optional[Sequence[str]] = None,
        minmax_strategy: str = "sliding",
    ) -> "TSDF":
        """Rolling mean/count/min/max/sum/stddev (+ zscore) per metric over a
        trailing time-range window (reference: python/tempo/tsdf.py:1112-1182).
        ``percentiles`` (beyond the reference) adds exact interpolated
        rolling percentiles, e.g. ``[0.5, 0.95]`` -> ``p50_x``, ``p95_x``.

        One shuffle on series_ids; all stats share one sort.

        ``strategy``:
        - ``"sliding"`` (default, reference-exact): every stat over one
          sliding range frame. Spark re-aggregates the whole frame per
          distinct boundary — O(rows × frame_rows). Welford-stable stddev.
        - ``"prefix"``: sum-family stats (count/sum/mean/stddev/zscore) as
          differences of two GROWING frames (running minus
          before-window-start), which Spark evaluates incrementally —
          O(rows), measured ~6× faster at a 600-row frame and widening
          with frame size. min/max/percentiles (not prefix-invertible)
          keep the sliding frame. stddev via the sum-of-squares identity:
          fine when means don't dwarf deviations; prefer "sliding" when
          |mean| / stddev ≳ 1e6 (catastrophic cancellation). Integral
          columns accumulate their running sum in decimal(38,0) — the
          prefix sum is unbounded even when every frame sum fits a long
          (ANSI would throw) — and difference back to the same long dtype
          the sliding strategy emits.

        ``stats`` restricts the emitted stats (default: all of mean/count/
        min/max/sum/stddev/zscore). Under heavy series skew, requesting only
        the sum family with strategy="prefix" eliminates EVERY sliding frame
        from the plan — the monster series then costs O(its rows), not
        O(its rows × frame_rows) (measured: 180 s → seconds at 8M skewed
        rows, scripts/scale_probe.py --skew).

        ``minmax_strategy`` (prefix strategy only): ``"sliding"`` (default)
        keeps min/max on the sliding frame — Spark evaluates those cheaply
        at moderate frames. ``"block"`` computes them exactly via width-B
        block decomposition (a trailing width-B window spans ≤ 2 blocks, so
        sliding min = min(own-block prefix min, previous-block suffix min
        fetched with a union-window forward lookup)) — all O(n) growing
        frames. Choose it when min/max frames hurt: monster-series skew
        (measured 66 s → 25 s at 8M rows, 50%% skew, 600-row frames) or
        very wide frames; at small frames on uniform data the extra
        union+sort costs more than it saves.
        """
        known = {"mean", "count", "min", "max", "sum", "stddev", "zscore"}
        wanted = set(stats) if stats is not None else known
        if minmax_strategy not in ("sliding", "block"):
            raise ValueError(
                f"minmax_strategy must be 'sliding' or 'block', got {minmax_strategy!r}"
            )
        if wanted - known:
            raise ValueError(
                f"unknown stats {sorted(wanted - known)}; choose from {sorted(known)}"
            )
        cols = list(colsToSummarize or self.metric_cols)
        w = self.range_window(rangeBackWindowSecs)
        out = self.df
        exprs: list[Column] = []

        def keep(pairs):
            return [e.alias(n) for n, e in pairs if n.split("_", 1)[0] in wanted]
        if strategy == "prefix":
            from pyspark.sql.types import IntegralType

            back_micros = int(rangeBackWindowSecs * 1_000_000)
            w_run = self._growing_window(0)
            w_bound = self._growing_window(-(back_micros + 1))
            dtypes = {f.name: f.dataType for f in self.df.schema.fields}
            # min/max are not prefix-invertible, but a trailing window of
            # width B spans AT MOST TWO width-B blocks, so the sliding
            # min = min(prefix-min within own block up to t,
            #           suffix-min within the previous block from t-B) —
            # all three pieces are incremental growing frames plus one
            # union-window forward lookup (below). Spark's
            # [current, unboundedFollowing] frames re-aggregate per row
            # (O(rows × tail)), so the suffix stats use a DESC-ordered
            # unboundedPreceding frame instead, which IS incremental.
            minmax = [s for s in ("min", "max") if s in wanted]
            use_block = (
                bool(minmax) and back_micros > 0 and minmax_strategy == "block"
            )
            helper_exprs: list[Column] = []
            if use_block:
                mi = self._micros_order()
                bw = F.lit(back_micros)
                # floor-division via pmod: `div` truncates toward zero,
                # which misbuckets negative (pre-1970) epochs
                blk = ((mi - F.pmod(mi, bw)) / bw).cast("long")
                series_cols = [F.col(s) for s in self.series_ids]
                w_blk_pre = (
                    Window.partitionBy(*series_cols, blk)
                    .orderBy(mi)
                    .rangeBetween(Window.unboundedPreceding, 0)
                )
                w_blk_suf = (
                    Window.partitionBy(*series_cols, blk)
                    .orderBy(mi.desc())
                    .rangeBetween(Window.unboundedPreceding, 0)
                )
                helper_exprs += [mi.alias("__mi"), blk.alias("__blk")]
                for c in cols:
                    if "min" in wanted:
                        helper_exprs += [
                            F.min(c).over(w_blk_pre).alias(f"__bpmin_{c}"),
                            F.min(c).over(w_blk_suf).alias(f"__bsmin_{c}"),
                        ]
                    if "max" in wanted:
                        helper_exprs += [
                            F.max(c).over(w_blk_pre).alias(f"__bpmax_{c}"),
                            F.max(c).over(w_blk_suf).alias(f"__bsmax_{c}"),
                        ]
            for c in cols:
                col = F.col(c)
                # squares in double: an integral col*col overflows (and
                # throws under ANSI) for any value ≥ sqrt(Long.MAX) ≈ 3.04e9,
                # and the RUNNING sum of squares is unbounded besides
                col_d = col.cast("double")
                run_c = F.count(col).over(w_run)
                run_s2 = F.sum(col_d * col_d).over(w_run)
                cnt = run_c - F.count(col).over(w_bound)
                if isinstance(dtypes.get(c), IntegralType):
                    # the RUNNING prefix sum is unbounded even when every
                    # sliding-frame sum fits a long (ANSI throws on
                    # overflow) — accumulate in decimal(38,0) (exact,
                    # effectively unbounded), difference back to the long
                    # the sliding strategy emits
                    acc = col.cast("decimal(28,0)")
                    sm = F.when(
                        cnt > 0,
                        (
                            F.sum(acc).over(w_run)
                            - F.coalesce(
                                F.sum(acc).over(w_bound),
                                F.lit(0).cast("decimal(38,0)"),
                            )
                        ).cast("long"),
                    )
                else:
                    run_s = F.sum(col).over(w_run)
                    sm = F.when(
                        cnt > 0,
                        run_s - F.coalesce(F.sum(col).over(w_bound), F.lit(0.0)),
                    )
                s2 = F.when(
                    cnt > 0,
                    run_s2 - F.coalesce(F.sum(col_d * col_d).over(w_bound), F.lit(0.0)),
                )
                # cnt = 0 when every frame value is null — guard the long
                # divisions (ANSI mode throws DIVIDE_BY_ZERO)
                mean = F.when(cnt > 0, sm / cnt)
                sm_d = sm.cast("double")
                var_raw = F.when(
                    cnt > 1,
                    F.greatest(s2 - sm_d * sm_d / cnt, F.lit(0.0)) / (cnt - 1),
                )
                # cancellation residue: a CONSTANT frame leaves var ≈ ε·mean²
                # (~1e-17 relative) instead of the exact 0.0 sliding/Welford
                # produces — clamp relative to the mean-square magnitude
                # (s2/cnt = var + mean² ≥ var) so stddev is exactly 0.0 and
                # zscore is null, matching the sliding strategy
                # greatest(cnt, 1): the comparison is evaluated even when
                # cnt = 0 (s2 is null there, so the branch result is null
                # either way) and ANSI would throw on the division
                var = F.when(
                    var_raw > s2 / F.greatest(cnt, F.lit(1)) * F.lit(1e-12), var_raw
                ).otherwise(F.when(var_raw.isNotNull(), F.lit(0.0)))
                std = F.sqrt(var)
                pairs = [
                    (f"mean_{c}", mean),
                    (f"count_{c}", cnt),
                    (f"min_{c}", F.min(col).over(w)),
                    (f"max_{c}", F.max(col).over(w)),
                    (f"sum_{c}", sm),
                    (f"stddev_{c}", std),
                    # constant frame -> stddev exactly 0.0; ANSI mode throws
                    # on the double division, non-ANSI Spark (and the
                    # reference) yields null -- make null explicit
                    (f"zscore_{c}", F.when(std != 0.0, (col - mean) / std)),
                ]
                if use_block:
                    # min/max come from the block decomposition after the
                    # forward lookup below, not a sliding frame
                    pairs = [p for p in pairs if p[0].split("_", 1)[0] not in ("min", "max")]
                exprs += keep(pairs)
                for p, name in zip(
                    percentiles or (), _pct_names(percentiles or (), c)
                ):
                    exprs.append(F.percentile(col, F.lit(float(p))).over(w).alias(name))
            base = out.select("*", *exprs, *helper_exprs)
            if not use_block:
                return self._with_df(base)
            final_names = []
            for c in cols:
                final_names += [
                    f"{s}_{c}"
                    for s in ("mean", "count", "min", "max", "sum", "stddev", "zscore")
                    if s in wanted
                ]
                final_names += _pct_names(percentiles or (), c)
            return self._with_df(
                self._finish_block_minmax(
                    base, cols, minmax, back_micros, final_names
                )
            )
        for c in cols:
            col = F.col(c)
            mean = F.mean(col).over(w)
            std = F.stddev(col).over(w)
            exprs += keep([
                (f"mean_{c}", mean),
                (f"count_{c}", F.count(col).over(w)),
                (f"min_{c}", F.min(col).over(w)),
                (f"max_{c}", F.max(col).over(w)),
                (f"sum_{c}", F.sum(col).over(w)),
                (f"stddev_{c}", std),
                (f"zscore_{c}", F.when(std != 0.0, (col - mean) / std)),
            ])
            for p, name in zip(
                percentiles or (), _pct_names(percentiles or (), c)
            ):
                exprs.append(F.percentile(col, F.lit(float(p))).over(w).alias(name))
        return self._with_df(out.select("*", *exprs))

    def withRangeCorr(
        self,
        x_col: str,
        y_col: str,
        rangeBackWindowSecs: float = 1000,
        strategy: str = "prefix",
        stats: Optional[Sequence[str]] = None,
    ) -> "TSDF":
        """Rolling PAIRWISE statistics between two metrics over the trailing
        time-range window (beyond the reference — ``withRangeStats`` is
        single-column): ``corr``, ``covar_samp``, ``covar_pop``, ``count``
        (the pairwise-complete row count: rows where BOTH metrics are
        non-null, the same population Spark's ``corr``/``covar_*``
        aggregates use). Output columns ``{stat}_{x}_{y}``.

        One shuffle on series_ids, like every per-series operator.

        ``strategy="prefix"`` (default): the five sufficient sums (Σx, Σy,
        Σxy, Σx², Σy²) and n as differences of two GROWING frames —
        incremental O(rows), where a sliding ``corr(...)`` frame
        re-aggregates O(rows × frame_rows) (the same Spark behavior
        ``withRangeStats(strategy="prefix")`` works around). INTEGRAL
        metric pairs accumulate in exact ``decimal(38,0)`` (ANSI-safe,
        unbounded prefix), so the doubles entering the closed-form
        corr/covariance formulas are bit-exact integers — an engine
        replaying the same formula over the same exact sums reproduces the
        result to the last bit. The usual sum-of-squares caveat applies to
        float inputs (|mean|/stddev ≳ 1e6 → prefer "sliding"); a
        cancellation clamp floors tiny negative variances to zero, and a
        zero variance on either side yields a null corr (Spark's sliding
        ``corr`` emits NaN there — the null is deliberate, NaN poisons
        downstream comparisons).

        ``strategy="sliding"``: the SAME closed-form formulas over plain
        sliding-frame sums — reference-style single frame, O(rows ×
        frame_rows). (Not Spark's native ``corr``/``covar_*`` window
        aggregates: under ANSI mode their internal division throws
        DIVIDE_BY_ZERO on single-pair frames — the first row of every
        series — where the formula path yields the intended null.)
        """
        known = {"corr", "covar_samp", "covar_pop", "count"}
        wanted = set(stats) if stats is not None else known
        if wanted - known:
            raise ValueError(
                f"unknown stats {sorted(wanted - known)}; choose from {sorted(known)}"
            )
        if strategy not in ("prefix", "sliding"):
            raise ValueError(f"strategy must be 'prefix' or 'sliding', got {strategy!r}")
        from pyspark.sql.types import IntegralType

        x, y = F.col(x_col), F.col(y_col)
        suffix = f"{x_col}_{y_col}"
        both = x.isNotNull() & y.isNotNull()
        dtypes = {f.name: f.dataType for f in self.df.schema.fields}
        integral = isinstance(dtypes.get(x_col), IntegralType) and isinstance(
            dtypes.get(y_col), IntegralType
        )
        if integral:
            # exact integer accumulation: products fit decimal(38,0) for any
            # long inputs whose squares fit ~1e27 — cents-scale data by miles
            xa = F.when(both, x.cast("decimal(18,0)"))
            ya = F.when(both, y.cast("decimal(18,0)"))
        else:
            xa = F.when(both, x.cast("double"))
            ya = F.when(both, y.cast("double"))

        if strategy == "sliding":
            w = self.range_window(rangeBackWindowSecs)

            def winsum(expr: Column) -> Column:
                return F.sum(expr).over(w)

            n = F.count(F.when(both, 1)).over(w)
        else:
            back_micros = int(rangeBackWindowSecs * 1_000_000)
            w_run = self._growing_window(0)
            w_bound = self._growing_window(-(back_micros + 1))

            def winsum(expr: Column) -> Column:
                zero = F.lit(0).cast("decimal(38,0)") if integral else F.lit(0.0)
                return F.sum(expr).over(w_run) - F.coalesce(
                    F.sum(expr).over(w_bound), zero
                )

            n = F.count(F.when(both, 1)).over(w_run) - F.count(
                F.when(both, 1)
            ).over(w_bound)
        nd = n.cast("double")
        sx = winsum(xa).cast("double")
        sy = winsum(ya).cast("double")
        sxy = winsum(xa * ya).cast("double")
        sx2 = winsum(xa * xa).cast("double")
        sy2 = winsum(ya * ya).cast("double")
        cov_num = sxy - sx * sy / nd
        # cancellation floor, same rationale as withRangeStats(prefix)
        varx = F.greatest(sx2 - sx * sx / nd, F.lit(0.0))
        vary = F.greatest(sy2 - sy * sy / nd, F.lit(0.0))
        corr = F.when(
            (n > 1) & (varx > 0) & (vary > 0),
            F.greatest(
                F.lit(-1.0), F.least(F.lit(1.0), cov_num / F.sqrt(varx * vary))
            ),
        )
        pairs = [
            (f"corr_{suffix}", corr),
            (f"covar_samp_{suffix}", F.when(n > 1, cov_num / (nd - 1))),
            (f"covar_pop_{suffix}", F.when(n > 0, cov_num / nd)),
            (f"count_{suffix}", n),
        ]
        exprs = [e.alias(nm) for nm, e in pairs if nm[: -len(suffix) - 1] in wanted]
        return self._with_df(self.df.select("*", *exprs))

    def _finish_block_minmax(
        self,
        base: DataFrame,
        cols: Sequence[str],
        minmax: Sequence[str],
        back_micros: int,
        final_names: Sequence[str],
    ) -> DataFrame:
        """Resolve block-decomposed rolling min/max.

        ``base`` carries, per metric, the own-block prefix stats
        (``__bpmin/__bpmax``) and previous-block suffix stats
        (``__bsmin/__bsmax``). The missing piece is a FORWARD as-of lookup:
        for each row t, the suffix stats of the first row with
        ``__mi >= t - B``. Implemented as the union-window pattern: union a
        marker copy of the rows, order by (pos DESC, kind DESC) so markers
        at equal positions precede probes, and take the running
        ``last(payload, ignorenulls)`` — an incremental growing frame, not
        a per-row rescan. The matched row's suffix stats apply only when it
        lies in the PREVIOUS block (otherwise the trailing window never
        leaves the own block and the prefix stats alone are exact)."""
        payload_fields = [F.col("__blk").alias("blk")]
        for c in cols:
            for s in minmax:
                payload_fields.append(F.col(f"__bs{s}_{c}").alias(f"s{s}_{c}"))
        payload = F.struct(*payload_fields)
        probes = (
            base.withColumn("__pos", F.col("__mi") - F.lit(back_micros))
            .withColumn("__kind", F.lit(0))
            .withColumn("__payload", F.when(F.lit(False), payload))
        )
        markers = (
            base.withColumn("__pos", F.col("__mi"))
            .withColumn("__kind", F.lit(1))
            .withColumn("__payload", payload)
        )
        w_fwd = (
            Window.partitionBy(*[F.col(s) for s in self.series_ids])
            .orderBy(F.col("__pos").desc(), F.col("__kind").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        resolved = (
            probes.unionByName(markers)
            .withColumn("__match", F.last("__payload", ignorenulls=True).over(w_fwd))
            .where(F.col("__kind") == 0)
        )
        tail_ok = F.col("__match").getField("blk") == F.col("__blk") - 1
        out_cols: list[Column] = [F.col(c) for c in self.df.columns]
        for name in final_names:
            stat = name.split("_", 1)[0]
            if stat in minmax:
                c = name.split("_", 1)[1]
                own = F.col(f"__bp{stat}_{c}")
                tail = F.when(tail_ok, F.col("__match").getField(f"s{stat}_{c}"))
                comb = F.least if stat == "min" else F.greatest
                # least/greatest skip nulls, matching sliding-frame
                # null-ignoring min/max (all-null frame -> null)
                out_cols.append(comb(own, tail).alias(name))
            else:
                out_cols.append(F.col(name))
        return resolved.select(*out_cols)

    def withGroupedStats(
        self,
        metricCols: Optional[Sequence[str]] = None,
        freq: str = "1 minute",
        percentiles: Optional[Sequence[float]] = None,
    ) -> "TSDF":
        """Per-bucket mean/count/min/max/sum/stddev at a tumbling frequency
        (reference: python/tempo/tsdf.py:1184-1248). groupBy gets map-side
        partial aggregation — cheaper than a window at scale.
        ``percentiles`` (beyond the reference, mirroring ``withRangeStats``)
        adds exact interpolated per-bucket percentiles, e.g. ``[0.5, 0.95]``
        → ``p50_x``, ``p95_x`` — note exact percentile is NOT map-side
        combinable (values buffer per (series, bucket) group), so request
        it only when buckets are bounded; use ``approx_percentile``
        manually when they are not."""
        from tempo_spark.functions.freq import parse_freq

        cols = list(metricCols or self.metric_cols)
        f = parse_freq(freq)
        bucket = F.window(F.col(self.ts_col), f.window_duration)
        aggs: list[Column] = []
        names: list[str] = []
        for c in cols:
            col = F.col(c)
            aggs += [
                F.mean(col).alias(f"mean_{c}"),
                F.count(col).alias(f"count_{c}"),
                F.min(col).alias(f"min_{c}"),
                F.max(col).alias(f"max_{c}"),
                F.sum(col).alias(f"sum_{c}"),
                F.stddev(col).alias(f"stddev_{c}"),
            ]
            names += [
                f"mean_{c}", f"count_{c}", f"min_{c}", f"max_{c}",
                f"sum_{c}", f"stddev_{c}",
            ]
            for p, name in zip(
                percentiles or (), _pct_names(percentiles or (), c)
            ):
                aggs.append(F.percentile(col, F.lit(float(p))).alias(name))
                names.append(name)
        out = (
            self.df.groupBy(*self.series_ids, bucket.alias("__win"))
            .agg(*aggs)
            .withColumn(self.ts_col, F.col("__win.start"))
            .drop("__win")
            .select(*self.series_ids, self.ts_col, *names)
        )
        return TSDF(out, ts_col=self.ts_col, series_ids=self.series_ids, validate=False)

    def _ema_prefix(self, colName: str, window: int, alpha: float) -> "TSDF":
        """O(rows) truncated EMA via two-phase rescaled block prefix sums.

        The sliding form re-materializes a ``window``-row array per output
        row (O(rows × window) — MACD's 4·slow=104-row frames measured 32 s
        at 8M rows where RSI's 14-row frames take 3.6 s, scale_probe
        --analytics3). This form is O(rows) with three window passes and
        constant-offset lags:

        - per series, rows are blocked at size B ≥ 2·window in TWO phase
          decompositions staggered by B/2 — any ``window``-row trailing
          frame fits entirely inside one block of at least one phase
          (consecutive boundaries of the union are B/2 ≥ window apart);
        - within a (series, block): z_t = y_t·r^{−off} (r = 1−α, off the
          in-block offset) accumulated by a GROWING frame (incremental,
          O(rows)); the trailing sum is then
          ``α·r^off·(P_t − P_{t−window})`` where the subtraction lag has
          CONSTANT offset ``window`` (valid exactly when off ≥ window,
          i.e. both rows share the block — the phase choice guarantees
          one leg qualifies);
        - rescaling bounds: r^−(B−1) must stay well inside double range,
          so B ≤ ~200/−log10(r); windows too deep for the decay rate
          raise (the truncated tail there is ≪ 1e−200 of the head —
          sliding is the honest strategy for such shapes).

        Results agree with the sliding weighted sum to ~1e−12 relative
        (same terms, different association/rescale), NOT bit-identical —
        the gate entry keeps the sliding default. NaN values: frames
        containing a NaN yield NaN exactly like the sliding form (prefix
        sums exclude NaNs; a prefix-count difference overlays them) —
        except the ``alpha == 1`` shortcut, which returns the current
        value (zero-weight NaN lags don't poison it, unlike sliding's
        NaN·0 artifact). Adds NO exchange: the block windows cluster by
        (series, block), which hash(series) already satisfies; Spark
        inserts local sorts only. All window orders share a materialized
        content-hash tiebreak so duplicate timestamps cannot misalign
        the offset columns against the prefix sums.
        """
        import math

        if not (0.0 < alpha <= 1.0):
            # the sliding form computes the alternating-sign sum for
            # alpha > 1 (reference-permissive); the prefix algebra would
            # silently compute a DIFFERENT function (r12 review)
            raise ValueError(
                f"strategy='prefix' requires exp_factor in (0, 1], got "
                f"{alpha} — use strategy='sliding' for out-of-range decay"
            )
        r = 1.0 - alpha
        out_col = f"ema_{colName}"
        if any(c.startswith("__emp_") for c in self.df.columns):
            raise ValueError("reserved staging columns __emp_* present in input")
        if r <= 0.0:  # alpha == 1: only lag 0 has weight
            return self._with_df(
                self.df.withColumn(
                    out_col,
                    F.coalesce(F.col(colName).cast("double"), F.lit(0.0)),
                )
            )
        cap = int(200.0 / -math.log10(r)) if r < 1.0 else 1 << 30
        B = max(2 * window, 128)
        B += B % 2
        if B > cap:
            raise ValueError(
                f"strategy='prefix' would overflow the double rescaling: "
                f"window={window} at exp_factor={alpha} needs blocks of "
                f"{B} rows but (1-alpha)^-B exceeds 1e200 (max window "
                f"~{cap // 2}). The truncated tail at this depth is < "
                f"1e-200 of the head — use strategy='sliding' (or a "
                f"shallower window)."
            )
        half = B // 2

        # the block/offset columns come from row_number over one sort and
        # the prefix sums from OTHER (series, block)-partitioned sorts —
        # duplicate timestamps ordered differently across them would
        # misalign off vs P by factors of r^±j (the r10 _lagged_corr tie
        # class), so every order ends in a materialized content-hash
        # tiebreak: one total order shared by all the window nodes.
        #
        # Construction is batched selectExpr with inline OVER clauses —
        # the former per-column withColumn chain built ~1,500 py4j round
        # trips (~0.5 s of driver time PER CALL; MACD makes three), the
        # r12-optimization plan-build discipline. The parsed trees are
        # the exact expressions the Column chain built (double literals
        # formatted shortest-round-trip), pinned bit-identical against
        # the verbatim old Column chain in
        # tests/test_indicators.py::TestEmaPrefixRewrite (dup-ts / NaN /
        # NULL / alpha-edge / sequence_col battery, r13).
        staged = self.df.withColumn(
            "__emp_tb",
            F.xxhash64(F.struct(*[F.col(c) for c in self.df.columns])),
        )
        order_sql = [f"{ident(self.ts_col)} ASC"]
        if self.sequence_col:
            order_sql.append(f"{ident(self.sequence_col)} ASC")
        order_sql.append("__emp_tb ASC")
        part = [ident(c) for c in self.series_ids]
        ovw = over_sql(part, order_sql)
        yd = f"cast({ident(colName)} as double)"
        # NaN handling (the r6/r11 class): a NaN would ride the prefix
        # sums and poison every later row in the phase BLOCK; the sliding
        # form NaNs exactly the frames containing it. Match that: exclude
        # NaN from the sums, overlay NaN where the trailing window
        # contains one (prefix-count difference — same O(rows)
        # constant-lag trick)
        staged = staged.selectExpr(
            "*",
            f"(row_number() {ovw}) - 1 AS __emp_t0",
            f"(CASE WHEN isnan({yd}) THEN 1 ELSE 0 END) AS __emp_nan",
        )
        phase_cols = []
        for ph, shift in (("0", 0), ("1", half)):
            phase_cols += [
                f"(__emp_t0 + {shift}) % {B} AS __emp_off{ph}",
                f"(__emp_t0 + {shift}) div {B} AS __emp_blk{ph}",
            ]
        staged = staged.selectExpr(
            "*",
            f"sum(__emp_nan) {over_sql(part, order_sql, RUNNING)}"
            " AS __emp_nc",
            *phase_cols,
        )
        z_cols = [
            f"coalesce(nanvl({yd}, 0.0D), 0.0D)"
            f" * pow({1.0 / r!r}D, __emp_off{ph}) AS __emp_z{ph}"
            for ph in ("0", "1")
        ]
        staged = staged.selectExpr("*", *z_cols)
        p_cols = [
            f"sum(__emp_z{ph}) "
            f"{over_sql([*part, f'__emp_blk{ph}'], order_sql, RUNNING)}"
            f" AS __emp_p{ph}"
            for ph in ("0", "1")
        ]
        staged = staged.selectExpr("*", *p_cols)

        def leg(ph: str) -> str:
            sub = (
                f"CASE WHEN __emp_off{ph} >= {window} THEN "
                f"coalesce(lag(__emp_p{ph}, {window}) {ovw}, 0.0D) "
                f"ELSE 0.0D END"
            )
            return (
                f"pow({r!r}D, __emp_off{ph}) * (__emp_p{ph} - ({sub}))"
                f" * {alpha!r}D"
            )

        nan_in_frame = (
            f"(__emp_nc - coalesce(lag(__emp_nc, {window}) "
            f"{ovw}, 0)) > 0"
        )
        ema = (
            f"CASE WHEN {nan_in_frame} THEN cast('NaN' as double) "
            f"WHEN __emp_off0 >= {window - 1} THEN {leg('0')} "
            f"ELSE {leg('1')} END"
        )
        # mirror withColumn's REPLACE semantics (the sliding strategy and
        # the alpha==1 shortcut both go through withColumn): an existing
        # ema_<col> is replaced IN PLACE, not duplicated at the end —
        # a duplicate output name would fail the next resolution
        out_sql = f"{ema} AS {ident(out_col)}"
        sel = [
            out_sql if c == out_col else ident(c) for c in self.df.columns
        ]
        if out_col not in self.df.columns:
            sel.append(out_sql)
        out = staged.selectExpr(*sel)
        return self._with_df(out)

    def EMA(
        self,
        colName: str,
        window: int = 30,
        exp_factor: Optional[float] = None,
        *,
        span: Optional[float] = None,
        halflife: Optional[float] = None,
        com: Optional[float] = None,
        strategy: str = "sliding",
    ) -> "TSDF":
        """Approximate exponential moving average as a finite weighted sum of
        lags: ``Σ_{i<window} e·(1-e)^i · lag(col, i)``
        (reference: python/tempo/tsdf.py:1044-1071). Null lags contribute 0.

        ``span`` / ``halflife`` / ``com`` (mutually exclusive with each
        other AND with an explicit ``exp_factor``, like pandas ``ewm``'s
        conflicting-parameter rejection) are the pandas decay
        parameterizations, mapped to the smoothing factor exactly as pandas
        does: ``α = 2/(span+1)``, ``α = 1 − exp(ln(0.5)/halflife)``,
        ``α = 1/(1+com)``; with none given, ``exp_factor`` defaults to the
        reference's 0.2.

        Single window spec → one shuffle + sort regardless of ``window``.
        Plan-build cost is flat in ``window``: the trailing values
        materialize as ONE ``collect_list(struct(col))`` window column
        (struct-wrapping keeps the NULL slots collect_list would drop) and
        the weighted sum is ONE parsed-SQL zip_with/aggregate over a weight
        array literal — not ``window`` separate lag() Columns (the simhash
        plan-build lesson: per-Column py4j round-trips dominate past ~30
        terms). Term order matches the naive lag-sum exactly
        (lag 0 first), so results are bit-identical to the r1-r5 loop.

        ``strategy="prefix"`` evaluates the same truncated sum in O(rows)
        via rescaled block prefix sums (see :meth:`_ema_prefix`) — ~1e-12
        relative agreement, not bit-identical; use it for deep windows
        (MACD-class truncation depths) at scale.
        """
        import math

        if strategy not in ("sliding", "prefix"):
            raise ValueError(
                f"strategy must be 'sliding' or 'prefix', got {strategy!r}"
            )
        given = [p for p in (exp_factor, span, halflife, com) if p is not None]
        if len(given) > 1:
            raise ValueError(
                "pass at most one of exp_factor/span/halflife/com"
            )
        if exp_factor is None and not given:
            exp_factor = 0.2
        if span is not None:
            if span < 1:
                raise ValueError(f"span must be >= 1, got {span}")
            exp_factor = 2.0 / (span + 1.0)
        elif halflife is not None:
            if halflife <= 0:
                raise ValueError(f"halflife must be positive, got {halflife}")
            exp_factor = 1.0 - math.exp(math.log(0.5) / halflife)
        elif com is not None:
            if com < 0:
                raise ValueError(f"com must be >= 0, got {com}")
            exp_factor = 1.0 / (1.0 + com)
        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        if window > 65536:
            raise ValueError(
                f"window={window}: the finite-lag EMA materializes a trailing "
                "array per row — use a smaller window or resample first"
            )
        if strategy == "prefix":
            return self._ema_prefix(colName, window, exp_factor)
        if "__ema_arr" in self.df.columns:
            raise ValueError("reserved staging column __ema_arr present in input")
        w = self.base_window()
        # trailing frame in window order: element j (1-based, after reverse)
        # is lag j-1; zip_with pads missing lags with NULL structs → 0 terms
        arr = F.collect_list(F.struct(F.col(colName).alias("v"))).over(
            w.rowsBetween(-(window - 1), 0)
        )
        weights = ", ".join(
            f"{exp_factor * (1 - exp_factor) ** i!r}d" for i in range(window)
        )
        ema = F.expr(
            "aggregate("
            f"  zip_with(reverse(__ema_arr), array({weights}),"
            "            (x, wt) -> coalesce(x.v, 0.0d) * wt),"
            "  0.0d, (acc, t) -> acc + t)"
        )
        return self._with_df(
            self.df.withColumn("__ema_arr", arr)
            .withColumn(f"ema_{colName}", ema)
            .drop("__ema_arr")
        )

    def vwap(
        self,
        frequency: str = "m",
        volume_col: str = "volume",
        price_col: str = "price",
    ) -> "TSDF":
        """Volume-weighted average price per time bucket
        (reference: python/tempo/tsdf.py:1000-1042). Implemented with
        ``date_trunc`` + groupBy (map-side combine) rather than the
        reference's string concat time key."""
        unit = {"m": "minute", "H": "hour", "D": "day"}.get(frequency)
        if unit is None:
            raise ValueError(f"vwap frequency must be one of m/H/D, got {frequency!r}")
        tg = F.date_trunc(unit, F.col(self.ts_col))
        out = (
            self.df.withColumn("time_group", tg)
            .groupBy(*self.series_ids, "time_group")
            .agg(
                F.sum(F.col(volume_col) * F.col(price_col)).alias("__dollar_volume"),
                F.sum(F.col(volume_col)).alias("total_volume"),
                F.max(F.col(price_col)).alias("max_price"),
            )
            .withColumn("vwap", F.col("__dollar_volume") / F.col("total_volume"))
            .drop("__dollar_volume")
            .withColumnRenamed("time_group", self.ts_col)
        )
        return TSDF(out, ts_col=self.ts_col, series_ids=self.series_ids, validate=False)

    def twap(
        self,
        freq: str = "1 hour",
        price_col: str = "price",
    ) -> "TSDF":
        """Time-weighted average price per tumbling bucket (beyond the
        reference, which has only the volume-weighted vwap). Each
        observation is weighted by how long it was the latest value:
        ``min(next_ts, bucket_end) - ts``; the last observation in a bucket
        holds to the bucket end. No carry-in from prior buckets (a bucket
        with no observations emits no row). Zero-duration rows (ties) get
        zero weight; an all-zero-weight bucket falls back to the plain mean.

        One shuffle on series_ids serves both the lead() window and the
        groupBy (same partitioning); map-side combine applies."""
        from tempo_spark.functions.freq import parse_freq
        from tempo_spark.functions.timestamps import ts_to_double

        f = parse_freq(freq)
        ts_dtype = self.df.schema[self.ts_col].dataType
        win = F.window(F.col(self.ts_col), f.window_duration)
        w = self.base_window()
        next_ts = F.lead(F.col(self.ts_col)).over(w)
        bucket_end = win["end"]
        held_until = F.least(F.coalesce(next_ts, bucket_end), bucket_end)
        weight = ts_to_double(held_until, ts_dtype) - ts_to_double(
            F.col(self.ts_col), ts_dtype
        )
        prepared = self.df.select(
            *self.series_ids,
            win["start"].alias(self.ts_col),
            F.col(price_col).alias("__price"),
            weight.alias("__w"),
        )
        out = (
            prepared.groupBy(*self.series_ids, self.ts_col)
            .agg(
                F.sum(F.col("__price") * F.col("__w")).alias("__pw"),
                F.sum("__w").alias("__tw"),
                F.mean("__price").alias("__mean"),
            )
            .withColumn(
                "twap",
                F.when(F.col("__tw") > 0, F.col("__pw") / F.col("__tw")).otherwise(
                    F.col("__mean")
                ),
            )
            .drop("__pw", "__tw", "__mean")
        )
        return TSDF(out, ts_col=self.ts_col, series_ids=self.series_ids, validate=False)

    def withDiff(
        self, colName: str, periods: int = 1, out: Optional[str] = None
    ) -> "TSDF":
        """Per-series discrete difference ``x - lag(x, periods)`` (pandas
        ``diff`` semantics, beyond the reference): NULL for the first
        ``periods`` rows of each series. ``periods`` may be negative for a
        forward difference. One shuffle (the shared base window)."""
        if periods == 0:
            raise ValueError("periods must be non-zero")
        w = self.base_window()
        prev = F.lag(F.col(colName), periods).over(w)
        return self._with_df(
            self.df.withColumn(out or f"diff_{colName}", F.col(colName) - prev)
        )

    def withPctChange(
        self, colName: str, periods: int = 1, out: Optional[str] = None
    ) -> "TSDF":
        """Per-series fractional change ``(x - lag) / lag`` (pandas
        ``pct_change``): NULL when the lag is NULL or exactly zero (a
        zero base has no defined relative change — and double/0 would
        yield IEEE infinities, not an error, silently poisoning
        downstream aggregates). One shuffle."""
        if periods == 0:
            raise ValueError("periods must be non-zero")
        w = self.base_window()
        prev = F.lag(F.col(colName), periods).over(w)
        pct = F.when(prev != 0, (F.col(colName) - prev) / prev)
        return self._with_df(
            self.df.withColumn(out or f"pct_change_{colName}", pct)
        )

    def withAnomalyFlags(
        self,
        colName: str,
        rangeBackWindowSecs: float,
        z: float = 3.0,
        min_points: int = 3,
        out_prefix: Optional[str] = None,
        strategy: str = "sliding",
    ) -> "TSDF":
        """Rolling z-score anomaly detection (beyond the reference): emits
        ``zscore_<col>`` = (x − trailing mean) / trailing sample stddev and
        ``is_anomaly_<col>`` = |zscore| > ``z``, over the PRECEDING
        ``rangeBackWindowSecs`` seconds excluding the current row (a point
        is judged against its past, so a spike cannot vote itself normal).

        The stats come from explicit sum/count/sum-of-squares window
        aggregates — the same closed-form idiom as ``withRangeCorr`` —
        because the native stddev/variance window functions ANSI-throw on
        degenerate frames. The flag compares ``|x − mean| > z·σ`` directly,
        so a deviation from a ZERO-variance baseline (the classic spike
        after a flat line, where the z-score itself is undefined) still
        flags; ``zscore`` is NULL there. Rows with fewer than
        ``min_points`` trailing points (sample stddev needs ≥2; default 3
        for a usable baseline) get NULL for both — no verdict without a
        baseline. One shuffle on series_ids.

        ``strategy``: ``"sliding"`` (default) evaluates the three window
        aggregates over the literal [-back, -1µs] range frame — Spark
        re-aggregates the whole frame per row, O(rows × frame_rows).
        ``"prefix"`` computes the same n/Σx/Σx² as differences of two
        GROWING frames (running-to-previous-row minus before-window-start)
        — O(rows), the same machinery as ``withRangeStats(strategy=
        "prefix")`` (~7× at 600-row frames, widening with frame size).
        The prefix sums run over x − x₀ (x₀ = the series' first non-null
        value; z-scores and flags are shift-invariant) so a large-offset
        near-constant baseline — the classic cancellation case — yields
        EXACT zeros instead of ε·mean² residue: a flat series lands in the
        same zero-variance branch as "sliding" with no magnitude clamp.
        Flags match "sliding" except within one ulp of the
        ``|x−mean| = z·σ`` decision boundary (the shift changes last-ulp
        rounding of s²/n; zscores agree to ~1e-12 relative — pinned by a
        parity test); a series that DRIFTS ≳1e6× its local stddev away
        from its own first value can still cancel — prefer "sliding"
        there."""
        if min_points < 2:
            raise ValueError("min_points must be >= 2 (sample stddev)")
        if strategy not in ("sliding", "prefix"):
            raise ValueError(
                f"strategy must be 'sliding' or 'prefix', got {strategy!r}"
            )
        p = out_prefix or colName
        # __tempo_an_x/_x0 are prefix-strategy staging but BOTH strategies
        # drop them at the end — reserve them unconditionally or a
        # sliding-strategy run would silently delete a same-named user col
        for c in (
            "__tempo_an_n", "__tempo_an_mean", "__tempo_an_std",
            "__tempo_an_x", "__tempo_an_x0",
        ):
            if c in self.df.columns:
                raise ValueError(f"reserved staging column {c} present in input")
        back_micros = int(rangeBackWindowSecs * 1_000_000)
        x = F.col(colName).cast("double")
        base_df = self.df
        if strategy == "prefix":
            # shift by the series' first non-null value (constant per
            # series; z-scores/flags are shift-invariant) so flat or
            # near-flat baselines at a large offset produce exact-zero
            # prefix differences instead of cancellation residue. The
            # shift must be a materialized column — window functions
            # can't nest inside window aggregates. min(struct(ts, x))
            # rather than first-over-growing-frame: when the earliest
            # timestamp is duplicated with differing values, "first"
            # depends on shuffle order and x0 (hence last-ulp rounding at
            # the |x−mean| = z·σ boundary) would vary run-to-run.
            base_df = self.df.withColumn(
                "__tempo_an_x0",
                F.min(
                    F.when(
                        x.isNotNull(),
                        F.struct(
                            self._micros_order().alias("m"), x.alias("v")
                        ),
                    )
                ).over(
                    Window.partitionBy(*[F.col(c) for c in self.series_ids])
                )["v"],
            ).withColumn("__tempo_an_x", x - F.col("__tempo_an_x0"))
            xs = F.col("__tempo_an_x")
            # strictly-preceding [-back, -1µs] as growing-frame differences
            w_run = self._growing_window(-1)
            w_bound = self._growing_window(-(back_micros + 1))
            n = F.count(xs).over(w_run) - F.count(xs).over(w_bound)
            s = F.when(
                n > 0,
                F.sum(xs).over(w_run)
                - F.coalesce(F.sum(xs).over(w_bound), F.lit(0.0)),
            )
            sq = F.when(
                n > 0,
                F.sum(xs * xs).over(w_run)
                - F.coalesce(F.sum(xs * xs).over(w_bound), F.lit(0.0)),
            )
        else:
            # strictly-preceding range frame: [-back, -1 microsecond]
            w = (
                Window.partitionBy(*[F.col(c) for c in self.series_ids])
                .orderBy(self._micros_order())
                .rangeBetween(-back_micros, -1)
            )
            n = F.count(x).over(w)
            s = F.sum(x).over(w)
            # cancellation-prone E[x²]−E[x]² form is fine here: the flag
            # compares against z·σ, and a clamped-to-zero variance lands in
            # the zero-baseline branch rather than producing NaN
            sq = F.sum(x * x).over(w)
        # ANSI throws DIVIDE_BY_ZERO even on the empty first frame of a
        # series — every division is gated on its count
        mean = F.when(n > 0, s / n)
        var = F.when(
            n >= 2, F.greatest((sq - s * s / n) / (n - F.lit(1)), F.lit(0.0))
        )
        # stage the window aggs once; the two outputs reference bound
        # columns instead of re-inlining three window expressions each
        staged = (
            base_df.withColumn("__tempo_an_n", n)
            .withColumn("__tempo_an_mean", mean)
            .withColumn("__tempo_an_std", F.sqrt(var))
        )
        nn, mm, ss = (
            F.col("__tempo_an_n"), F.col("__tempo_an_mean"), F.col("__tempo_an_std")
        )
        # the staged mean is shifted in prefix mode — compare the shifted x
        xc = F.col("__tempo_an_x") if strategy == "prefix" else x
        enough = nn >= min_points
        out = (
            staged.withColumn(
                f"zscore_{p}", F.when(enough & (ss > 0), (xc - mm) / ss)
            )
            .withColumn(
                f"is_anomaly_{p}",
                F.when(enough, F.abs(xc - mm) > F.lit(float(z)) * ss),
            )
            .drop(
                "__tempo_an_n",
                "__tempo_an_mean",
                "__tempo_an_std",
                "__tempo_an_x",
                "__tempo_an_x0",
            )
        )
        return self._with_df(out)

    def withLookbackFeatures(
        self,
        featureCols: Sequence[str],
        lookbackWindowSize: int,
        exactSize: bool = True,
        featureColName: str = "features",
    ) -> "TSDF":
        """Trailing 2-D feature tensor of the previous ``lookbackWindowSize``
        rows (reference: python/tempo/tsdf.py:1073-1110). Emits
        ``array<array<double>>`` via collect_list over a rows window."""
        arr = F.array(*[F.col(c).cast("double") for c in featureCols])
        w = self.rows_window(-lookbackWindowSize, -1)
        out = self.df.withColumn(featureColName, F.collect_list(arr).over(w))
        if exactSize:
            out = out.where(F.size(F.col(featureColName)) == lookbackWindowSize)
        return self._with_df(out)

    # ------------------------------------------------------ describe / misc

    def describe(self, reference_layout: bool = False) -> DataFrame:
        """Summary stats + time-series shape (reference:
        python/tempo/tsdf.py:622-700): Spark describe, plus unique-series
        count and global min/max ts appended as extra summary rows.
        One lazy plan (describe ∪ custom agg) — no driver-side loops.

        ``reference_layout=True`` emits the reference's EXACT row/column
        shape instead (for users diffing against reference notebooks): a
        leading ``global`` row carrying ``unique_time_series_count`` /
        ``min_ts`` / ``max_ts`` / ``granularity`` columns (blank `` `` in
        the stat rows), a ``{ts_col}_dbl`` double companion column included
        in the stats, and the reference's five-level granularity scale
        (millis/seconds/minutes/hours/days). Unlike the reference (three
        eager ``count()``/``head()`` actions at call time,
        python/tempo/tsdf.py:652-668), the global row is a lazy 1-row
        aggregate unioned in — same output, zero jobs until the caller
        acts."""
        if reference_layout:
            return self._describe_reference_layout()
        desc = self.df.describe()
        value_cols = [c for c in desc.columns if c != "summary"]
        if self.series_ids:
            series_count = F.countDistinct(*[F.col(c) for c in self.series_ids])
        else:
            series_count = F.lit(1)
        ts_d = ts_double_from(self.df, self.ts_col)
        # abs(): Spark's % keeps the dividend's sign, so pre-1970 (negative
        # epoch) timestamps yield negative remainders that a > 0 test would
        # misclassify as coarser granularity (reference uses != 0,
        # python/tempo/tsdf.py:658-666)
        granularity = (
            F.when(F.max(F.abs(ts_d % 60)) > 0, "second")
            .when(F.max(F.abs(ts_d % 3600)) > 0, "minute")
            .when(F.max(F.abs(ts_d % 86400)) > 0, "hour")
            .otherwise("day")
        )
        extras = self.df.agg(
            series_count.cast("string").alias("unique_ts_count"),
            F.min(self.ts_col).cast("string").alias("min_ts"),
            F.max(self.ts_col).cast("string").alias("max_ts"),
            granularity.alias("granularity"),
        )

        # Spark's describe() omits timestamp columns — land ts-derived rows
        # under the ts column when present, else the first value column; a
        # frame with nothing describe-able still gets the ts-derived rows
        if not value_cols:
            value_cols = [self.ts_col]
            desc = self.df.select(
                F.lit(None).cast("string").alias("summary"),
                F.lit(None).cast("string").alias(self.ts_col),
            ).limit(0)
        target_col = self.ts_col if self.ts_col in value_cols else value_cols[0]

        def _extra_row(label: str, src: str) -> DataFrame:
            cols = [F.lit(label).alias("summary")] + [
                (
                    F.col(src)
                    if c == target_col
                    else F.lit(None).cast("string")
                ).alias(c)
                for c in value_cols
            ]
            return extras.select(*cols)

        # missing_vals_pct per summarizable column (reference:
        # python/tempo/tsdf.py:634-646) — guarded count so an empty frame
        # yields null instead of an ANSI divide-by-zero
        n_rows = F.count(F.lit(1))
        missing = self.df.agg(
            *[
                F.when(
                    n_rows > 0,
                    F.lit(100) * F.count(F.when(F.col(c).isNull(), c)) / n_rows,
                )
                .cast("string")
                .alias(c)
                for c in value_cols
            ]
        ).select(F.lit("missing_vals_pct").alias("summary"), *value_cols)

        out = desc.unionByName(missing)
        for label, src in (
            ("unique_time_series_count", "unique_ts_count"),
            ("min_ts", "min_ts"),
            ("max_ts", "max_ts"),
            ("granularity", "granularity"),
        ):
            out = out.unionByName(_extra_row(label, src))
        return out

    def _describe_reference_layout(self) -> DataFrame:
        """The reference's describe shape (python/tempo/tsdf.py:622-700),
        built lazily. Differences kept deliberately: the millis test uses
        ``abs(ts % 1) > 0`` instead of the reference's
        ``ts - cast(ts as integer)`` (an ANSI-mode integer cast overflows
        for post-2038 epochs and the subtraction misclassifies pre-1970
        fractions), and the remainder tests are ``!= 0`` like the
        reference (sign-safe as-is)."""
        dbl = f"{self.ts_col}_dbl"
        ts_d = ts_double_from(self.df, self.ts_col)
        this_df = self.df.withColumn(dbl, ts_d)

        desc = this_df.describe()
        value_cols = [c for c in desc.columns if c != "summary"]
        n_rows = F.count(F.lit(1))
        missing = this_df.agg(
            *[
                F.when(
                    n_rows > 0,
                    F.lit(100) * F.count(F.when(F.col(c).isNull(), c)) / n_rows,
                )
                .cast("string")
                .alias(c)
                for c in value_cols
            ]
        ).select(F.lit("missing_vals_pct").alias("summary"), *value_cols)
        blank = F.lit(" ")
        stat_rows = desc.unionByName(missing).select(
            F.col("summary"),
            blank.alias("unique_time_series_count"),
            blank.alias("min_ts"),
            blank.alias("max_ts"),
            blank.alias("granularity"),
            *value_cols,
        )

        if self.series_ids:
            series_count = F.countDistinct(*[F.col(c) for c in self.series_ids])
        else:
            series_count = F.lit(1)
        gran_case = (
            F.when(F.abs(F.col(dbl) % 1) > 0, "1-millis")
            .when(F.col(dbl) % 60 != 0, "2-seconds")
            .when(F.col(dbl) % 3600 != 0, "3-minutes")
            .when(F.col(dbl) % 86400 != 0, "4-hours")
            .otherwise("5-days")
        )
        global_row = this_df.agg(
            series_count.cast("string").alias("unique_time_series_count"),
            F.min(self.ts_col).cast("string").alias("min_ts"),
            F.max(self.ts_col).cast("string").alias("max_ts"),
            F.substring(F.min(gran_case), 3, 16).alias("granularity"),
        ).select(
            F.lit("global").alias("summary"),
            "unique_time_series_count",
            "min_ts",
            "max_ts",
            "granularity",
            *[blank.alias(c) for c in value_cols],
        )
        return global_row.unionByName(stat_rows)

    def granularity_histogram(self) -> DataFrame:
        """Per-series granularity histogram: classify each series by the
        finest time unit its timestamps actually use (second/minute/hour/
        day, same classification rule as ``describe``, reference:
        python/tempo/tsdf.py:658-666 — but per series instead of global),
        then count series per class. Returns (granularity, n_series).

        One shuffle on series_ids with map-side partial max; the second
        aggregation is over ≤4 keys."""
        ts_d = ts_double_from(self.df, self.ts_col)
        grp = [F.col(c) for c in self.series_ids] if self.series_ids else []
        # abs(): negative-epoch timestamps give negative remainders (see
        # describe) — max(abs(r)) != 0 is sign-safe
        per_series = self.df.groupBy(*grp).agg(
            F.max(F.abs(ts_d % 60)).alias("__m60"),
            F.max(F.abs(ts_d % 3600)).alias("__m3600"),
            F.max(F.abs(ts_d % 86400)).alias("__m86400"),
        )
        granularity = (
            F.when(F.col("__m60") > 0, "second")
            .when(F.col("__m3600") > 0, "minute")
            .when(F.col("__m86400") > 0, "hour")
            .otherwise("day")
        )
        return (
            per_series.select(granularity.alias("granularity"))
            .groupBy("granularity")
            .agg(F.count("*").alias("n_series"))
        )

    # --------------------------------------------------------- state & fourier

    def extractStateIntervals(
        self,
        *metric_cols: str,
        state_definition: Union[str, Callable[[Column, Column], Column]] = "=",
    ) -> DataFrame:
        from tempo_spark.operators.state import extract_state_intervals

        return extract_state_intervals(self, list(metric_cols), state_definition)

    def sessionize(self, gap_seconds: float) -> DataFrame:
        from tempo_spark.operators.sessions import sessionize

        return sessionize(self, gap_seconds)

    def gaps(self, min_gap: str):
        """Silence detection: intervals where consecutive observations of a
        series are STRICTLY further apart than ``min_gap`` (sensor
        outages, feed halts, collection blackouts — the complement of
        :meth:`sessionize`). Returns an IntervalsDF of
        (series…, gap_start, gap_end, gap_micros): gap_start = the last
        observation before the silence, gap_end = the first one after.
        One window over the per-series shuffle; trailing silence (after
        the final observation) is unbounded and not emitted. Feed the
        result to ``coverage_by_bucket`` for a per-hour outage fraction."""
        from tempo_spark.functions.freq import parse_freq
        from tempo_spark.intervals import IntervalsDF

        f = parse_freq(min_gap)
        g_us = int(round(f.seconds * 1e6))
        if g_us <= 0:
            raise ValueError(f"min_gap must be positive, got {min_gap!r}")
        clash = {"gap_start", "gap_end", "gap_micros"} & set(self.df.columns)
        if clash:
            raise ValueError(f"reserved output columns present: {sorted(clash)}")
        cur = self._exact_micros_order()
        w = Window.partitionBy(
            *[F.col(c) for c in self.series_ids]
        ).orderBy(cur)
        nxt = F.lead(cur).over(w)
        nxt_ts = F.lead(F.col(self.ts_col)).over(w)
        out = (
            self.df.select(
                *self.series_ids,
                F.col(self.ts_col).alias("gap_start"),
                nxt_ts.alias("gap_end"),
                (nxt - cur).alias("gap_micros"),
            )
            .where(F.col("gap_micros") > F.lit(g_us))
        )
        return IntervalsDF(
            out, start_ts="gap_start", end_ts="gap_end",
            series_ids=list(self.series_ids),
        )

    def fourier_transform(self, timestep: float, valueCol: str) -> "TSDF":
        from tempo_spark.operators.fourier import fourier_transform

        return fourier_transform(self, timestep, valueCol)

    def spectral_filter(
        self, value_col: str, timestep: float,
        low_cutoff_hz: Optional[float] = None,
        high_cutoff_hz: Optional[float] = None,
        out: Optional[str] = None,
    ) -> "TSDF":
        """FFT band-pass denoising per series (zero out-of-band bins,
        inverse transform). See operators/fourier.py."""
        from tempo_spark.operators.fourier import spectral_filter

        return spectral_filter(
            self, value_col, timestep, low_cutoff_hz, high_cutoff_hz, out
        )

    def downsample_lttb(self, n_out: int, value_col: str) -> DataFrame:
        """Visual downsampling to ≤ ``n_out`` points per series by LTTB
        (Largest-Triangle-Three-Buckets, Steinarsson 2013 — the parallel
        bucket-average-anchor variant; see operators/lttb.py for the
        exactness and one-shuffle contracts). Rows returned are ORIGINAL
        rows (first + last + one max-area point per interior bucket)."""
        from tempo_spark.operators.lttb import downsample_lttb

        return downsample_lttb(self, n_out, value_col)

    def seasonal_decompose(
        self, value_col: str, period: int, model: str = "additive",
        trend_method: str = "ma",
    ) -> DataFrame:
        """Classical moving-average decomposition into trend + seasonal +
        residual columns (observation-based period; resample first for
        calendar periods). ``trend_method="median"`` = robust running-
        median trend (outliers land in resid). See operators/seasonal.py
        for the exactness and plan contracts."""
        from tempo_spark.operators.seasonal import seasonal_decompose

        return seasonal_decompose(self, value_col, period, model, trend_method)

    def seasonal_anomalies(
        self, value_col: str, period: int, z: float = 3.0,
        model: str = "additive", trend_method: str = "ma",
        out_flag: str = "is_anomaly", out_z: str = "resid_z",
    ) -> DataFrame:
        """Seasonal-residual anomaly detection: decompose, then flag rows
        whose residual deviates > ``z`` sample σ from the series' own
        residual mean (regular seasonal peaks never flag; genuine spikes
        do). See operators/seasonal.py."""
        from tempo_spark.operators.seasonal import seasonal_anomalies

        return seasonal_anomalies(
            self, value_col, period, z, model, trend_method, out_flag,
            out_z,
        )

    def fit_trend(self, value_col: str) -> DataFrame:
        """Per-series OLS trend: (series…, n_obs, slope_per_sec,
        intercept, r2) — drift diagnostic / base forecast. See
        operators/trend.py for the exactness contract."""
        from tempo_spark.operators.trend import fit_trend

        return fit_trend(self, value_col)

    def autocorr(self, value_col: str, lags=10, strategy: str = "auto") -> DataFrame:
        """Per-series autocorrelation at observation lags (Box-Jenkins
        ACF): (series…, lag, n_pairs, acf). One window pass carries every
        lag's lead, one shuffle total; exact decimal sufficient statistics.
        ``strategy`` pins the window vs position-join plan (scale-dependent
        crossover — see operators/acf.py)."""
        from tempo_spark.operators.acf import autocorr

        return autocorr(self, value_col, lags, strategy)

    def pairwiseCorr(self, metric_cols) -> DataFrame:
        """Per-series Pearson correlation matrix over ``metric_cols`` in
        one pass/one shuffle: (series…, x_col, y_col, n_pairs, corr).
        See operators/acf.py for the exactness contract."""
        from tempo_spark.operators.acf import pairwise_corr

        return pairwise_corr(self, metric_cols)

    def sax(
        self, value_col: str, n_segments: int, alphabet: int = 4,
        znormalize: bool = True,
    ) -> DataFrame:
        """(series…, segment, n_in_segment, paa, symbol) — SAX symbolic
        representation (PAA + Gaussian-breakpoint letters). See
        operators/sax.py."""
        from tempo_spark.operators.sax import sax_transform

        return sax_transform(self, value_col, n_segments, alphabet, znormalize)

    def sax_words(
        self, value_col: str, n_segments: int, alphabet: int = 4,
        znormalize: bool = True, out: str = "sax",
    ) -> DataFrame:
        """(series…, ``out``) — the SAX word per series (motif key). See
        operators/sax.py."""
        from tempo_spark.operators.sax import sax_strings

        return sax_strings(
            self, value_col, n_segments, alphabet, znormalize, out
        )

    def pacf(self, value_col: str, lags: int = 10) -> DataFrame:
        """Per-series partial autocorrelation at lags 1..``lags``
        (Durbin-Levinson over :meth:`autocorr`'s exact ACF — AR-order
        selection): (series…, lag, pacf). See operators/acf.py."""
        from tempo_spark.operators.acf import pacf

        return pacf(self, value_col, lags)

    def crossCorr(
        self, x_col: str, y_col: str, max_lag: int = 10, lags=None,
        strategy: str = "auto",
    ) -> DataFrame:
        """Per-series cross-correlation between two metrics at observation
        lags (positive lag: x leads y): (series…, lag, n_pairs, ccf). See
        operators/acf.py."""
        from tempo_spark.operators.acf import cross_corr

        return cross_corr(self, x_col, y_col, max_lag, lags, strategy)

    def changepoint(self, value_col: str) -> DataFrame:
        """Best single mean-shift split per series (binary-segmentation
        step): (series…, split_ts, n_left, n, mean_left, mean_right,
        score). See operators/changepoint.py for the exactness and
        one-shuffle contracts."""
        from tempo_spark.operators.changepoint import changepoint

        return changepoint(self, value_col)

    def seasonal_strength(
        self, value_col: str, period: int, model: str = "additive",
        trend_method: str = "ma",
    ) -> DataFrame:
        """STL-style per-series trend/seasonal strength in [0, 1]
        (Hyndman features over :meth:`seasonal_decompose`'s components).
        See operators/seasonal.py."""
        from tempo_spark.operators.seasonal import seasonal_strength

        return seasonal_strength(self, value_col, period, model, trend_method)

    def withRSI(
        self, value_col: str, window: int = 14, out: str = "rsi"
    ) -> "TSDF":
        """df + Cutler's RSI over the last ``window`` one-step diffs.
        See operators/indicators.py."""
        from tempo_spark.operators.indicators import with_rsi

        return self._with_df(with_rsi(self, value_col, window, out))

    def withBollinger(
        self, value_col: str, window: int = 20, k: float = 2.0,
        prefix: str = "bb",
    ) -> "TSDF":
        """df + rolling mean ± k·sample-σ bands. See
        operators/indicators.py."""
        from tempo_spark.operators.indicators import with_bollinger

        return self._with_df(with_bollinger(self, value_col, window, k, prefix))

    def withMACD(
        self, value_col: str, fast: int = 12, slow: int = 26,
        signal: int = 9, prefix: str = "macd",
        ema_window: Optional[int] = None,
        ema_strategy: str = "sliding",
    ) -> "TSDF":
        """df + MACD line / signal / histogram via three chained EMA
        passes (``ema_window`` = truncation depth, default 4·slow;
        ``ema_strategy="prefix"`` = the O(rows) scale form). See
        operators/indicators.py."""
        from tempo_spark.operators.indicators import with_macd

        return self._with_df(
            with_macd(self, value_col, fast, slow, signal, prefix,
                      ema_window, ema_strategy)
        )

    def withATR(
        self, high_col: str, low_col: str, close_col: str,
        window: int = 14, out: str = "atr",
    ) -> "TSDF":
        """df + Average True Range (SMA variant) over OHLC bar columns
        (compose with :meth:`calc_bars`). See operators/indicators.py."""
        from tempo_spark.operators.indicators import with_atr

        return self._with_df(
            with_atr(self, high_col, low_col, close_col, window, out)
        )

    def withStochastic(
        self, high_col: str, low_col: str, close_col: str,
        k_window: int = 14, d_window: int = 3, prefix: str = "stoch",
    ) -> "TSDF":
        """df + stochastic oscillator %K/%D over OHLC bar columns
        (compose with :meth:`calc_bars`). See operators/indicators.py."""
        from tempo_spark.operators.indicators import with_stochastic

        return self._with_df(
            with_stochastic(
                self, high_col, low_col, close_col, k_window, d_window,
                prefix,
            )
        )

    def withWilliamsR(
        self, high_col: str, low_col: str, close_col: str,
        window: int = 14, out: str = "williams_r",
    ) -> "TSDF":
        """df + Williams %R over OHLC bar columns (compose with
        :meth:`calc_bars`). See operators/indicators.py."""
        from tempo_spark.operators.indicators import with_williams_r

        return self._with_df(
            with_williams_r(self, high_col, low_col, close_col, window, out)
        )

    def withOBV(
        self, close_col: str, volume_col: str, out: str = "obv"
    ) -> "TSDF":
        """df + On-Balance Volume (exact growing-frame signed-volume
        sum). See operators/indicators.py."""
        from tempo_spark.operators.indicators import with_obv

        return self._with_df(with_obv(self, close_col, volume_col, out))

    def withCusum(
        self, value_col: str, target=None, k: float = 0.0, h=None,
        prefix: str = "cusum",
    ) -> "TSDF":
        """df + two-sided CUSUM control chart (sequential mean-shift
        detection; exact prefix-sum/running-min form). See
        operators/indicators.py."""
        from tempo_spark.operators.indicators import with_cusum

        return self._with_df(
            with_cusum(self, value_col, target, k, h, prefix)
        )

    def forecast_naive(
        self, value_col: str, horizon: int, freq: str,
        method: str = "last", period: Optional[int] = None,
    ) -> DataFrame:
        """Baseline forecasts per series (naive / drift / seasonal-naive):
        (series…, h, ts, yhat), ``horizon`` future rows stepping by
        ``freq`` from the last observation. See operators/forecast.py."""
        from tempo_spark.operators.forecast import forecast_naive

        return forecast_naive(self, value_col, horizon, freq, method, period)

    def forecast_ets(
        self, value_col: str, horizon: int, freq: str,
        method: str = "ses", alpha: float = 0.3,
        beta: Optional[float] = None, gamma: Optional[float] = None,
        period: Optional[int] = None, fit_window: Optional[int] = None,
        phi: Optional[float] = None,
    ) -> DataFrame:
        """Exponential-smoothing forecasts (simple / Holt incl. damped
        trend via ``phi`` / additive Holt-Winters) over the last
        ``fit_window`` observations: (series…, h, ts, yhat). See
        operators/forecast.py."""
        from tempo_spark.operators.forecast import forecast_ets

        return forecast_ets(
            self, value_col, horizon, freq, method, alpha, beta, gamma,
            period, fit_window, phi,
        )

    def changepoints(
        self, value_col: str, rounds: int = 3, min_size: int = 2,
        min_score: Optional[float] = None,
    ) -> DataFrame:
        """Parallel binary segmentation: every accepted mean-shift split
        across ``rounds`` recursion rounds (heap segment ids). See
        operators/changepoint.py."""
        from tempo_spark.operators.changepoint import changepoints

        return changepoints(self, value_col, rounds, min_size, min_score)

    def withDrawdown(
        self, value_col: str, out: str = "drawdown",
        out_pct: str = "drawdown_pct",
    ) -> "TSDF":
        """df + running ``peak`` / ``out`` / ``out_pct`` columns (risk
        monitoring; see operators/robust.py)."""
        from tempo_spark.operators.robust import with_drawdown

        return self._with_df(with_drawdown(self, value_col, out, out_pct))

    def winsorize(
        self, value_col: str, lower: float = 0.05, upper: float = 0.95,
        out: Optional[str] = None,
    ) -> "TSDF":
        """df + clipped column at the series' own exact [lower, upper]
        percentiles (outlier taming; see operators/robust.py)."""
        from tempo_spark.operators.robust import winsorize

        return self._with_df(winsorize(self, value_col, lower, upper, out))

    def withRollingQuantile(
        self, value_col: str, window: int, q: float = 0.5,
        out: Optional[str] = None, min_periods: Optional[int] = None,
    ) -> "TSDF":
        """df + exact rolling q-quantile of the last ``window`` values
        (q=0.5 = rolling median). See operators/robust.py."""
        from tempo_spark.operators.robust import with_rolling_quantile

        return self._with_df(
            with_rolling_quantile(
                self, value_col, window, q, out, min_periods
            )
        )

    def withHampel(
        self, value_col: str, window: int = 7, k: float = 3.0,
        out_flag: str = "is_outlier", out_filtered: Optional[str] = None,
    ) -> "TSDF":
        """df + Hampel rolling-median despike flag (and optionally the
        median-filtered column). See operators/robust.py."""
        from tempo_spark.operators.robust import with_hampel

        return self._with_df(
            with_hampel(self, value_col, window, k, out_flag, out_filtered)
        )

    def downsample_minmax(self, n_buckets: int, value_col: str) -> DataFrame:
        """Min-max envelope downsampling: per equal-count bucket keep the
        rows holding the bucket min AND max of ``value_col`` (≤ 2·buckets
        rows per series, extremes preserved exactly). See
        operators/lttb.py."""
        from tempo_spark.operators.lttb import downsample_minmax

        return downsample_minmax(self, n_buckets, value_col)

    # ------------------------------------------------------ resample & interp

    def resample(
        self,
        freq: str,
        func: str,
        metricCols: Optional[Sequence[str]] = None,
        prefix: Optional[str] = None,
        fill: Optional[bool] = None,
        perform_checks: bool = False,  # reference-API compat; horizon check is explicit here
        origin=None,
        closed: str = "left",
        label: str = "left",
    ) -> "TSDF":
        from tempo_spark.operators.resample import resample as _resample

        return _resample(
            self, freq, func, metric_cols=metricCols, prefix=prefix,
            fill=fill, origin=origin, closed=closed, label=label,
        )

    def resample_rollup(
        self,
        freqs: Sequence[str],
        func,
        metricCols: Optional[Sequence[str]] = None,
        prefix: Optional[str] = None,
        grain_col: str = "grain",
    ) -> DataFrame:
        """Multi-grain rollup: ``resample(freq, func)`` for every grain in
        ``freqs`` in ONE pass over the raw rows (finest-grain partials
        re-aggregated upward — the continuous-aggregate shape). Returns a
        DataFrame tagged by ``grain_col``; see
        tempo_spark.operators.resample.resample_rollup for the exactness
        requirements (nested grains, re-aggregatable funcs)."""
        from tempo_spark.operators.resample import (
            resample_rollup as _resample_rollup,
        )

        return _resample_rollup(
            self, freqs, func, metric_cols=metricCols, prefix=prefix,
            grain_col=grain_col,
        )

    def deduplicated(self, keep: str = "max") -> "TSDF":
        """One deterministic row per ``(series_ids, ts_col)`` — the
        dirty-feed cleanup nearly every ingest needs before per-series
        operators (duplicate ticks break window frames and as-of ties).
        The representative row is chosen by struct ordering over
        ``(sequence_col if any, *metric/other columns)``: ``keep="max"``
        (default) keeps the lexicographically greatest tuple — i.e. the
        highest sequence number, ties broken by the values themselves —
        ``keep="min"`` the least. Deterministic regardless of input order,
        unlike ``dropDuplicates`` (arbitrary row) and unlike per-column
        aggregation (which can stitch a row that never existed). ONE
        map-side-combined shuffle."""
        if keep not in ("min", "max"):
            raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
        value_cols = [c for c in self.df.columns
                      if c != self.ts_col and c not in self.series_ids]
        if not value_cols:
            return self._with_df(self.df.dropDuplicates())
        order = (
            [self.sequence_col] if self.sequence_col else []
        ) + [c for c in value_cols if c != self.sequence_col]
        pick = F.max if keep == "max" else F.min
        rep = pick(F.struct(*[F.col(c) for c in order])).alias("__rep")
        out = (
            self.df.groupBy(*self.series_ids, self.ts_col)
            .agg(rep)
            .select(
                *self.series_ids,
                self.ts_col,
                *[F.col(f"__rep.{c}").alias(c) for c in order],
            )
            .select(*self.df.columns)
        )
        return self._with_df(out)

    def fillForward(self, cols: Optional[Sequence[str]] = None) -> "TSDF":
        """Per-series in-place forward fill: each null metric takes the most
        recent earlier non-null value in its own series — WITHOUT changing
        the row grid (``interpolate("ffill")`` resamples onto a frequency
        first; this is the plain pandas ``ffill`` on the existing rows).
        One shuffle; ``last(col, ignorenulls)`` over the growing per-series
        window, which Spark evaluates incrementally (O(n))."""
        targets = list(cols or self.metric_cols)
        w = self.base_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = self.df
        for c in targets:
            out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
        return self._with_df(out)

    def fillBackward(self, cols: Optional[Sequence[str]] = None) -> "TSDF":
        """Per-series in-place backward fill (pandas ``bfill`` on the
        existing rows): each null metric takes the next LATER non-null
        value. Implemented as ``first(col, ignorenulls)`` over the
        DESC-ordered growing frame — incremental O(n), unlike a
        ``[currentRow, unboundedFollowing]`` frame which Spark
        re-aggregates per row (the block-minmax lesson)."""
        targets = list(cols or self.metric_cols)
        w = self.base_window(reverse=True).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = self.df
        for c in targets:
            out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
        return self._with_df(out)

    def interpolate(
        self,
        method: str,
        freq: Optional[str] = None,
        func: Optional[str] = None,
        target_cols: Optional[Sequence[str]] = None,
        ts_col: Optional[str] = None,
        partition_cols: Optional[Sequence[str]] = None,
        show_interpolated: bool = False,
        perform_checks: bool = False,  # reference-API compat
    ) -> "TSDF":
        from tempo_spark.operators.interpolation import interpolate as _interpolate

        if ts_col is not None or partition_cols is not None:
            base = TSDF(
                self.df,
                ts_col=ts_col or self.ts_col,
                series_ids=partition_cols if partition_cols is not None else self.series_ids,
                sequence_col=self.sequence_col,
            )
            return base.interpolate(
                method, freq=freq, func=func, target_cols=target_cols,
                show_interpolated=show_interpolated,
            )
        if freq is None or func is None:
            raise ValueError("interpolate on a raw TSDF requires freq and func")
        return _interpolate(
            self,
            freq=freq,
            func=func,
            method=method,
            target_cols=target_cols,
            show_interpolated=show_interpolated,
            already_resampled=False,
        )

    def calc_bars(
        self,
        freq: str,
        metricCols: Optional[Sequence[str]] = None,
        fill: Optional[bool] = None,
    ) -> "TSDF":
        from tempo_spark.operators.resample import calc_bars as _calc_bars

        return _calc_bars(self, freq, metric_cols=metricCols, fill=fill)

    def calc_bars_rollup(
        self,
        freqs: Sequence[str],
        metricCols: Optional[Sequence[str]] = None,
        grain_col: str = "grain",
    ) -> DataFrame:
        """Multi-grain OHLC bars in ONE pass over the raw rows (finest
        partials re-aggregated upward — see resample_rollup). Returns a
        grain-tagged DataFrame."""
        from tempo_spark.operators.resample import (
            calc_bars_rollup as _calc_bars_rollup,
        )

        return _calc_bars_rollup(
            self, freqs, metric_cols=metricCols, grain_col=grain_col
        )

    # ----------------------------------------------------------------- write

    def write(self, spark, tabName: str, optimizationCols: Optional[Sequence[str]] = None, mode: str = "overwrite") -> None:
        from tempo_spark.sources.io import write_tsdf

        write_tsdf(self, spark, tabName, optimization_cols=optimizationCols, mode=mode)


class ResampledTSDF(TSDF):
    """A TSDF produced by ``resample`` that remembers freq/func so a chained
    ``.interpolate(method=...)`` needs no re-specification
    (reference: python/tempo/tsdf.py:1619-1689)."""

    def __init__(self, df, ts_col, series_ids, sequence_col=None, *, freq: str, func: str, validate: bool = False):
        super().__init__(df, ts_col, series_ids, sequence_col, validate=validate)
        self._freq = freq
        self._func = func

    def interpolate(  # type: ignore[override]
        self,
        method: str,
        freq: Optional[str] = None,
        func: Optional[str] = None,
        target_cols: Optional[Sequence[str]] = None,
        show_interpolated: bool = False,
    ) -> "TSDF":
        from collections.abc import Mapping

        from tempo_spark.operators.interpolation import interpolate as _interpolate

        resolved = func or self._func
        if isinstance(resolved, Mapping):
            raise ValueError(
                "this frame was resampled with a per-column func mapping; "
                "pass an explicit scalar func= to interpolate()"
            )
        return _interpolate(
            self,
            freq=freq or self._freq,
            func=resolved,
            method=method,
            target_cols=target_cols,
            show_interpolated=show_interpolated,
            already_resampled=(freq is None or freq == self._freq),
        )
