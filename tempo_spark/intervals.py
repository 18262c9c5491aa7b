"""IntervalsDF — interval algebra over a Spark DataFrame.

Each row is a time interval ``[start_ts, end_ts)`` with ``series_ids``
dimension columns and a metric/observation payload (reference:
python/tempo/intervals.py:41-137).

``make_disjoint`` here is a **native Spark rewrite** of the reference's
O(n²)-per-series pandas kernel (reference: python/tempo/intervals.py:383-1331,
executed via applyInPandas at :263-271). The algorithm:

1. explode every interval's boundaries, distinct them per series, and pair
   consecutive boundaries into *elementary segments* (lead over a window),
2. join each segment to the intervals covering it (overlap =
   ``seg_start < i.end AND seg_end > i.start``),
3. per segment, merge the payload: every column coalesces over the covering
   intervals ordered **(start asc, end desc)** — the outer/earlier
   interval's non-null value wins and later intervals fill its nulls,
   exactly the reference kernel's precedence (every resolve_overlap branch
   merges with the (start asc, end desc)-minimal interval as the
   overwriting child, reference: python/tempo/intervals.py:794-1065;
   pinned by the 75-case recorded branch matrix in
   tests/goldens/interval_kernel_tests.json). Intervals with identical
   (start, end) boundaries and conflicting non-null values tie-break on
   the greater value (struct ordering) — deterministic, where the
   reference's pandas kernel depends on input row order,
4. dissolve a junction between contiguous equal-payload segments only when
   the reference's equivalent-metrics branch would have merged the spans
   (one identical raw metric vector covers both segments and some interval
   strictly spans the junction, reference: python/tempo/intervals.py:
   817-826) — cuts from containment/shared-boundary splits are KEPT even
   when the merged payloads come out equal, as the reference emits them.

Complexity: O(n log n) per series via shuffle+sort instead of O(n²) Python,
no Arrow round-trip, and whole-stage codegen end to end. The segment↔interval
join is per-series and range-predicated; with heavily-overlapping giant
series it can widen, but elementary segments are bounded by 2n-1 per series.
"""

from __future__ import annotations

from functools import cached_property, reduce
from typing import Optional, Sequence, Union

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import BooleanType, NumericType

from tempo_spark.functions.sql import ident, str_lit


def is_metric_col(field) -> bool:
    return isinstance(field.dataType, (NumericType, BooleanType))


# "auto" binning fires when the average interval count per series exceeds
# this — below it the plain per-series range join's candidate-pair count
# (≈ 2·n_s² per series) stays in the tens-of-millions-of-predicate-evals
# range a single core clears in well under a second; above it the
# un-binned plan degrades quadratically (the --ivljoin probe measured a
# plain interval join KILLED at 9 min for 500k rows × 8 series where the
# binned plan ran 1.9 s). Module-level so tests/probes can tune it.
AUTO_BIN_ROWS_PER_SERIES = 8000

BinSeconds = Union[float, int, str, None]

#: memoized "auto" probe results keyed by the input plan's semanticHash —
#: the probe is an index-style STATISTIC (it picks a join strategy, never
#: affects results), so reusing it across calls on the same logical plan
#: (pipeline retries, repeated make_disjoint over one source, warm loops)
#: saves a full upstream execution per call; a stale or hash-colliding
#: entry can only pick a suboptimal plan, not a wrong answer. Bounded FIFO.
_AUTO_BIN_CACHE: dict[tuple, Optional[float]] = {}
_AUTO_BIN_CACHE_MAX = 256


def _resolve_bin_seconds(
    stats_df: DataFrame,
    start_ts: str,
    end_ts: str,
    series_ids: Sequence[str],
    bin_seconds: BinSeconds,
    allow_binning: bool = True,
) -> Optional[float]:
    """Turn a ``bin_seconds`` argument into a concrete width (or None).

    Numeric → use as given; ``None`` → explicitly un-binned; ``"auto"`` →
    probe ``stats_df`` with ONE cheap aggregate (count, approximate series
    cardinality, median/p90 interval length in seconds) and bin iff the
    average rows-per-series crosses :data:`AUTO_BIN_ROWS_PER_SERIES`. The
    width is the median interval length (p90 fallback when the median is
    degenerate) — the scale at which a typical interval covers ~2 bins, so
    the explode fanout stays O(1) while the join key gains real temporal
    locality. This is the one sanctioned eager action at plan-build time:
    an index-style physical-plan choice, same spirit as AQE's runtime
    statistics.
    """
    if bin_seconds is None:
        return None
    if not isinstance(bin_seconds, str):
        return float(bin_seconds)
    if bin_seconds != "auto":
        raise ValueError(f"bin_seconds must be a number, None, or 'auto', got {bin_seconds!r}")
    if not allow_binning:
        return None
    try:
        cache_key = (
            stats_df.semanticHash(), start_ts, end_ts, tuple(series_ids),
            AUTO_BIN_ROWS_PER_SERIES,
        )
    except Exception:  # pragma: no cover - plans a hash can't reach
        cache_key = None
    if cache_key is not None and cache_key in _AUTO_BIN_CACHE:
        return _AUTO_BIN_CACHE[cache_key]
    from tempo_spark.functions.timestamps import ts_to_double

    length = ts_to_double(
        F.col(end_ts), stats_df.schema[end_ts].dataType
    ) - ts_to_double(F.col(start_ts), stats_df.schema[start_ts].dataType)
    sid = (
        F.struct(*[F.col(c) for c in series_ids]) if series_ids else F.lit(1)
    )
    row = stats_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(sid).alias("ns"),
        F.percentile_approx(length, [0.5, 0.9], 1000).alias("len_q"),
    ).first()

    def decide() -> Optional[float]:
        if row is None or not row["n"]:
            return None
        per_series = row["n"] / max(row["ns"] or 1, 1)
        if per_series <= AUTO_BIN_ROWS_PER_SERIES:
            return None
        med, p90 = (row["len_q"] or [None, None])
        for width in (med, p90):
            if width is not None and width > 0:
                return float(width)
        return None  # all intervals zero/unknown length — nothing to bin over

    result = decide()
    if cache_key is not None:
        if len(_AUTO_BIN_CACHE) >= _AUTO_BIN_CACHE_MAX:
            _AUTO_BIN_CACHE.pop(next(iter(_AUTO_BIN_CACHE)))
        _AUTO_BIN_CACHE[cache_key] = result
    return result


def _two_level_merged(
    df: DataFrame,
    s: str,
    e: str,
    series: Sequence[str],
    segments: DataFrame,
    seg_series: Sequence[str],
    seg_s: str,
    seg_e: str,
    payload: Sequence[str],
    n_buckets: int,
    _coalesce: str,
) -> DataFrame:
    """Depth-bucketed two-level replacement for make_disjoint's
    segment↔interval pairing + merge aggregation (steps 2–3), guide §2.3.

    Exactness: the per-series hash split PARTITIONS every segment's
    covering-interval set, and every merge statistic is an associative
    min/max —
      - per-metric winner ``max(struct(-start, end, v))`` (the level-1
        partial carries the whole STRUCT, not ``.v``, so the level-2 max
        compares the same precedence key),
      - ``__ext``'s ``max(interval end)``,
      - ``__one_vec``'s ``min(vec)``/``max(vec)`` (both carried)
    — so re-reducing the level-1 partials reproduces the single-level
    aggregate bit-for-bit. Global segments refine bucket segments (bucket
    boundaries are a subset of global boundaries), so a level-2 overlap
    match is automatically a containment, every raw interval covering a
    global segment contributes through exactly one bucket, and covered
    bucket segments never leak coverage a raw interval didn't have.

    Pair count: ~rows·depth/B at level 1 plus ~2·rows·B at level 2, vs
    rows·depth single-level — the dense-regime (depth ≫ 1) lever.
    """
    from tempo_spark.functions.timestamps import ts_to_double

    s_dtype = df.schema[s].dataType
    e_dtype = df.schema[e].dataType
    # any deterministic per-row bucket partitions the covering sets; the
    # row's identity (series, start, end) suffices — payload is not hashed
    dfb = df.withColumn(
        "__mb_bk",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in [*series, s, e]]), F.lit(n_buckets)
        ),
    )

    # level 1: bucket-local elementary segments (boundaries from the
    # bucket's own intervals only) and the bucket-local partial merge
    b_bounds = dfb.select(
        *[F.col(c).alias(a) for c, a in zip(series, seg_series)],
        F.col("__mb_bk").alias("__mb_bkk"),
        F.explode(F.array(F.col(s), F.col(e))).alias("__mb_b"),
    ).distinct()
    wb1 = Window.partitionBy(*seg_series, "__mb_bkk").orderBy("__mb_b")
    bseg = (
        b_bounds.withColumn("__mb_be", F.lead(F.col("__mb_b")).over(wb1))
        .where(F.col("__mb_be").isNotNull())
        .withColumnRenamed("__mb_b", "__mb_bs")
    )
    overlap1 = (F.col("__mb_bs") < F.col(e)) & (F.col("__mb_be") > F.col(s))
    series_eq = [F.col(a) == F.col(c) for a, c in zip(seg_series, series)]
    cond1 = reduce(
        lambda a, b: a & b,
        series_eq + [F.col("__mb_bkk") == F.col("__mb_bk")],
        overlap1,
    )
    paired1 = bseg.join(dfb, on=cond1, how="inner").select(
        *seg_series,
        "__mb_bkk",
        "__mb_bs",
        "__mb_be",
        F.col(e).alias("__i_end"),
        ts_to_double(F.col(s), s_dtype).alias("__i_start_d"),
        ts_to_double(F.col(e), e_dtype).alias("__i_end_d"),
        *payload,
    )
    winner_aggs = [
        F.max(
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    (-F.col("__i_start_d")).alias("ns"),
                    F.col("__i_end_d").alias("e"),
                    F.col(c).alias("v"),
                ),
            )
        ).alias(f"__mb_w_{i}")
        for i, c in enumerate(payload)
    ]
    vec = F.struct(*[F.col(c) for c in payload]) if payload else None
    if _coalesce == "reference":
        lvl1_stats = [F.max(F.col("__i_end")).alias("__mb_end")]
        if payload:
            lvl1_stats += [
                F.min(vec).alias("__mb_vmin"),
                F.max(vec).alias("__mb_vmax"),
            ]
    elif payload:
        lvl1_stats = []
    else:
        lvl1_stats = [F.max(F.lit(1)).alias("__mb_one")]
    lvl1 = paired1.groupBy(*seg_series, "__mb_bkk", "__mb_bs", "__mb_be").agg(
        *winner_aggs, *lvl1_stats
    )

    # level 2: re-reduce the bucket partials over the GLOBAL segments
    # (the `segments` frame step 1 already built); containment is implied
    # by overlap because global boundaries are a superset of bucket ones.
    g_series = [f"__mb_g_{i}" for i in range(len(series))]
    fseg = segments.select(
        *[F.col(a).alias(g) for a, g in zip(seg_series, g_series)],
        seg_s,
        seg_e,
    )
    overlap2 = (F.col(seg_s) < F.col("__mb_be")) & (
        F.col(seg_e) > F.col("__mb_bs")
    )
    cond2 = reduce(
        lambda a, b: a & b,
        [F.col(g) == F.col(a) for g, a in zip(g_series, seg_series)],
        overlap2,
    )
    paired2 = fseg.join(lvl1, on=cond2, how="inner")
    merge_aggs = [
        F.max(F.col(f"__mb_w_{i}")).getField("v").alias(c)
        for i, c in enumerate(payload)
    ]
    if _coalesce == "reference":
        stat_aggs = [
            (F.max(F.col("__mb_end")) > F.col(seg_e)).alias("__ext"),
            (
                F.min(F.col("__mb_vmin")).eqNullSafe(
                    F.max(F.col("__mb_vmax"))
                )
                if payload
                else F.max(F.lit(True))
            ).alias("__one_vec"),
        ]
    elif payload:
        stat_aggs = []
    else:
        stat_aggs = [F.max(F.lit(1)).alias("__one")]
    if _coalesce == "reference":
        stat_names = ["__ext", "__one_vec"]
    elif payload:
        stat_names = []
    else:
        stat_names = ["__one"]
    return (
        paired2.groupBy(*g_series, seg_s, seg_e)
        .agg(*merge_aggs, *stat_aggs)
        .select(
            *[F.col(g).alias(c) for g, c in zip(g_series, series)],
            seg_s,
            seg_e,
            *payload,
            *stat_names,
        )
    )


def _normalize_series_ids(series_ids) -> list[str]:
    """Accept the reference constructor's series spellings (reference:
    python/tempo/intervals.py:60-78 and python/tests/intervals_tests.py
    test_init_series_*): a single column name, a comma-separated string
    of names, any sequence of names, or None; anything else (int, dict,
    a non-string element) raises ValueError rather than iterating
    characters silently."""
    if series_ids is None:
        return []
    if isinstance(series_ids, str):
        return [s.strip() for s in series_ids.split(",") if s.strip()]
    if isinstance(series_ids, Sequence):
        out = []
        for s in series_ids:
            if not isinstance(s, str):
                raise ValueError(
                    f"series_ids elements must be column-name strings, got {s!r}"
                )
            out.append(s)
        return out
    raise ValueError(
        "series_ids must be a column name, a comma-separated string of "
        f"names, a sequence of names, or None; got {type(series_ids).__name__}"
    )


class IntervalsDF:
    def __init__(
        self,
        df: DataFrame,
        start_ts: str = "start_ts",
        end_ts: str = "end_ts",
        series_ids: Optional[Sequence[str]] = None,
    ):
        self.df = df
        self.start_ts = start_ts
        self.end_ts = end_ts
        self.series_ids = _normalize_series_ids(series_ids)
        for c in [start_ts, end_ts, *self.series_ids]:
            if c not in df.columns:
                raise ValueError(f"column {c!r} not in DataFrame columns {df.columns}")

    # ---------------------------------------------------------------- props

    @property
    def interval_boundaries(self) -> list[str]:
        return [self.start_ts, self.end_ts]

    @property
    def structural_columns(self) -> list[str]:
        return self.interval_boundaries + self.series_ids

    @property
    def observational_columns(self) -> list[str]:
        s = set(self.structural_columns)
        return [c for c in self.df.columns if c not in s]

    @property
    def metric_columns(self) -> list[str]:
        obs = set(self.observational_columns)
        return [f.name for f in self.df.schema.fields if f.name in obs and is_metric_col(f)]

    def window(self):
        return Window.partitionBy(*self.series_ids).orderBy(self.start_ts, self.end_ts)

    def _with_df(self, df: DataFrame) -> "IntervalsDF":
        return IntervalsDF(df, self.start_ts, self.end_ts, self.series_ids)

    # ------------------------------------------------------------ constructors

    @classmethod
    def fromStackedMetrics(
        cls,
        df: DataFrame,
        start_ts: str,
        end_ts: str,
        series: Sequence[str],
        metrics_name_col: str,
        metrics_value_col: str,
        metric_names: Optional[Sequence[str]] = None,
    ) -> "IntervalsDF":
        """Pivot long (metric_name, metric_value) rows into wide interval rows
        (reference: python/tempo/intervals.py:139-221). Pass ``metric_names``
        to skip Spark's eager distinct-values job."""
        series = _normalize_series_ids(series)
        pivot = df.groupBy(start_ts, end_ts, *series).pivot(
            metrics_name_col, values=list(metric_names) if metric_names else None
        )
        wide = pivot.max(metrics_value_col)
        return cls(wide, start_ts, end_ts, series)

    # ----------------------------------------------------------------- ops

    def union(self, other: "IntervalsDF") -> "IntervalsDF":
        # TypeError on non-IntervalsDF operands, reference parity
        # (reference: python/tempo/intervals.py:282-300 and
        # python/tests/intervals_tests.py test_union_other_df/_list_dicts)
        if not isinstance(other, IntervalsDF):
            raise TypeError(f"union expects an IntervalsDF, got {type(other)}")
        return self._with_df(self.df.union(other.df))

    def unionByName(self, other: "IntervalsDF") -> "IntervalsDF":
        if not isinstance(other, IntervalsDF):
            raise TypeError(
                f"unionByName expects an IntervalsDF, got {type(other)}"
            )
        return self._with_df(self.df.unionByName(other.df))

    def toDF(self, stack: bool = False) -> DataFrame:
        """Unpivot wide metrics back to (metric_name, metric_value) rows via
        STACK (reference: python/tempo/intervals.py:341-380)."""
        if not stack:
            return self.df
        metrics = self.metric_columns
        n = len(metrics)
        pairs = ", ".join(f"{str_lit(m)}, {ident(m)}" for m in metrics)
        stacked = self.df.select(
            *self.structural_columns,
            F.expr(f"stack({n}, {pairs}) AS (metric_name, metric_value)"),
        )
        return stacked.dropna(subset=["metric_value"])

    # ------------------------------------------------------------ coverage

    def coverage_by_bucket(
        self,
        freq: str,
        out_micros: str = "covered_micros",
        out_frac: str = "coverage_frac",
        assume_disjoint: bool = False,
        densify: bool = False,
    ) -> DataFrame:
        """Per tumbling ``freq`` bucket and series: microseconds covered by
        ≥1 interval and the covered fraction of the bucket — the
        uptime/SLA/sensor-availability rollup ("what fraction of each hour
        was the device in this state").

        Intervals are half-open ``[start, end)``; overlaps are dissolved
        first through :meth:`make_disjoint` so double-covered time counts
        once (note make_disjoint drops NULL-valued series — reference
        pandas-groupby parity — so null-keyed intervals only survive via
        ``assume_disjoint=True``). Each disjoint interval explodes one row per bucket it
        touches (generated per interval, like the upsample grid — a
        year-long interval at hourly grain spreads across its own rows,
        never concentrating a task), then one map-side-combined
        ``groupBy(series, bucket)`` sums exact integer micros.
        ``coverage_frac = covered_micros / bucket_micros`` (exact integer
        division in double — gate-safe). Buckets no interval touches are
        absent (join against a calendar spine to densify).

        Returns (series…, ``bucket_ts`` timestamp, covered_micros long,
        coverage_frac double).

        ``assume_disjoint=True`` skips the dissolve for inputs that are
        disjoint BY CONSTRUCTION (``TSDF.gaps`` output, a frame already
        run through make_disjoint) — saves its joins and eager auto-bin
        probe; overlapping input under this flag double-counts.

        ``densify=True`` also emits EXPLICIT zero rows for the empty
        buckets between each series' first and last covered bucket (an
        SLA report needs "0% up this hour", not a missing row): a
        per-series bucket spine explodes from the min/max covered bucket
        (generated per series — bounded by span/freq) and left-joins the
        coverage, zero-filled."""
        from tempo_spark.functions.freq import parse_freq

        f = parse_freq(freq)
        g = int(round(f.seconds * 1e6))
        if g <= 0:
            raise ValueError(f"freq must be positive, got {freq!r}")
        clash = {"__s", "__e", "__b", "bucket_ts", out_micros, out_frac} & set(
            self.series_ids
        )
        if clash:
            raise ValueError(
                f"series/output name collision: {sorted(clash)}"
            )
        dis = self.df if assume_disjoint else self.make_disjoint().df
        s_us = F.unix_micros(F.col(self.start_ts).cast("timestamp"))
        e_us = F.unix_micros(F.col(self.end_ts).cast("timestamp"))
        staged = (
            dis.where(
                F.col(self.start_ts).isNotNull()
                & F.col(self.end_ts).isNotNull()
            )
            .select(
                *self.series_ids,
                s_us.alias("__s"),
                e_us.alias("__e"),
            )
            .where(F.col("__e") > F.col("__s"))
        )
        first_b = F.col("__s") - F.pmod(F.col("__s"), F.lit(g))
        last_b = (F.col("__e") - 1) - F.pmod(F.col("__e") - 1, F.lit(g))
        exploded = staged.select(
            *self.series_ids,
            "__s",
            "__e",
            F.explode(
                F.sequence(first_b, last_b, F.lit(g))
            ).alias("__b"),
        )
        covered = F.least(F.col("__e"), F.col("__b") + g) - F.greatest(
            F.col("__s"), F.col("__b")
        )
        out = (
            exploded.groupBy(
                *self.series_ids,
                F.timestamp_micros(F.col("__b")).alias("bucket_ts"),
            )
            .agg(F.sum(covered).alias(out_micros))
            .withColumn(
                out_frac, F.col(out_micros) / F.lit(float(g))
            )
        )
        if not densify:
            return out
        us_b = F.unix_micros(F.col("bucket_ts"))
        spine = (
            out.groupBy(*self.series_ids)
            .agg(F.min(us_b).alias("__lo"), F.max(us_b).alias("__hi"))
            .select(
                *[F.col(c).alias(f"__cv_g_{c}") for c in self.series_ids],
                F.explode(
                    F.sequence(F.col("__lo"), F.col("__hi"), F.lit(g))
                ).alias("__cv_b"),
            )
            .select(
                *[F.col(f"__cv_g_{c}") for c in self.series_ids],
                F.timestamp_micros(F.col("__cv_b")).alias("__cv_ts"),
            )
        )
        # eqNullSafe on the series keys: a NULL-valued series is a series
        cond = [
            F.col(c).eqNullSafe(F.col(f"__cv_g_{c}"))
            for c in self.series_ids
        ] + [F.col("bucket_ts") == F.col("__cv_ts")]
        return spine.join(out, cond, "left").select(
            *[
                F.col(f"__cv_g_{c}").alias(c) for c in self.series_ids
            ],
            F.col("__cv_ts").alias("bucket_ts"),
            F.coalesce(F.col(out_micros), F.lit(0)).alias(out_micros),
            F.coalesce(F.col(out_frac), F.lit(0.0)).alias(out_frac),
        )

    # -------------------------------------------------------- interval join

    def join_tsdf(self, tsdf, how: str = "inner", prefix: str = "interval"):
        """Annotate each TSDF row with the interval containing it
        (``start_ts <= ts < end_ts``, same series) — the interval–TSDF join
        the reference lists as future roadmap
        (reference: docs/about/future-roadmap.rst:18-22).

        Overlapping intervals yield one output row per covering interval;
        call :meth:`make_disjoint` first for at-most-one semantics. The plan
        is a series-equi join with a range predicate — AQE broadcasts the
        interval side when small, and the equi keys keep it a hash join.
        """
        if list(tsdf.series_ids) != self.series_ids:
            raise ValueError(
                f"interval join requires matching series ids; "
                f"intervals={self.series_ids} tsdf={tsdf.series_ids}"
            )
        from tempo_spark.tsdf import TSDF

        renamed = self.df
        mapping = {}
        for c in self.df.columns:
            if c not in self.series_ids:
                mapping[c] = f"{prefix}_{c}"
                renamed = renamed.withColumnRenamed(c, mapping[c])
        s, e = mapping[self.start_ts], mapping[self.end_ts]
        cond = reduce(
            lambda a, b: a & b,
            [tsdf.df[c] == renamed[c] for c in self.series_ids],
            (tsdf.df[tsdf.ts_col] >= renamed[s])
            & (tsdf.df[tsdf.ts_col] < renamed[e]),
        )
        joined = tsdf.df.join(renamed, on=cond, how=how)
        sel = [tsdf.df[c].alias(c) for c in tsdf.df.columns] + [
            renamed[v].alias(v) for v in mapping.values()
        ]
        return TSDF(
            joined.select(*sel),
            ts_col=tsdf.ts_col,
            series_ids=list(self.series_ids),
            sequence_col=tsdf.sequence_col,
            validate=False,
        )

    def join_intervals(
        self,
        other: "IntervalsDF",
        how: str = "inner",
        prefix: str = "right",
        bin_seconds: BinSeconds = "auto",
    ) -> "IntervalsDF":
        """Interval–interval overlap join — the second half of the
        reference's roadmap item (reference:
        docs/about/future-roadmap.rst:18-22; the first half is
        :meth:`join_tsdf`). Each row of ``self`` pairs with every row of
        ``other`` on the same series whose half-open interval OVERLAPS it
        (``a.start < b.end AND a.end > b.start``).

        The output keeps ``self``'s schema and boundaries (self is the
        anchor frame, like the TSDF side of :meth:`join_tsdf`); ``other``'s
        non-series columns arrive ``{prefix}_``-renamed, plus computed
        ``overlap_start`` / ``overlap_end`` columns (the boundary
        intersection — what duration-weighted downstream aggregation needs;
        NULL on ``how="left"`` rows with no match).

        Plan shape: series-equi hash join (null-safe on the series keys —
        a NULL series id is a series like any other) with the overlap range
        predicate applied post-join; AQE broadcasts the small side. For the
        few-series/many-overlaps pathology the same ``bin_seconds``
        bounding as :meth:`make_disjoint` applies: both sides explode into
        the time bins they cover and the equi key gains the bin, so
        compares scale with real temporal locality instead of
        |left|×|right| per series. Exactly-once pairing under binning: a
        pair is emitted only in the bin of the LATER start
        (``greatest(floor(a.start/w), floor(b.start/w))``) — that bin is
        covered by both sides of any overlapping pair, so no pair is lost
        and none duplicates (``make_disjoint`` can tolerate duplicate bin
        collisions because its merge is idempotent; a join cannot).
        Explicit ``bin_seconds`` supports ``how="inner"`` only.

        Binning is ON BY DEFAULT via ``bin_seconds="auto"``: a one-pass
        stats probe (see :func:`_resolve_bin_seconds`) bins iff the
        rows-per-series ratio says the plain plan would go quadratic, with
        the median interval length as the width. Pass ``None`` to force the
        plain range join, or a number to pin the width. ``"auto"`` under
        ``how="left"`` quietly stays un-binned (the binned rewrite is
        inner-only).
        """
        if how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
        if list(other.series_ids) != self.series_ids:
            raise ValueError(
                f"interval join requires matching series ids; "
                f"left={self.series_ids} right={other.series_ids}"
            )
        if (
            bin_seconds is not None
            and not isinstance(bin_seconds, str)
            and how != "inner"
        ):
            raise ValueError("bin_seconds supports how='inner' only")
        if isinstance(bin_seconds, str):
            from tempo_spark.functions.timestamps import ts_to_double

            def _slim(frame: DataFrame, s_: str, e_: str) -> DataFrame:
                return frame.select(
                    *[F.col(c) for c in self.series_ids],
                    ts_to_double(F.col(s_), frame.schema[s_].dataType).alias("__s"),
                    ts_to_double(F.col(e_), frame.schema[e_].dataType).alias("__e"),
                )

            stats = _slim(self.df, self.start_ts, self.end_ts).unionByName(
                _slim(other.df, other.start_ts, other.end_ts)
            )
            bin_seconds = _resolve_bin_seconds(
                stats, "__s", "__e", self.series_ids, bin_seconds,
                allow_binning=(how == "inner"),
            )
        else:
            bin_seconds = _resolve_bin_seconds(
                self.df, self.start_ts, self.end_ts, self.series_ids, bin_seconds
            )
        renamed = other.df
        rmap: dict[str, str] = {}
        for c in other.df.columns:
            rmap[c] = f"__ij_{c}" if c in other.series_ids else f"{prefix}_{c}"
            renamed = renamed.withColumnRenamed(c, rmap[c])
        clashes = [
            v for v in list(rmap.values()) + ["overlap_start", "overlap_end"]
            if v in self.df.columns
        ]
        if clashes:
            raise ValueError(
                f"prefixed right columns collide with left columns: {clashes}"
            )
        rs, re_ = rmap[other.start_ts], rmap[other.end_ts]
        overlap = (F.col(self.start_ts) < F.col(re_)) & (
            F.col(self.end_ts) > F.col(rs)
        )
        series_eq = [
            F.col(c).eqNullSafe(F.col(f"__ij_{c}")) for c in self.series_ids
        ]
        if bin_seconds is None:
            cond = reduce(lambda a, b: a & b, series_eq, overlap)
            joined = self.df.join(renamed, on=cond, how=how)
        else:
            from tempo_spark.functions.timestamps import ts_to_double

            width = F.lit(float(bin_seconds))

            def bins(lo: str, hi: str, frame: DataFrame) -> Column:
                lo_d = ts_to_double(F.col(lo), frame.schema[lo].dataType)
                hi_d = ts_to_double(F.col(hi), frame.schema[hi].dataType)
                return F.sequence(F.floor(lo_d / width), F.floor(hi_d / width))

            def start_bin(col: str, frame: DataFrame) -> Column:
                return F.floor(
                    ts_to_double(F.col(col), frame.schema[col].dataType) / width
                )

            left_b = self.df.withColumn(
                "__bin", F.explode(bins(self.start_ts, self.end_ts, self.df))
            ).withColumn("__sb_l", start_bin(self.start_ts, self.df))
            right_b = renamed.withColumn(
                "__bin_r", F.explode(bins(rs, re_, renamed))
            ).withColumn("__sb_r", start_bin(rs, renamed))
            owner = F.col("__bin") == F.greatest(F.col("__sb_l"), F.col("__sb_r"))
            cond = reduce(
                lambda a, b: a & b,
                series_eq + [F.col("__bin") == F.col("__bin_r"), owner],
                overlap,
            )
            joined = left_b.join(right_b, on=cond, how="inner").drop(
                "__bin", "__bin_r", "__sb_l", "__sb_r"
            )
        matched = F.col(rs).isNotNull() | F.col(re_).isNotNull()
        out = joined.withColumn(
            "overlap_start",
            F.when(matched, F.greatest(F.col(self.start_ts), F.col(rs))),
        ).withColumn(
            "overlap_end",
            F.when(matched, F.least(F.col(self.end_ts), F.col(re_))),
        )
        keep = (
            list(self.df.columns)
            + [v for k, v in rmap.items() if k not in other.series_ids]
            + ["overlap_start", "overlap_end"]
        )
        return self._with_df(out.select(*keep))

    # ----------------------------------------------------- coverage algebra

    def _coverage_op(
        self, other: "IntervalsDF", keep, bin_seconds: BinSeconds
    ) -> "IntervalsDF":
        """Shared machinery for subtract/intersect: union both frames with
        presence masks (``__a_mask``/``__b_mask``), run the ordinary
        :meth:`make_disjoint` (whose merge rule turns each mask into a
        per-segment "is this side covering here?" flag — the mask is
        non-null iff ≥1 interval from that side covers the segment), filter
        segments by ``keep(a_mask, b_mask)``, and drop the masks. Payload
        merge comes from make_disjoint's reference rule; coalescing uses
        ``_coalesce="blanket"`` (every contiguous equal-payload junction
        dissolves — raw-fragment identity is meaningless once the mask
        columns are in play, and the reference-exact junction guard would
        fragment intersect output at every subtrahend-internal boundary).
        Masks participate in the payload-equality test, so segments are
        never coalesced across a coverage-status change — boundaries stay
        exact."""
        if list(other.series_ids) != self.series_ids:
            raise ValueError(
                f"coverage ops require matching series ids; "
                f"left={self.series_ids} right={other.series_ids}"
            )
        for m in ("__a_mask", "__b_mask"):
            if m in self.df.columns or m in other.df.columns:
                raise ValueError(f"reserved column name {m} present in input")
        a = self.df.withColumn("__a_mask", F.lit(1)).withColumn(
            "__b_mask", F.lit(None).cast("int")
        )
        # B contributes COVERAGE only: its payload is dropped and A's
        # payload columns arrive as typed nulls (so the merge rule can
        # never pull a value from the subtrahend side)
        a_types = dict(self.df.dtypes)
        b = other.df.select(
            F.col(other.start_ts).alias(self.start_ts),
            F.col(other.end_ts).alias(self.end_ts),
            *[F.col(c) for c in self.series_ids],
            *[
                F.lit(None).cast(a_types[c]).alias(c)
                for c in self.observational_columns
            ],
            F.lit(None).cast("int").alias("__a_mask"),
            F.lit(1).alias("__b_mask"),
        ).select(*a.columns)
        combined = IntervalsDF(
            a.unionByName(b), self.start_ts, self.end_ts, self.series_ids
        ).make_disjoint(bin_seconds=bin_seconds, _coalesce="blanket")
        out = combined.df.where(
            keep(F.col("__a_mask"), F.col("__b_mask"))
        ).drop("__a_mask", "__b_mask")
        return self._with_df(out)

    def subtract_intervals(
        self, other: "IntervalsDF", bin_seconds: BinSeconds = "auto"
    ) -> "IntervalsDF":
        """Coverage subtraction: the disjoint set of time covered by ``self``
        and NOT by ``other`` (uptime minus maintenance windows, corpus
        validity minus embargo periods), payloads merged from the covering
        ``self`` intervals by make_disjoint's rule. ``other``'s payload is
        irrelevant — only its coverage counts. O(n log n) per series via the
        boundary-segmentation machinery; ``bin_seconds`` bounds the
        pathological few-series case exactly as in :meth:`make_disjoint`."""
        return self._coverage_op(
            other, lambda am, bm: am.isNotNull() & bm.isNull(), bin_seconds
        )

    def intersect_intervals(
        self, other: "IntervalsDF", bin_seconds: BinSeconds = "auto"
    ) -> "IntervalsDF":
        """Coverage intersection: the disjoint set of time covered by BOTH
        frames, payloads merged from the covering ``self`` intervals. The
        per-PAIR companion (which interval overlapped which, with both
        payloads) is :meth:`join_intervals`; this is the set-algebra view."""
        return self._coverage_op(
            other, lambda am, bm: am.isNotNull() & bm.isNotNull(), bin_seconds
        )

    # ------------------------------------------------------------ disjoint

    def make_disjoint(
        self,
        bin_seconds: BinSeconds = "auto",
        _coalesce: str = "reference",
        merge_buckets: Optional[int] = None,
    ) -> "IntervalsDF":
        """Split/merge overlapping intervals into a disjoint set (native
        Spark; replaces the reference's O(n²)-per-series pandas kernel,
        reference: python/tempo/intervals.py:223-278,383-1331).

        Merge semantics are reference-exact (pinned by the 75-case kernel
        branch matrix, tests/goldens/interval_kernel_tests.json): each
        metric coalesces over the covering intervals in (start asc,
        end desc) order — the outer/earlier interval's non-null value wins
        — and cuts at raw boundaries are kept unless the reference's
        equivalent-metrics branch would have merged the spans.

        ``_coalesce`` (internal): ``"reference"`` (default) keeps the
        kernel-exact junction rule; ``"blanket"`` dissolves EVERY
        contiguous equal-payload junction — used by the coverage algebra
        (:meth:`subtract_intervals`/:meth:`intersect_intervals`), whose
        mask columns make fragment identity meaningless.

        ``bin_seconds`` bounds the segment↔interval pairing for a
        pathological series (few series ids, many long-lived overlapping
        intervals): both sides explode into the time bins they cover and the
        join key becomes (series, bin), so compares scale with real coverage
        instead of |segments|×|intervals| per series. Duplicate pairs from
        multi-bin collisions are harmless — the payload merge is a max()
        (idempotent).

        ``bin_seconds="auto"`` (default) runs a one-pass stats probe and
        bins iff rows-per-series crosses :data:`AUTO_BIN_ROWS_PER_SERIES`,
        with the median interval length as the width (see
        :func:`_resolve_bin_seconds`). Pass ``None`` to force the plain
        per-series range join, or a number to pin the width.

        ``merge_buckets`` (r13, guide §2.3 "shuffle fewer bytes"): the
        overlap-DENSE regime's lever. The single-level pairing joins every
        boundary segment to every covering raw interval, so its row count
        is rows × coverage depth (the r12 cost model: ~20M pairs/s on
        local[32]). With ``merge_buckets=B ≥ 2`` each series' intervals are
        hash-split into B buckets, each bucket merges against its OWN
        elementary segments first, and the bucket summaries re-merge
        against the global segments — pair count ~rows·(depth/B + 2B),
        minimized at B≈√depth. Exact by construction: the bucket split
        PARTITIONS every segment's covering set and every merge statistic
        is an associative min/max (per-metric winner struct, max end,
        min/max payload vector), so re-reducing level-1 partials
        reproduces the single-level aggregate bit-for-bit (pinned against
        the default path and the reference kernel goldens in
        tests/test_intervals_twolevel.py). Measured crossover
        (scale_probe --disjoint2l + interleaved A/Bs, warm minima,
        SCALE.md r13 section): depth 30 the single level WINS ~3× (its
        boundary side broadcasts and the pairing is cheap), depth 90
        two-level edges ahead (~1.2×), depth 270 two-level wins ~10× AND
        holds a stable wall where the single-level boundary broadcast
        flips to its slow shape — use for coverage depth ≳ 90, B≈√depth.
        The DEFAULT (None) keeps the single-level plan unchanged.
        Mutually exclusive with a numeric ``bin_seconds`` (binning bounds
        the few-series regime; two-level bounds the dense-depth regime);
        with ``merge_buckets`` set, the auto-bin probe is skipped.

        Intervals are half-open ``[start, end)``: a zero-length input
        interval (start == end) denotes the empty set and is dropped --
        represent instantaneous events as points in a TSDF, not as empty
        intervals."""
        if _coalesce not in ("reference", "blanket"):
            raise ValueError(
                f"_coalesce must be 'reference' or 'blanket', got {_coalesce!r}"
            )
        if merge_buckets is not None:
            if not isinstance(merge_buckets, int) or merge_buckets < 2:
                raise ValueError(
                    f"merge_buckets must be an int >= 2, got {merge_buckets!r}"
                )
            if bin_seconds is not None and not isinstance(bin_seconds, str):
                raise ValueError(
                    "merge_buckets and a numeric bin_seconds are mutually "
                    "exclusive (dense-depth vs few-series bounding)"
                )
        df = self.df
        # The merge aggregate (and the auto-bin probe) order interval
        # boundaries via a double cast; string/other non-time-like
        # boundaries would throw an opaque ANSI cast error deep in the
        # plan — reject them up front, before the probe's eager action.
        from tempo_spark.functions.timestamps import is_time_like

        for bc in (self.start_ts, self.end_ts):
            bdt = df.schema[bc].dataType
            if not is_time_like(bdt):
                raise TypeError(
                    f"make_disjoint requires timestamp/date/numeric interval "
                    f"boundaries; column {bc!r} is {bdt.simpleString()}"
                )
        # staging names the pairing fabricates next to the input columns;
        # an input column with one of them would turn ambiguous
        reserved = ("__i_", "__mb_") if merge_buckets is not None else ("__i_",)
        for c in df.columns:
            if c.startswith(reserved):
                raise ValueError(f"reserved column name {c} present in input")
        # with merge_buckets the auto-bin probe is skipped, but the
        # argument is still validated
        bin_seconds = _resolve_bin_seconds(
            df, self.start_ts, self.end_ts, self.series_ids, bin_seconds,
            allow_binning=merge_buckets is None,
        )
        s, e = self.start_ts, self.end_ts
        series = self.series_ids
        payload = self.observational_columns
        # NEGATIVE RESULT (round 7): a leading repartition(series) — the
        # collapse that wins for resample(fill=True)/interpolate — drops
        # this operator's exchange count from 4 to 2 but measured ~60%
        # SLOWER in a controlled A/B (8M staggered intervals, 10k series:
        # 12.5 s vs 7.8 s; 22.0 vs 16.1 on repeat; checksummed equal).
        # The boundary side is small enough to BROADCAST, so the wide
        # interval side never shuffles at the join in the plain plan, and
        # the merge aggregation's map-side combine reduces the 3×-fanout
        # paired rows before its exchange — the "saved" shuffles were
        # cheaper than one full raw-row repartition. Reverted; measure,
        # don't guess.

        seg_s, seg_e = "__seg_start", "__seg_end"

        # 1. elementary segments from distinct sorted boundaries (series cols
        # renamed to avoid self-join ambiguity with the interval side)
        seg_series = [f"__sk_{i}" for i in range(len(series))]
        boundaries = (
            df.select(
                *[F.col(c).alias(a) for c, a in zip(series, seg_series)],
                F.explode(F.array(F.col(s), F.col(e))).alias("__b"),
            )
            .distinct()
        )
        wb = Window.partitionBy(*seg_series).orderBy("__b")
        segments = (
            boundaries.withColumn(seg_e, F.lead(F.col("__b")).over(wb))
            .where(F.col(seg_e).isNotNull())
            .withColumnRenamed("__b", seg_s)
        )

        # 2. pair each segment with its covering intervals (per-series range
        # join; with bin_seconds the equi key gains a time-bin component;
        # with merge_buckets the pairing+merge run depth-bucketed in two
        # levels — see _two_level_merged)
        overlap = (F.col(seg_s) < F.col(e)) & (F.col(seg_e) > F.col(s))
        series_eq = [F.col(a) == F.col(c) for a, c in zip(seg_series, series)]
        if merge_buckets is not None:
            merged = _two_level_merged(
                df, s, e, series, segments, seg_series, seg_s, seg_e,
                payload, merge_buckets, _coalesce,
            )
        elif bin_seconds is None:
            cond = reduce(lambda a, b: a & b, series_eq, overlap)
            paired_raw = segments.join(df, on=cond, how="inner")
        else:
            from tempo_spark.functions.timestamps import ts_to_double

            def bins(lo: str, hi: str, frame: DataFrame) -> Column:
                lo_d = ts_to_double(F.col(lo), frame.schema[lo].dataType)
                hi_d = ts_to_double(F.col(hi), frame.schema[hi].dataType)
                width = F.lit(float(bin_seconds))
                return F.sequence(
                    F.floor(lo_d / width), F.floor(hi_d / width)
                )

            seg_binned = segments.withColumn(
                "__bin", F.explode(bins(seg_s, seg_e, segments))
            )
            ivl_binned = df.withColumn("__bin_r", F.explode(bins(s, e, df)))
            paired_raw = seg_binned.join(
                ivl_binned,
                on=reduce(
                    lambda a, b: a & b,
                    series_eq + [F.col("__bin") == F.col("__bin_r")],
                    overlap,
                ),
                how="inner",
            )
        if merge_buckets is None:
            from tempo_spark.functions.timestamps import ts_to_double

            s_dtype = df.schema[s].dataType
            e_dtype = df.schema[e].dataType
            paired = paired_raw.select(
                *series,
                seg_s,
                seg_e,
                F.col(s).alias("__i_start"),
                F.col(e).alias("__i_end"),
                ts_to_double(F.col(s), s_dtype).alias("__i_start_d"),
                ts_to_double(F.col(e), e_dtype).alias("__i_end_d"),
                *payload,
            )

            # 3. merge payloads per the reference kernel's precedence: each
            # metric coalesces over the covering intervals ordered by
            # (start ASC, end DESC) — the outer/earlier interval's non-null
            # value wins, later intervals fill its nulls (reference:
            # python/tempo/intervals.py:794-1065 — every resolve_overlap
            # branch merges with the (start asc, end desc)-minimal interval
            # as the overwriting child; pinned by
            # tests/goldens/interval_kernel_tests.json). Exact (start, end)
            # ties break on the LARGER value — deterministic, where the
            # reference's pandas kernel takes whichever row sorted first
            # (input file order; pinned by the multiple_series recorded case).
            # Also aggregate the coalesce statistics for step 4:
            #   __one_vec — all raw metric vectors covering the segment are
            #               identical (min struct == max struct — same bit as
            #               count_distinct==1 without the 4-phase
            #               distinct-aggregate planning);
            #   __ext     — some covering interval extends strictly past the
            #               segment's end (it spans the junction to the next
            #               segment).
            merge_aggs = [
                F.max(
                    F.when(
                        F.col(c).isNotNull(),
                        F.struct(
                            (-F.col("__i_start_d")).alias("ns"),
                            F.col("__i_end_d").alias("e"),
                            F.col(c).alias("v"),
                        ),
                    )
                )
                .getField("v")
                .alias(c)
                for c in payload
            ]
            vec = F.struct(*[F.col(c) for c in payload]) if payload else None
            if _coalesce == "reference":
                stat_aggs = [
                    (F.max(F.col("__i_end")) > F.col(seg_e)).alias("__ext"),
                    (
                        F.min(vec).eqNullSafe(F.max(vec))
                        if payload
                        else F.max(F.lit(True))
                    ).alias("__one_vec"),
                ]
            elif payload:
                # blanket mode never reads the junction stats — skip the agg
                # work entirely
                stat_aggs = []
            else:
                # an empty agg() list is rejected by pyspark
                stat_aggs = [F.max(F.lit(1)).alias("__one")]
            merged = paired.groupBy(*series, seg_s, seg_e).agg(
                *merge_aggs, *stat_aggs
            )

        # 4. dissolve a junction between contiguous segments only when the
        # reference's equivalent-metrics branch would have merged the raw
        # intervals (reference: python/tempo/intervals.py:822-831): both
        # segments are covered by a single identical raw metric vector and
        # some raw interval strictly spans the junction. Cuts from
        # containment / shared-boundary splits are KEPT even when the
        # merged payloads come out equal — the reference emits them split.
        wseg = Window.partitionBy(*series).orderBy(seg_s)
        prev_end = F.lag(F.col(seg_e)).over(wseg)
        same_payload = reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.lag(F.col(c)).over(wseg)) for c in payload],
            F.lit(True),
        )
        contiguous = prev_end.isNotNull() & (prev_end == F.col(seg_s))
        if _coalesce == "reference":
            single_vec = (
                F.col("__one_vec")
                & F.lag(F.col("__one_vec")).over(wseg)
                & F.lag(F.col("__ext")).over(wseg)
            )
            dissolve = contiguous & same_payload & single_vec
        else:
            dissolve = contiguous & same_payload
        new_group = F.when(dissolve, 0).otherwise(1)
        grouped = merged.withColumn(
            "__gid",
            F.sum(new_group).over(
                wseg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        out = (
            grouped.groupBy(*series, "__gid")
            .agg(
                F.min(F.col(seg_s)).alias(s),
                F.max(F.col(seg_e)).alias(e),
                *[F.first(F.col(c)).alias(c) for c in payload],
            )
            .drop("__gid")
            .select(*df.columns)
        )
        return self._with_df(out)
