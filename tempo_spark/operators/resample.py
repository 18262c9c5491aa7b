"""Resample (downsample), upsample-fill, and OHLC bars.

Capability parity with the reference resample module (reference:
python/tempo/resample.py:89-253, python/tempo/tsdf.py:1258-1294,1351-1384),
Spark-first:

- bucketing uses ``F.window(ts, duration)`` — the exact primitive
  Structured Streaming tumbling windows use, so the same plan works under
  ``readStream`` (see tempo_spark.streaming).
- ``floor``/``ceil`` (take the earliest/latest row's values per bucket) are
  argmin/argmax via ``min(struct(ts[, seq], metrics...))`` — struct
  ordering gives a deterministic tie-break through the sequence column,
  and groupBy gets map-side partial aggregation (one shuffle).
- ``calc_bars`` is a SINGLE groupBy computing open/low/high/close together
  — the reference runs 4 resamples + 3 joins (4 shuffles + join shuffles);
  ours is one shuffle total, which is the difference between one pass and
  seven over 100 TB.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

from tempo_spark.functions.freq import parse_freq
from tempo_spark.functions.sql import ident

# floor/mean/min/max/ceil are reference parity (python/tempo/resample.py:
# 114-253); sum/count/median extend the same one-shuffle groupBy shape
_FUNCS = ("floor", "mean", "min", "max", "ceil", "sum", "count", "median")


def _bucket_start(ts_col: str, duration: str) -> Column:
    return F.window(F.col(ts_col), duration)["start"]


def _origin_micros(origin) -> int:
    """Epoch micros of an anchoring origin (datetime or ISO string,
    naive = UTC — the session timezone contract)."""
    import datetime as _dt

    if isinstance(origin, str):
        origin = _dt.datetime.fromisoformat(origin)
    if not isinstance(origin, _dt.datetime):
        raise ValueError(
            f"origin must be a datetime or ISO string, got {type(origin).__name__}"
        )
    if origin.tzinfo is None:
        origin = origin.replace(tzinfo=_dt.timezone.utc)
    origin = origin.astimezone(_dt.timezone.utc)
    # integer field arithmetic — timestamp()*1e6 truncates a float
    # round-trip that is 1µs off for ~1.2% of microsecond-precision
    # epochs (the _exact_micros_order class, r12 review)
    import calendar as _cal

    return (
        _cal.timegm(origin.timetuple()) * 1_000_000 + origin.microsecond
    )


def _anchored_bucket(
    ts_col: str, f, origin, closed: str, label: str
) -> Column:
    """Pandas-style anchored bucket start: ``origin`` shifts the grid
    phase (``F.window``'s startTime — the modulo offset), ``closed=
    'right'`` makes buckets half-open on the left ((start, end]: a row
    exactly ON a boundary belongs to the PRECEDING bucket — financial
    bars' convention; implemented as a 1µs pre-shift, exact at the
    engine's microsecond grain), ``label='right'`` emits the bucket END
    as its timestamp."""
    f_us = int(round(f.seconds * 1_000_000))
    ts_expr = F.col(ts_col)
    if closed == "right":
        ts_expr = F.timestamp_micros(F.unix_micros(ts_expr) - 1)
    if origin is not None:
        o_us = _origin_micros(origin) % f_us
        win = F.window(
            ts_expr, f.window_duration, f.window_duration,
            f"{o_us} microseconds",
        )
    else:
        win = F.window(ts_expr, f.window_duration)
    b = win["start"]
    if label == "right":
        b = F.timestamp_micros(F.unix_micros(b) + F.lit(f_us))
    return b


def _argmin_argmax_exprs(
    tsdf, metric_cols: Sequence[str], func: str, prefix: str
) -> list[Column]:
    """Earliest/latest row's metric values per bucket via struct ordering.

    ``min(struct(ts, seq, m1, m2, ...))`` picks the lexicographically
    smallest tuple — i.e. the earliest (ts, seq) row — and carries its
    metric values along. Deterministic when (ts, seq) is unique; with
    duplicate keys the metric values themselves break ties.
    """
    order_cols = [F.col(tsdf.ts_col).alias("__ts")]
    if tsdf.sequence_col:
        order_cols.append(F.col(tsdf.sequence_col).alias("__seq"))
    packed = F.struct(*order_cols, *[F.col(c).alias(c) for c in metric_cols])
    agg = F.min(packed) if func == "floor" else F.max(packed)
    tagged = agg.alias("__packed")
    return [tagged]


_SCALAR_AGGS = {
    "mean": F.mean,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
    "median": F.median,
}


def resample(
    tsdf,
    freq: str,
    func,
    metric_cols: Optional[Sequence[str]] = None,
    prefix: Optional[str] = None,
    fill: Optional[bool] = None,
    origin=None,
    closed: str = "left",
    label: str = "left",
):
    """``func`` is either one name from ``_FUNCS`` applied to every metric
    column (reference semantics), or a ``{column: func}`` mapping for
    per-column aggregation in the SAME single groupBy (e.g.
    ``{"price": "mean", "volume": "sum"}`` — the pandas ``.agg`` idiom;
    still one shuffle). Dict form supports the scalar aggregations only —
    ``floor``/``ceil`` select whole rows, which contradicts per-column
    choice — and ``metric_cols`` must be omitted (the dict's keys ARE the
    metric columns).

    ``origin``/``closed``/``label`` are the pandas ``.resample`` anchoring
    knobs (see :func:`_anchored_bucket`): anchor the grid off the epoch
    (e.g. 09:30 session opens), make boundaries right-closed, or label
    buckets by their end. Defaults reproduce the reference's epoch-
    anchored left-closed/left-labeled grid exactly."""
    from collections.abc import Mapping

    from tempo_spark.tsdf import ResampledTSDF

    series, ts = list(tsdf.series_ids), tsdf.ts_col
    per_col: Optional[dict] = None
    if isinstance(func, Mapping):
        if not func:
            raise ValueError("per-column func mapping must be non-empty")
        bad = {f2 for f2 in func.values() if f2 not in _SCALAR_AGGS}
        if bad:
            raise ValueError(
                f"per-column resample supports {sorted(_SCALAR_AGGS)}; got {sorted(bad)}"
            )
        if metric_cols is not None:
            raise ValueError(
                "pass per-column funcs OR metric_cols, not both — the "
                "mapping's keys are the metric columns"
            )
        missing = [c for c in func if c not in tsdf.df.columns]
        if missing:
            raise ValueError(f"columns not in DataFrame: {missing}")
        structural = [c for c in func if c == ts or c in series]
        if structural:
            # a structural key would alias the bucket/series column in the
            # same aggregation and die later as AMBIGUOUS_REFERENCE
            raise ValueError(
                f"per-column funcs cannot target structural columns: {structural}"
            )
        per_col = dict(func)
        metric_cols = list(per_col)
    elif func not in _FUNCS:
        raise ValueError(f"resample func must be one of {_FUNCS}, got {func!r}")
    else:
        metric_cols = list(metric_cols or tsdf.metric_cols)
        if not metric_cols:
            raise ValueError("resample requires at least one metric column")
    for nm, v in (("closed", closed), ("label", label)):
        if v not in ("left", "right"):
            raise ValueError(f"{nm} must be 'left' or 'right', got {v!r}")
    f = parse_freq(freq)
    pfx = f"{prefix}_" if prefix else ""
    if origin is None and closed == "left" and label == "left":
        bucket = _bucket_start(ts, f.window_duration)
    else:
        bucket = _anchored_bucket(ts, f, origin, closed, label)

    # NEGATIVE RESULT (round 7): an automatic leading repartition(series)
    # for fill=True halves the exchange count (the agg and the fill window
    # share the series clustering) but same-session A/Bs measured it
    # SLOWER on every tested shape (b4 upsample-fill: legacy 0.63-0.91 s
    # vs collapsed 0.68-1.04 s across 3 paired runs; 8M×10k-series
    # 5-minute buckets: wash) — the two-exchange plan's first shuffle
    # carries map-side-COMBINED partials, which beat one raw-row shuffle.
    # Reverted; users who want the one-exchange chain call
    # TSDF.repartitioned() explicitly (its docstring carries the same
    # trade-off), and bucketed tables get it for free.
    grouped = tsdf.df.groupBy(*series, bucket.alias(ts))

    if per_col is not None:
        out = grouped.agg(
            *[
                _SCALAR_AGGS[f2](F.col(c)).alias(f"{pfx}{c}")
                for c, f2 in per_col.items()
            ]
        )
    elif func in ("floor", "ceil"):
        [packed] = _argmin_argmax_exprs(tsdf, metric_cols, func, pfx)
        agged = grouped.agg(packed)
        out = agged.select(
            *series,
            ts,
            *[F.col("__packed").getField(c).alias(f"{pfx}{c}") for c in metric_cols],
        )
    else:
        agg_fn = _SCALAR_AGGS[func]
        out = grouped.agg(
            *[agg_fn(F.col(c)).alias(f"{pfx}{c}") for c in metric_cols]
        )
    out_metric_cols = [f"{pfx}{c}" for c in metric_cols]
    out = out.select(*series, ts, *sorted(out_metric_cols))

    if fill:
        out = _upsample_fill(out, ts, series, f, out_metric_cols)

    return ResampledTSDF(out, ts_col=ts, series_ids=series, freq=freq, func=func)


def _upsample_fill(df, ts: str, series: list[str], f, metric_cols: list[str]):
    """Densify to every tick between per-series min/max ts, 0-filling numeric
    metrics (reference: python/tempo/resample.py:225-251).

    Generated per GAP — ``explode(sequence(ts, next_ts - freq, freq))`` from
    each row to its successor — not from per-series bounds. The per-gap form
    needs no bounds aggregation and no join back (one window instead of a
    groupBy + shuffle join), and grid generation is spread across all rows
    of a series rather than concentrated in one task, which is what survives
    a series spanning years at fine frequencies."""
    from pyspark.sql import Window

    w = Window.partitionBy(*series).orderBy(F.col(ts))
    next_ts = F.lead(F.col(ts)).over(w)
    dense = df.withColumn(
        "__seq_end",
        F.when(next_ts.isNotNull(), next_ts - F.expr(f.interval)).otherwise(F.col(ts)),
    )
    dense = dense.withColumn(
        "__new_ts",
        F.explode(F.sequence(F.col(ts), F.col("__seq_end"), F.expr(f.interval))),
    ).drop("__seq_end")
    synthetic = F.col("__new_ts") != F.col(ts)
    numeric = [
        fld.name
        for fld in df.schema.fields
        if fld.name in metric_cols and fld.dataType.typeName() in (
            "byte", "short", "integer", "long", "float", "double", "decimal"
        )
    ]
    for c in numeric:
        dense = dense.withColumn(c, F.when(synthetic, F.lit(0)).otherwise(F.col(c)))
    for c in metric_cols:
        if c not in numeric:
            dense = dense.withColumn(c, F.when(synthetic, F.lit(None)).otherwise(F.col(c)))
    out = dense.drop(ts).withColumnRenamed("__new_ts", ts)
    return out.na.fill(0, subset=numeric).select(*df.columns)


def calc_bars(
    tsdf,
    freq: str,
    metric_cols: Optional[Sequence[str]] = None,
    fill: Optional[bool] = None,
):
    """OHLC bars per freq bucket, in ONE aggregation
    (reference behavior: python/tempo/tsdf.py:1351-1384 runs four resamples
    + three joins; this plan computes all four in a single groupBy)."""
    from tempo_spark.tsdf import ResampledTSDF

    f = parse_freq(freq)
    metric_cols = list(metric_cols or tsdf.metric_cols)
    if not metric_cols:
        raise ValueError("calc_bars requires at least one metric column")
    series, ts = list(tsdf.series_ids), tsdf.ts_col
    bucket = _bucket_start(ts, f.window_duration)

    # r12 one-parse plan build (the seasonal/acf idiom): the packed
    # struct, the per-metric min/max aggregates and the unpack
    # projection parse in single batches instead of ~1,000 py4j round
    # trips (same trees as the former Column chain; values pinned by
    # the resample suite + the ohlc_bars gate entry)
    order_cols = [f"{ident(ts)} AS __ts"]
    if tsdf.sequence_col:
        order_cols.append(f"{ident(tsdf.sequence_col)} AS __seq")
    packed = "struct(" + ", ".join(
        order_cols + [f"{ident(c)} AS {ident(c)}" for c in metric_cols]
    ) + ")"

    aggs: list[Column] = [
        F.expr(f"min({packed}) AS __first"),
        F.expr(f"max({packed}) AS __last"),
    ]
    for c in metric_cols:
        aggs.append(F.expr(f"min({ident(c)}) AS {ident('low_' + c)}"))
        aggs.append(F.expr(f"max({ident(c)}) AS {ident('high_' + c)}"))

    # no automatic fill repartition — see the negative-result note in
    # resample()
    agged = tsdf.df.groupBy(*series, bucket.alias(ts)).agg(*aggs)
    out_cols = []
    for c in metric_cols:
        out_cols += [
            f"__first.{ident(c)} AS {ident('open_' + c)}",
            ident(f"low_{c}"),
            ident(f"high_{c}"),
            f"__last.{ident(c)} AS {ident('close_' + c)}",
        ]
    out = agged.selectExpr(
        *[ident(s) for s in series], ident(ts), *out_cols
    )
    # deterministic column order: series, ts, then sorted bar columns
    bar_names = sorted([f"{p}_{c}" for c in metric_cols for p in ("open", "low", "high", "close")])
    out = out.selectExpr(
        *[ident(s) for s in series], ident(ts), *[ident(b) for b in bar_names]
    )

    if fill:
        out = _upsample_fill(out, ts, series, f, bar_names)
    return ResampledTSDF(out, ts_col=ts, series_ids=series, freq=freq, func="bars")


def _validated_grains(freqs):
    """Parse + order a multi-grain spec: finest first, every coarser an
    integer multiple of the finest (the nesting condition that makes
    partial re-aggregation exact). Returns (order, parsed, micros)."""
    if isinstance(freqs, str):
        raise TypeError("freqs must be a sequence of frequency strings")
    parsed = [parse_freq(fq) for fq in freqs]
    if len(parsed) < 2:
        raise ValueError("resample_rollup needs >= 2 grains; use resample()")
    micros = [int(round(f.seconds * 1e6)) for f in parsed]
    if len(set(micros)) != len(micros):
        raise ValueError(f"duplicate grains in freqs: {list(freqs)}")
    order = sorted(range(len(parsed)), key=lambda i: micros[i])
    finest_us = micros[order[0]]
    coarse_bad = [
        str(freqs[i]) for i in order[1:] if micros[i] % finest_us != 0
    ]
    if coarse_bad:
        raise ValueError(
            f"every grain must be an integer multiple of the finest "
            f"({freqs[order[0]]!r}); not multiples: {coarse_bad}"
        )
    return order, parsed, micros


def _fan_over_grains(partials, freqs, order, micros, grain_col, series, ts):
    """Explode finest-bucket partial rows across the grains (epoch-pmod
    floor == F.window for nested multiples) and return the regrouped
    GroupedData keyed by (grain, series, coarse bucket ts)."""
    us = F.unix_micros(F.col("__ts_f"))
    grain_structs = [
        F.struct(
            F.lit(str(freqs[i])).alias("g"),
            F.timestamp_micros(
                us - F.pmod(us, F.lit(micros[i]))
            ).alias("b"),
        )
        for i in order
    ]
    fanned = partials.withColumn(
        "__grain", F.explode(F.array(*grain_structs))
    )
    return fanned.groupBy(
        F.col("__grain")["g"].alias(grain_col),
        *series,
        F.col("__grain")["b"].alias(ts),
    )


def resample_rollup(
    tsdf,
    freqs: Sequence[str],
    func,
    metric_cols: Optional[Sequence[str]] = None,
    prefix: Optional[str] = None,
    grain_col: str = "grain",
):
    """Multi-grain rollup (the continuous-aggregate / hypertable-rollup
    shape): one result frame holding ``resample(freq, func)`` for EVERY
    grain in ``freqs``, tagged by ``grain_col``.

    Plan shape — the reason this exists instead of N separate resamples:
    the raw data is shuffled ONCE, to the finest grain's partial
    aggregates; every coarser grain is then re-aggregated from those
    partials (finest-bucket rows exploded once across grains, one second
    groupBy over grains × finest-buckets — partial-sized input, never the
    raw rows). N independent resamples scan + shuffle the full corpus N
    times; at 100 TB this is the difference between one pass and N.

    Requirements that make the re-aggregation exact:

    - every coarser grain must be an integer multiple of the finest
      (bucket boundaries then nest: ``floor_c(floor_f(t)) == floor_c(t)``
      for epoch-aligned tumbling windows — verified against ``F.window``
      under non-UTC session timezones, which also floors raw epoch
      micros);
    - ``func`` must be re-aggregatable: ``sum``/``count``/``min``/``max``
      combine trivially, ``mean`` rides (sum, count) partials and divides
      at the end (for integral inputs this is EXACT — the partial sums
      are exact — and for floats it differs from a direct ``avg`` only in
      summation association), ``floor``/``ceil`` combine because the
      min/max of per-bucket min/max order-structs is the global one.
      ``median`` is not decomposable — it raises; run it per grain.

    ``func`` accepts the same forms as :func:`resample`: one name, or a
    ``{column: func}`` mapping (``floor``/``ceil`` excluded from the
    mapping form, as in resample). Returns a DataFrame
    (grain, *series, ts, metrics) — mixed grains are deliberately not a
    TSDF; filter one grain out and re-wrap to chain further operators.
    """
    from collections.abc import Mapping

    series, ts = list(tsdf.series_ids), tsdf.ts_col
    order, parsed, micros = _validated_grains(freqs)
    finest = parsed[order[0]]

    # resolve the per-column func map (same validation surface as resample)
    if isinstance(func, Mapping):
        if not func:
            raise ValueError("per-column func mapping must be non-empty")
        bad = {f2 for f2 in func.values() if f2 not in _SCALAR_AGGS}
        if bad:
            raise ValueError(
                f"per-column rollup supports {sorted(_SCALAR_AGGS)}; got {sorted(bad)}"
            )
        if metric_cols is not None:
            raise ValueError(
                "pass per-column funcs OR metric_cols, not both — the "
                "mapping's keys are the metric columns"
            )
        missing = [c for c in func if c not in tsdf.df.columns]
        if missing:
            raise ValueError(f"columns not in DataFrame: {missing}")
        structural = [c for c in func if c == ts or c in series]
        if structural:
            raise ValueError(
                f"per-column funcs cannot target structural columns: {structural}"
            )
        col_funcs = dict(func)
    else:
        if func not in _FUNCS:
            raise ValueError(f"rollup func must be one of {_FUNCS}, got {func!r}")
        metric_cols = list(metric_cols or tsdf.metric_cols)
        if not metric_cols:
            raise ValueError("resample_rollup requires at least one metric column")
        col_funcs = {c: func for c in metric_cols}
    non_decomposable = sorted(
        {f2 for f2 in col_funcs.values() if f2 == "median"}
    )
    if non_decomposable:
        raise ValueError(
            "median is not re-aggregatable from partials — run "
            "resample(freq, 'median') per grain instead"
        )
    pfx = f"{prefix}_" if prefix else ""
    whole_row = not isinstance(func, Mapping) and func in ("floor", "ceil")
    # grain_col collisions: key columns AND the output metric names (a
    # late AMBIGUOUS_REFERENCE from the final select is much harder to
    # diagnose than this ValueError)
    out_names = {ts, *series} | {f"{pfx}{c}" for c in col_funcs}
    if grain_col in out_names:
        raise ValueError(
            f"grain_col {grain_col!r} collides with an output column"
        )
    reserved = {"__ts_f", "__grain", "__packed"} | {
        f"__p{kind}_{c}" for c in col_funcs for kind in ("s", "c", "m")
    }
    clash = reserved & set(tsdf.df.columns)
    if clash:
        raise ValueError(f"reserved staging columns present: {sorted(clash)}")

    # ---- stage 1: ONE shuffle of the raw rows, to finest-grain partials
    bucket = _bucket_start(ts, finest.window_duration)
    grouped = tsdf.df.groupBy(*series, bucket.alias("__ts_f"))
    if whole_row:
        [packed] = _argmin_argmax_exprs(tsdf, list(col_funcs), func, pfx)
        partials = grouped.agg(packed)
    else:
        aggs: list[Column] = []
        for c, f2 in col_funcs.items():
            if f2 == "mean":
                aggs.append(F.sum(F.col(c)).alias(f"__ps_{c}"))
                aggs.append(F.count(F.col(c)).alias(f"__pc_{c}"))
            elif f2 == "count":
                aggs.append(F.count(F.col(c)).alias(f"__pc_{c}"))
            elif f2 == "sum":
                aggs.append(F.sum(F.col(c)).alias(f"__ps_{c}"))
            else:  # min/max
                aggs.append(
                    (_SCALAR_AGGS[f2])(F.col(c)).alias(f"__pm_{c}")
                )
        partials = grouped.agg(*aggs)

    # ---- stage 2: explode each finest bucket across grains and
    # re-aggregate the partials (shared fanout helper)
    regrouped = _fan_over_grains(
        partials, freqs, order, micros, grain_col, series, ts
    )
    if whole_row:
        combine = F.min if func == "floor" else F.max
        agged = regrouped.agg(combine(F.col("__packed")).alias("__packed"))
        out = agged.select(
            grain_col,
            *series,
            ts,
            *[
                F.col("__packed").getField(c).alias(f"{pfx}{c}")
                for c in col_funcs
            ],
        )
    else:
        combos: list[Column] = []
        for c, f2 in col_funcs.items():
            if f2 == "mean":
                s, n = F.sum(f"__ps_{c}"), F.sum(f"__pc_{c}")
                # ANSI: guard the divide — an all-null bucket has count 0
                combos.append(
                    F.when(n > 0, s / n).alias(f"{pfx}{c}")
                )
            elif f2 == "count":
                combos.append(F.sum(f"__pc_{c}").alias(f"{pfx}{c}"))
            elif f2 == "sum":
                combos.append(F.sum(f"__ps_{c}").alias(f"{pfx}{c}"))
            else:
                combos.append(
                    (_SCALAR_AGGS[f2])(F.col(f"__pm_{c}")).alias(f"{pfx}{c}")
                )
        out = regrouped.agg(*combos)
    out_metric_cols = sorted(f"{pfx}{c}" for c in col_funcs)
    return out.select(grain_col, *series, ts, *out_metric_cols)


def calc_bars_rollup(
    tsdf,
    freqs: Sequence[str],
    metric_cols: Optional[Sequence[str]] = None,
    grain_col: str = "grain",
):
    """Multi-grain OHLC bars from ONE raw shuffle (the bars sibling of
    :func:`resample_rollup`): finest-grain partials carry
    (min order-struct, max order-struct, per-metric min/max) and every
    coarser grain combines them — ``min`` of per-bucket first-structs is
    the global first (struct order starts with the timestamp), ``max`` of
    last-structs the global last, min/max trivially. Output matches
    ``calc_bars(freq)`` per grain: (grain, *series, ts, sorted
    open_*/low_*/high_*/close_* columns). Same nested-grain requirement
    as resample_rollup."""
    series, ts = list(tsdf.series_ids), tsdf.ts_col
    order, parsed, micros = _validated_grains(freqs)
    finest = parsed[order[0]]
    metric_cols = list(metric_cols or tsdf.metric_cols)
    if not metric_cols:
        raise ValueError("calc_bars_rollup requires at least one metric column")
    bar_names = sorted(
        f"{p}_{c}" for c in metric_cols for p in ("open", "low", "high", "close")
    )
    if grain_col in {ts, *series, *bar_names}:
        raise ValueError(f"grain_col {grain_col!r} collides with an output column")
    reserved = {"__ts_f", "__grain", "__first", "__last"} | {
        f"__{m}_{c}" for c in metric_cols for m in ("lo", "hi")
    }
    clash = reserved & set(tsdf.df.columns)
    if clash:
        raise ValueError(f"reserved staging columns present: {sorted(clash)}")

    order_cols = [F.col(ts).alias("__ts")]
    if tsdf.sequence_col:
        order_cols.append(F.col(tsdf.sequence_col).alias("__seq"))
    packed = F.struct(*order_cols, *[F.col(c).alias(c) for c in metric_cols])
    aggs: list[Column] = [
        F.min(packed).alias("__first"),
        F.max(packed).alias("__last"),
    ]
    for c in metric_cols:
        aggs.append(F.min(F.col(c)).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"__hi_{c}"))
    bucket = _bucket_start(ts, finest.window_duration)
    partials = tsdf.df.groupBy(*series, bucket.alias("__ts_f")).agg(*aggs)

    regrouped = _fan_over_grains(
        partials, freqs, order, micros, grain_col, series, ts
    )
    combos: list[Column] = [
        F.min(F.col("__first")).alias("__first"),
        F.max(F.col("__last")).alias("__last"),
    ]
    for c in metric_cols:
        combos.append(F.min(F.col(f"__lo_{c}")).alias(f"low_{c}"))
        combos.append(F.max(F.col(f"__hi_{c}")).alias(f"high_{c}"))
    agged = regrouped.agg(*combos)
    out_cols = []
    for c in metric_cols:
        out_cols += [
            F.col("__first").getField(c).alias(f"open_{c}"),
            F.col(f"low_{c}"),
            F.col(f"high_{c}"),
            F.col("__last").getField(c).alias(f"close_{c}"),
        ]
    out = agged.select(grain_col, *series, ts, *out_cols)
    return out.select(grain_col, *series, ts, *bar_names)
