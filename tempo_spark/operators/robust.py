"""Running drawdown and per-series winsorization.

``with_drawdown``: the risk-monitoring staple — running peak (cumulative
max) per series and the drop from it, absolute and fractional. Pure
window expressions over the 1e-6 value grid: ONE shuffle, O(n), exact
(peak and peak−value are grid arithmetic; the fraction is one fixed
IEEE division), so every output replays on an external engine.

``winsorize``: clip each series' values to its own [lower, upper]
exact interpolated percentiles (Spark ``percentile`` == DuckDB
``quantile_cont`` — the repo's established cross-engine pair over exact
integer inputs). Shape: one per-series aggregation + a broadcast
join-back on eqNullSafe-renamed keys (NULL series keys are real series
— the repo convention), zero extra shuffles on the data side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tempo_spark.functions.sql import (
    RUNNING,
    double_lit,
    grid6_sql,
    ident,
    over_sql,
)


def with_drawdown(
    tsdf, value_col: str, out: str = "drawdown", out_pct: str = "drawdown_pct"
) -> DataFrame:
    """df + running ``peak``, ``out`` = peak − value, ``out_pct`` =
    (peak − value)/peak (NULL when peak == 0 — ANSI-safe). NULL values
    keep the carried peak but get NULL drawdowns."""
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    clash = sorted(
        c for c in tsdf.df.columns if c in ("peak", out, out_pct)
    )
    if clash:
        raise ValueError(f"reserved output columns present: {clash}")
    df = tsdf.df
    keys = list(tsdf.series_ids)
    # r12 one-parse plan build (the seasonal/acf idiom): the order
    # expression materializes once as __rb_o (projected below the Window
    # by Catalyst anyway, pruned after), the three outputs parse in one
    # batch. Values pinned by the drawdown suite + the ema dd gate tag.
    ob = ["__rb_o ASC"]
    if getattr(tsdf, "sequence_col", None):
        ob.append(ident(tsdf.sequence_col) + " ASC")
    wfr = over_sql([ident(c) for c in keys] or ["0"], ob, RUNNING)
    yq = grid6_sql(ident(value_col))
    peak = f"max({yq}) {wfr}"
    staged = df.select("*", tsdf._exact_micros_order().alias("__rb_o"))
    # materialize the window fragment ONCE as `peak` and derive the two
    # outputs from the column (the __sd_o/__ac_h idiom): Spark dedupes
    # textually-identical window expressions into one frame processor,
    # but repeating the fragment three times left that guarantee
    # implicit — one perturbed copy would silently fork the outputs onto
    # different windows (r12 ADVICE)
    staged = staged.selectExpr("*", f"{peak} AS peak")
    return staged.selectExpr(
        "*",
        f"peak - {yq} AS {ident(out)}",
        f"CASE WHEN peak != 0"
        f" THEN (peak - {yq}) / peak END AS {ident(out_pct)}",
    ).drop("__rb_o")


def winsorize(
    tsdf,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    out: str | None = None,
) -> DataFrame:
    """df + ``out`` (default ``{value_col}_wz``): values clipped to the
    series' own exact interpolated [lower, upper] percentiles; NULL
    values stay NULL; the raw column is untouched."""
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    if not (0.0 <= lower <= upper <= 1.0):
        raise ValueError(
            f"need 0 <= lower <= upper <= 1, got ({lower}, {upper})"
        )
    out = out or f"{value_col}_wz"
    if out in tsdf.df.columns or out in ("__wz_lo", "__wz_hi"):
        raise ValueError(f"output column {out!r} already exists")
    clash = sorted(c for c in tsdf.df.columns if c.startswith("__wz_"))
    if clash:
        raise ValueError(f"reserved staging columns present: {clash}")
    df = tsdf.df
    keys = list(tsdf.series_ids)
    # NaN behaves like NULL (the r9 "NaN > everything" class): excluded
    # from the percentile fit (Spark sorts NaN above every real value, so
    # one NaN would drag the upper bound to NaN and disable clipping) and
    # NaN inputs emit NULL instead of a fabricated clipped value.
    # r12 one-parse plan build: the guard/percentile/clip fragments parse
    # in single batches (same trees as the former Column chain; values
    # pinned by the winsorize suite + the ema wz gate tag).
    d = f"cast({ident(value_col)} as double)"
    v = f"(CASE WHEN {d} IS NOT NULL AND NOT isnan({d}) THEN {d} END)"
    lo_agg = F.expr(f"percentile({v}, {double_lit(lower)}) AS __wz_lo")
    hi_agg = F.expr(f"percentile({v}, {double_lit(upper)}) AS __wz_hi")
    if not keys:
        # global percentiles via a windowless aggregate broadcast back
        bounds = df.agg(lo_agg, hi_agg)
        joined = df.crossJoin(F.broadcast(bounds))
    else:
        bounds = df.groupBy(*keys).agg(lo_agg, hi_agg)
        renamed = bounds.select(
            *[F.col(k).alias(f"__wz_k{i}") for i, k in enumerate(keys)],
            "__wz_lo", "__wz_hi",
        )
        cond = [
            F.col(k).eqNullSafe(F.col(f"__wz_k{i}"))
            for i, k in enumerate(keys)
        ]
        joined = df.join(F.broadcast(renamed), cond, "left").drop(
            *[f"__wz_k{i}" for i in range(len(keys))]
        )
    return joined.selectExpr(
        "*",
        f"CASE WHEN {v} IS NOT NULL"
        f" THEN least(greatest({v}, __wz_lo), __wz_hi) END AS {ident(out)}",
    ).drop("__wz_lo", "__wz_hi")


# plan-build budget for the per-count CASE chain (the round-4 >30-Columns
# lesson); rolling quantiles are 5-25-row windows in practice
QUANTILE_CASE_MAX = 64


def with_rolling_quantile(
    tsdf, value_col: str, window: int, q: float = 0.5,
    out: str = None, min_periods: int = None,
) -> DataFrame:
    """df + ``out``: the exact q-quantile of the last ``window`` values
    (linear interpolation between order statistics — the pandas
    ``rolling().quantile()`` / numpy 'linear' convention). ``q=0.5`` is
    the rolling median, the classic despiking filter.

    Exactness: values quantize to the 1e-6 grid; the window's non-null
    values materialize as ONE sorted array per row and the quantile is
    ``a[lo] + frac·(a[hi] − a[lo])`` with (lo, hi, frac) Python-derived
    from the COUNT — fixed IEEE arithmetic over exact grid values, so
    outputs replay cross-engine. NULL until ``min_periods`` (default
    ``window``) non-null values exist; NaN quantizes to NULL (grid6).

    Cost: O(rows × window·log window) — the sliding sort is the price
    of an exact small-window order statistic (rolling medians use
    windows of 5-25; for percentile SUMMARIES of big windows use
    withRangeStats percentiles= instead)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    if not (0.0 <= q <= 1.0):
        raise ValueError(f"q must be in [0, 1], got {q}")
    if min_periods is None:
        min_periods = window
    if not (1 <= min_periods <= window):
        raise ValueError(
            f"min_periods must be in [1, {window}], got {min_periods}"
        )
    if window - min_periods + 1 > QUANTILE_CASE_MAX:
        # one CASE branch per possible count: past the budget this is
        # the pinned plan-build-latency axis (>30 Columns in a loop)
        raise ValueError(
            f"window - min_periods + 1 = {window - min_periods + 1} CASE "
            f"branches exceeds QUANTILE_CASE_MAX={QUANTILE_CASE_MAX} — "
            "narrow the min_periods band, or use withRangeStats "
            "percentiles= for large-window percentile summaries"
        )
    if out is None:
        out = f"{value_col}_q{str(q).replace('.', '_')}"
    if out in tsdf.df.columns or any(
        c.startswith("__rq_") for c in tsdf.df.columns
    ):
        raise ValueError(
            f"output column {out!r} or __rq_* staging already present"
        )
    w = tsdf.base_window()
    frame = w.rowsBetween(-(window - 1), 0)
    yq = F.expr(grid6_sql(ident(value_col)))  # one-parse grid (r13)
    # collect_list skips NULL inputs already — no struct wrap needed
    arr = F.array_sort(F.collect_list(yq).over(frame))
    staged = tsdf.df.withColumn("__rq_a", arr)
    n = F.size(F.col("__rq_a"))
    # flat CASE chain: each possible count gets its fixed Python-derived
    # (lo, hi, frac) order-statistic literals — h = q*(n-1), the numpy
    # 'linear' convention
    qexpr = F.lit(None).cast("double")
    for cnt in range(window, min_periods - 1, -1):
        h = q * (cnt - 1)
        lo, hi = int(h), min(int(h) + 1, cnt - 1)
        frac = h - int(h)
        v_lo = F.col("__rq_a")[lo]
        v_hi = F.col("__rq_a")[hi]
        term = v_lo if frac == 0.0 else v_lo + F.lit(frac) * (v_hi - v_lo)
        qexpr = F.when(n == cnt, term).otherwise(qexpr)
    return staged.withColumn(out, qexpr).drop("__rq_a")


def _sorted_arr_quantile(arr_col, cnt, q: float):
    """Quantile expression over a SORTED array column at a fixed count
    (Python-derived order-statistic literals, numpy 'linear')."""
    h = q * (cnt - 1)
    lo, hi = int(h), min(int(h) + 1, cnt - 1)
    frac = h - int(h)
    v_lo = arr_col[lo]
    v_hi = arr_col[hi]
    return v_lo if frac == 0.0 else v_lo + F.lit(frac) * (v_hi - v_lo)


def with_hampel(
    tsdf, value_col: str, window: int = 7, k: float = 3.0,
    out_flag: str = "is_outlier", out_filtered: str = None,
) -> DataFrame:
    """df + ``out_flag`` (+ ``out_filtered``): the Hampel filter — the
    standard rolling-median despiker. A row is an outlier when
    ``|x − med| > k · 1.4826 · MAD`` with ``med`` the median of the last
    ``window`` values and ``MAD = median(|x_j − med|)`` over the SAME
    window (the textbook per-window MAD, not the cheaper
    deviation-series variant); 1.4826 scales MAD to σ under normality;
    ``k=3`` is the classic default.

    ``out_filtered`` (opt-in column name) emits x with outliers replaced
    by the rolling median — the cleaning form. A zero-MAD window (≥ half
    the window identical) flags any deviation from the median (the
    degenerate-but-standard behavior); rows NULL/NaN themselves, or
    whose window isn't full of non-null values, never flag and
    NULL-carry into the filtered column.

    Shape: ONE collect_list per row; median, per-element deviations, and
    the deviation median all evaluate inside that array (sorted twice
    per row, O(window·log window) interpreted HOF work on a 5-25-element
    array). Exact grid order statistics + fixed IEEE comparison — flag
    and filtered replay cross-engine. One shuffle."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if out_filtered == out_flag:
        raise ValueError(
            f"out_flag and out_filtered must differ, both {out_flag!r}"
        )
    outs = [out_flag] + ([out_filtered] if out_filtered else [])
    clash = sorted(
        c for c in tsdf.df.columns
        if c in outs or c.startswith("__hp_")
    )
    if clash:
        raise ValueError(f"reserved output/staging columns present: {clash}")
    w = tsdf.base_window()
    frame = w.rowsBetween(-(window - 1), 0)
    yq = F.expr(grid6_sql(ident(value_col)))  # one-parse grid (r13)
    staged = tsdf.df.withColumn(
        "__hp_a", F.array_sort(F.collect_list(yq).over(frame))
    )
    a = F.col("__hp_a")
    # the frame holds at most `window` rows and collect_list skips NULLs,
    # so a full non-null window is exactly size == window
    full = F.size(a) == window
    med = _sorted_arr_quantile(a, window, 0.5)
    staged = staged.withColumn("__hp_med", F.when(full, med))
    devs = F.array_sort(
        F.transform(a, lambda v: F.abs(v - F.col("__hp_med")))
    )
    staged = staged.withColumn(
        "__hp_mad",
        F.when(
            F.col("__hp_med").isNotNull(),
            _sorted_arr_quantile(devs, window, 0.5),
        ),
    )
    dev = F.abs(yq - F.col("__hp_med"))
    flag = F.when(
        yq.isNotNull() & F.col("__hp_med").isNotNull()
        & F.col("__hp_mad").isNotNull(),
        dev > F.lit(float(k) * 1.4826) * F.col("__hp_mad"),
    )
    out = staged.withColumn(out_flag, flag)
    if out_filtered:
        out = out.withColumn(
            out_filtered,
            F.when(F.col(out_flag), F.col("__hp_med")).otherwise(yq),
        )
    return out.drop("__hp_a", "__hp_med", "__hp_mad")
