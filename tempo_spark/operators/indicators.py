"""Classic technical indicators over the exact value grid.

Thin, well-defined compositions of the repo's gated kernels — the three
indicators every charting/backtest stack expects:

- **RSI** (Cutler's simple-moving-average variant — the SMA form is
  order-exact and window-bounded, unlike Wilder's recursive smoothing):
  ``RSI = 100·ΣG/(ΣG+ΣL)`` over the last ``window`` one-step diffs,
  where G/L are the positive/negative diff parts. NULL until a full
  window of diffs exists; NULL (not 50) on a flat window (ΣG+ΣL = 0).
- **Bollinger bands**: rolling mean ± k·σ (sample σ, ddof=1 — the
  pandas ``rolling().std()`` default) over the last ``window`` values;
  NULL until the window fills.
- **MACD**: fast EMA − slow EMA with a signal EMA of the MACD line and
  the histogram — built on :meth:`TSDF.EMA`'s windowed approximation
  (span parameterization α=2/(span+1); the truncation contract is
  EMA's, documented there).

Exactness (RSI/Bollinger): diffs/values quantize to the 1e-6 grid,
window sums accumulate as exact decimals, each output is a fixed IEEE
expression over those sums — engine-replayable. NaN values quantize to
NULL (grid6); a NULL/NaN inside the window NULLs that row's indicator
(the full-window count guard), never poisons neighbors.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from tempo_spark.functions.sql import RUNNING, grid6_sql, ident, over_sql


def _base_over(tsdf, frame: str = "") -> str:
    """``tsdf.base_window()`` (plus ``frame``) as an OVER clause — the
    r12 plan-build discipline: indicators are built as one parsed
    expression per output column instead of hundreds of py4j round trips
    (bit-identical trees, pinned in tests/test_indicators.py)."""
    order = [tsdf.ts_col]
    if getattr(tsdf, "sequence_col", None):
        order.append(tsdf.sequence_col)
    return over_sql(
        [ident(c) for c in tsdf.series_ids],
        [ident(c) + " ASC" for c in order],
        frame,
    )


def with_rsi(
    tsdf, value_col: str, window: int = 14, out: str = "rsi"
) -> DataFrame:
    """df + ``out``: Cutler's RSI over the last ``window`` diffs."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    if out in tsdf.df.columns or any(
        c.startswith("__ti_") for c in tsdf.df.columns
    ):
        raise ValueError(
            f"output column {out!r} or __ti_* staging already present"
        )
    w = tsdf.base_window()  # ROWS frames only need the (ts[,seq]) order
    yq = F.expr(grid6_sql(ident(value_col)))  # one-parse grid (r13)
    diff = yq - F.lag(yq).over(w)  # grid subtraction: exact at 1e-6
    frame = w.rowsBetween(-(window - 1), 0)
    staged = tsdf.df.withColumn("__ti_d", diff)
    gains = F.sum(
        F.when(F.col("__ti_d") > 0, F.col("__ti_d"))
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
    ).over(frame)
    losses = F.sum(
        F.when(F.col("__ti_d") < 0, -F.col("__ti_d"))
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
    ).over(frame)
    full = F.count("__ti_d").over(frame) == window
    g = gains.cast("double")
    l_ = losses.cast("double")
    rsi = F.when(full & ((g + l_) > 0), F.lit(100.0) * g / (g + l_))
    return staged.withColumn(out, rsi).drop("__ti_d")


def with_bollinger(
    tsdf, value_col: str, window: int = 20, k: float = 2.0,
    prefix: str = "bb",
) -> DataFrame:
    """df + ``{prefix}_mid/up/dn``: rolling mean ± k·sample-σ."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    outs = [f"{prefix}_mid", f"{prefix}_up", f"{prefix}_dn"]
    clash = sorted(c for c in tsdf.df.columns if c in outs)
    if clash:
        raise ValueError(f"reserved output columns present: {clash}")
    w = tsdf.base_window()
    frame = w.rowsBetween(-(window - 1), 0)
    yq = F.expr(grid6_sql(ident(value_col)))  # one-parse grid (r13)
    ydec = yq.cast("decimal(18,6)")
    s = F.sum(ydec).over(frame).cast("double")
    q = F.sum(ydec * ydec).over(frame).cast("double")
    cnt = F.count(yq).over(frame)
    rows_in = F.count(F.lit(1)).over(frame)
    full = (rows_in == window) & (cnt == window)
    n = F.lit(float(window))
    mean = s / n
    # sample variance from exact sums: (n·q − s²)/(n·(n−1))
    var = (n * q - s * s) / (n * (n - F.lit(1.0)))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))  # clamp −ulp cancellation
    df = tsdf.df
    mid = F.when(full, mean)
    return (
        df.withColumn(outs[0], mid)
        .withColumn(outs[1], F.when(full, mean + F.lit(float(k)) * sd))
        .withColumn(outs[2], F.when(full, mean - F.lit(float(k)) * sd))
    )


def with_macd(
    tsdf, value_col: str, fast: int = 12, slow: int = 26, signal: int = 9,
    prefix: str = "macd", ema_window: int = None,
    ema_strategy: str = "sliding",
) -> DataFrame:
    """df + ``{prefix}/{prefix}_signal/{prefix}_hist`` via three chained
    :meth:`TSDF.EMA` passes (span parameterization). ``fast < slow``.

    ``ema_window`` is the EMA truncation depth forwarded to every pass
    (default ``4·slow``: the untruncated tail mass (1−2/(slow+1))^(4·slow)
    is <0.1% — EMA's own default of 30 would bias a span-26 line ~10%
    toward recent values).

    ``ema_strategy="prefix"`` forwards the O(rows) prefix EMA to all
    three passes — the scale form: the default sliding frames are
    O(rows × 4·slow) and measured 32 s at 8M rows vs ~4 s prefix
    (scale_probe --analytics3/--emaprefix; ~1e-12 relative agreement,
    see :meth:`TSDF._ema_prefix`)."""
    if not (0 < fast < slow):
        raise ValueError(f"need 0 < fast < slow, got ({fast}, {slow})")
    if signal < 1:
        raise ValueError(f"signal must be >= 1, got {signal}")
    if ema_window is None:
        ema_window = 4 * slow
    if ema_window < 1:
        raise ValueError(f"ema_window must be >= 1, got {ema_window}")
    outs = [prefix, f"{prefix}_signal", f"{prefix}_hist"]
    # ema_{value_col}/ema_{prefix} are consumed-and-dropped staging here:
    # pre-existing same-named user columns would be silently REPLACED by
    # EMA's withColumn and destroyed (the r10 reserved-name class)
    clash = sorted(
        c for c in tsdf.df.columns
        if c in outs
        or c in (f"ema_{value_col}", f"ema_{prefix}")
        or c.startswith("__ti_")
    )
    if clash:
        raise ValueError(f"reserved output/staging columns present: {clash}")
    t1 = tsdf.EMA(value_col, window=ema_window, span=float(fast),
                  strategy=ema_strategy)
    t1 = t1._with_df(
        t1.df.withColumnRenamed(f"ema_{value_col}", "__ti_fast")
    )
    t2 = t1.EMA(value_col, window=ema_window, span=float(slow),
                strategy=ema_strategy)
    t2 = t2._with_df(
        t2.df.withColumn(
            prefix, F.col("__ti_fast") - F.col(f"ema_{value_col}")
        ).drop("__ti_fast", f"ema_{value_col}")
    )
    t3 = t2.EMA(prefix, window=ema_window, span=float(signal),
                strategy=ema_strategy)
    out = t3.df.withColumnRenamed(f"ema_{prefix}", outs[1]).withColumn(
        outs[2], F.col(prefix) - F.col(outs[1])
    )
    return out


def _ohlc_guard(tsdf, cols, outs):
    for c in cols:
        if c not in tsdf.df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    clash = sorted(
        c for c in tsdf.df.columns
        if c in outs or c.startswith("__ti_")
    )
    if clash:
        raise ValueError(f"reserved output/staging columns present: {clash}")


def with_atr(
    tsdf, high_col: str, low_col: str, close_col: str,
    window: int = 14, out: str = "atr",
) -> DataFrame:
    """df + ``out``: Average True Range — the SMA of the true range over
    the last ``window`` bars (the SMA variant, like Cutler's RSI: Wilder's
    recursive smoothing is order-exact only as an infinite product; the
    SMA form is window-bounded and engine-replayable).

    ``TR = max(high − low, |high − prev_close|, |low − prev_close|)``;
    on the first bar of a series — or after a NULL previous close — TR
    falls back to ``high − low``. A bar with NULL high/low has NULL TR;
    ATR is NULL until ``window`` consecutive non-NULL TRs exist (the
    full-window count guard, so one bad bar never poisons neighbors
    beyond its window). Inputs quantize to the 1e-6 grid; TR window sums
    accumulate as exact decimals; ATR is one fixed IEEE division."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    _ohlc_guard(tsdf, (high_col, low_col, close_col), (out,))
    ov = _base_over(tsdf)
    fr = _base_over(
        tsdf, f"ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW"
    )
    hq, lq, cq = (grid6_sql(ident(c)) for c in (high_col, low_col, close_col))
    pc = f"lag({cq}) {ov}"
    tr = (
        f"(CASE WHEN {hq} IS NOT NULL AND {lq} IS NOT NULL THEN "
        f"(CASE WHEN {pc} IS NOT NULL THEN "
        f"greatest({hq} - {lq}, abs({hq} - {pc}), abs({lq} - {pc})) "
        f"ELSE {hq} - {lq} END) END)"
    )
    staged = tsdf.df.selectExpr("*", f"{tr} AS __ti_tr")
    full = (
        f"(count(1) {fr} = {window}) AND "
        f"(count(__ti_tr) {fr} = {window})"
    )
    atr = (
        f"(CASE WHEN {full} THEN "
        f"cast(sum(cast(__ti_tr as decimal(18,6))) {fr} "
        f"as double) / {float(window)!r}D END)"
    )
    return staged.selectExpr("*", f"{atr} AS {ident(out)}").drop("__ti_tr")


def with_stochastic(
    tsdf, high_col: str, low_col: str, close_col: str,
    k_window: int = 14, d_window: int = 3, prefix: str = "stoch",
) -> DataFrame:
    """df + ``{prefix}_k``/``{prefix}_d``: the stochastic oscillator.

    ``%K = 100·(close − LL)/(HH − LL)`` with HH/LL the highest high /
    lowest low of the last ``k_window`` bars; NULL until the window
    fills, on a NULL close, or on a flat window (HH = LL — the ANSI
    divide-by-zero guard). ``%K`` is emitted 1e-6-quantized, and ``%D``
    averages the last ``d_window`` quantized %K values (exact decimal
    sum, one IEEE division — the determinism contract: raw-double window
    sums would accumulate in engine-specific order); NULL until
    ``d_window`` non-NULL %Ks exist.
    """
    if k_window < 1:
        raise ValueError(f"k_window must be >= 1, got {k_window}")
    if d_window < 1:
        raise ValueError(f"d_window must be >= 1, got {d_window}")
    outs = (f"{prefix}_k", f"{prefix}_d")
    _ohlc_guard(tsdf, (high_col, low_col, close_col), outs)
    kfr = _base_over(
        tsdf, f"ROWS BETWEEN {k_window - 1} PRECEDING AND CURRENT ROW"
    )
    hq, lq, cq = (grid6_sql(ident(c)) for c in (high_col, low_col, close_col))
    hh = f"max({hq}) {kfr}"
    ll = f"min({lq}) {kfr}"
    full_k = (
        f"(count(1) {kfr} = {k_window}) AND "
        f"(count({hq}) {kfr} = {k_window}) AND "
        f"(count({lq}) {kfr} = {k_window})"
    )
    k = (
        f"(CASE WHEN ({full_k}) AND {cq} IS NOT NULL AND ({hh} > {ll}) "
        f"THEN 100.0D * ({cq} - {ll}) / ({hh} - {ll}) END)"
    )
    # quantized %K so the %D mean replays exactly (see docstring)
    kq = grid6_sql(k)
    staged = tsdf.df.selectExpr("*", f"{kq} AS __ti_kq")
    dfr = _base_over(
        tsdf, f"ROWS BETWEEN {d_window - 1} PRECEDING AND CURRENT ROW"
    )
    full_d = (
        f"(count(1) {dfr} = {d_window}) AND "
        f"(count(__ti_kq) {dfr} = {d_window})"
    )
    d = (
        f"(CASE WHEN {full_d} THEN "
        f"cast(sum(cast(__ti_kq as decimal(18,6))) {dfr} "
        f"as double) / {float(d_window)!r}D END)"
    )
    return staged.selectExpr(
        "*", f"__ti_kq AS {ident(outs[0])}", f"{d} AS {ident(outs[1])}"
    ).drop("__ti_kq")


def with_williams_r(
    tsdf, high_col: str, low_col: str, close_col: str,
    window: int = 14, out: str = "williams_r",
) -> DataFrame:
    """df + ``out``: Williams %R = ``−100·(HH − close)/(HH − LL)`` with
    HH/LL the highest high / lowest low of the last ``window`` bars
    (algebraically ``%K − 100`` at the same window, but the convention
    every charting stack labels separately). NULL until the window
    fills, on a NULL close, or on a flat window (HH = LL). Inputs
    quantize to the 1e-6 grid; the output is one fixed IEEE expression
    over exact window extrema — engine-replayable."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    _ohlc_guard(tsdf, (high_col, low_col, close_col), (out,))
    fr = _base_over(
        tsdf, f"ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW"
    )
    hq, lq, cq = (grid6_sql(ident(c)) for c in (high_col, low_col, close_col))
    hh = f"max({hq}) {fr}"
    ll = f"min({lq}) {fr}"
    full = (
        f"(count(1) {fr} = {window}) AND "
        f"(count({hq}) {fr} = {window}) AND "
        f"(count({lq}) {fr} = {window})"
    )
    r = (
        f"(CASE WHEN ({full}) AND {cq} IS NOT NULL AND ({hh} > {ll}) "
        f"THEN -100.0D * ({hh} - {cq}) / ({hh} - {ll}) END)"
    )
    return tsdf.df.selectExpr("*", f"{r} AS {ident(out)}")


def with_obv(
    tsdf, close_col: str, volume_col: str, out: str = "obv"
) -> DataFrame:
    """df + ``out``: On-Balance Volume — the running sum of
    ``sign(close_t − close_{t−1}) · volume_t`` per series.

    Start/NULL contract: the first bar of a series contributes 0 (the
    common OBV-starts-at-zero convention); a bar with NULL close, NULL
    previous close, or NULL volume contributes 0 and the running sum
    carries through (one bad bar never breaks the cumulation; the sign
    on the NEXT bar compares against the last non-NULL close would be a
    different indicator — this one signs strictly consecutive closes,
    NULL gaps contribute nothing, matching ``pandas`` diff semantics).

    Exactness: closes quantize to the 1e-6 grid so the sign is exact;
    volumes quantize to the grid and accumulate as decimal(28,6) over a
    GROWING frame (incremental O(rows), order-independent exact sum) —
    the output replays bit-for-bit cross-engine."""
    _ohlc_guard(tsdf, (close_col, volume_col), (out,))
    ov = _base_over(tsdf)
    cq = grid6_sql(ident(close_col))
    vq = grid6_sql(ident(volume_col))
    prev = f"lag({cq}) {ov}"
    signed = (
        f"cast((CASE WHEN {cq} IS NOT NULL AND {prev} IS NOT NULL "
        f"AND {vq} IS NOT NULL THEN "
        f"(CASE WHEN {cq} > {prev} THEN {vq} "
        f"WHEN {cq} < {prev} THEN -{vq} ELSE 0.0D END) "
        f"ELSE 0.0D END) as decimal(28,6))"
    )
    staged = tsdf.df.selectExpr("*", f"{signed} AS __ti_sv")
    obv = f"cast(sum(__ti_sv) {_base_over(tsdf, RUNNING)} as double)"
    return staged.selectExpr("*", f"{obv} AS {ident(out)}").drop("__ti_sv")


def with_cusum(
    tsdf, value_col: str, target=None, k: float = 0.0, h=None,
    prefix: str = "cusum",
) -> DataFrame:
    """df + ``{prefix}_pos``/``{prefix}_neg`` (+ ``{prefix}_flag`` when
    ``h`` is given): the two-sided CUSUM control chart — the standard
    sequential mean-shift detector.

    The textbook recursion ``C⁺_t = max(0, C⁺_{t−1} + (x_t − target −
    k))`` is not a window aggregate, but it unrolls exactly to
    ``C⁺_t = S_t − min(0, min_{j≤t} S_j)`` with ``S`` the prefix sum of
    the slack-adjusted deviations — two GROWING frames (incremental
    O(rows), one shuffle). ``C⁻`` symmetrically on the negated
    deviations.

    Exactness: with an explicit ``target``, values quantize to the 1e-6
    grid and every sum/min/comparison is exact decimal(28,6) arithmetic
    — the chart replays bit-for-bit cross-engine (the outputs are exact
    decimals cast to double). With ``target=None`` the per-series mean
    of the non-null quantized values is used (one window aggregate; the
    subtraction is then double-precision — fine for monitoring, not for
    oracle replay). NULL/NaN values contribute 0 to the deviations (the
    chart carries through; a gap never resets the chart).

    ``k`` is the slack per observation (typically 0.5·σ of in-control
    noise), ``h`` the decision threshold (typically 4-5·σ): rows with
    ``C⁺ > h`` or ``C⁻ > h`` flag. Both are in VALUE units."""
    outs = [f"{prefix}_pos", f"{prefix}_neg"] + (
        [f"{prefix}_flag"] if h is not None else []
    )
    _ohlc_guard(tsdf, (value_col,), tuple(outs))
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if h is not None and h <= 0:
        raise ValueError(f"h must be positive, got {h}")
    w = tsdf.base_window()
    grow = w.rowsBetween(Window.unboundedPreceding, 0)
    yq = F.expr(grid6_sql(ident(value_col)))  # one-parse grid (r13)
    if target is None:
        full = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        mu = F.avg(yq).over(full)
    else:
        mu = F.lit(float(target))
    kq = F.lit(float(k))
    dev_p = F.coalesce(yq - mu - kq, F.lit(0.0)).cast("decimal(28,6)")
    dev_n = F.coalesce(mu - yq - kq, F.lit(0.0)).cast("decimal(28,6)")
    staged = tsdf.df.withColumn("__ti_dp", dev_p).withColumn(
        "__ti_dn", dev_n
    )
    zero = F.lit(0).cast("decimal(28,6)")
    sp = F.sum("__ti_dp").over(grow)
    sn = F.sum("__ti_dn").over(grow)
    staged = staged.withColumn("__ti_sp", sp).withColumn("__ti_sn", sn)
    cp = (
        F.col("__ti_sp")
        - F.least(zero, F.min("__ti_sp").over(grow))
    ).cast("double")
    cn = (
        F.col("__ti_sn")
        - F.least(zero, F.min("__ti_sn").over(grow))
    ).cast("double")
    out = staged.withColumn(outs[0], cp).withColumn(outs[1], cn)
    if h is not None:
        out = out.withColumn(
            outs[2],
            (F.col(outs[0]) > F.lit(float(h)))
            | (F.col(outs[1]) > F.lit(float(h))),
        )
    return out.drop("__ti_dp", "__ti_dn", "__ti_sp", "__ti_sn")
