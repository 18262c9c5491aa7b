"""Classical seasonal decomposition (trend + seasonal + residual).

The textbook moving-average decomposition (Brockwell & Davis; the
algorithm behind ``statsmodels.seasonal_decompose``): for a series with
period ``p``,

- **trend** = centered moving average over one full period (odd ``p``:
  plain mean of the ``p`` surrounding observations; even ``p``: the
  classic 2×p MA — full window of ``p+1`` with half weight on the two
  endpoints), NULL at the edges where the window is incomplete;
- **seasonal** = per-phase mean of the detrended values (phase = row
  position mod ``p``), centered so the seasonal components of one period
  sum to ~0 (each phase weighted equally, as in statsmodels);
- **resid** = value − trend − seasonal (additive model), or
  value / (trend · seasonal) with ratio detrending and mean-1 seasonal
  indexes (multiplicative model — the statsmodels variant; zero/NULL
  trend rows get NULL components).

Spark shape: row-frame windows + two aggregations, all clustered by the
series key (the phase groupBy reuses the window exchange; the per-series
centering frame is series-sized and broadcast back). Lags are
OBSERVATION-based — resample first for calendar periods.

Determinism contract (the ACF idiom): values quantize to the 1e-6 grid;
window/bucket sums accumulate as exact decimals; every division is a
fixed IEEE op over those exact sums — so trend/seasonal/resid replay
bit-for-bit on an external engine. NaN values behave as NULL (the
grid's guard). Null values pass through with NULL trend contribution
handling: a window containing any NULL value yields NULL trend for that
row (the statsmodels behavior), and NULL detrended rows are excluded
from the phase means."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tempo_spark.functions.sql import (
    double_lit,
    grid6,
    grid6_sql,
    ident,
    over_sql,
)


def seasonal_strength(
    tsdf, value_col: str, period: int, model: str = "additive",
    trend_method: str = "ma",
) -> DataFrame:
    """Per-series STL-style strength features (Hyndman & Athanasopoulos,
    "Measuring strength of trend and seasonality"):

        F_T = max(0, 1 − Var(resid) / Var(trend + resid))
        F_S = max(0, 1 − Var(resid) / Var(seasonal + resid))

    over the rows where all three components exist. ADDITIVE
    decompositions only: the formula mixes component scales for a
    multiplicative model (ratio-scale remainder vs unit-scale trend
    would report trend_strength ≈ 1 for any wandering-level series) —
    log-transform the series and decompose additively instead. Returns
    (series…, n_components, trend_strength, seasonal_strength) — values
    in [0, 1]; NULL when fewer than 2 component rows or a zero
    denominator variance.

    Shape: one :func:`seasonal_decompose` pass + ONE aggregation on the
    same series clustering. Exactness: each variance input re-quantizes
    to the 1e-6 grid and sums as exact decimals; the strengths are fixed
    IEEE expressions over those sums. NOTE the decomposition components
    themselves replay cross-engine at the 1e-6 GRID (not bit-exact —
    component ulps amplify to ~1e-13 relative through the variance
    cancellation), so external comparisons should harden-round the
    strengths (the gate applies _HR6 on both sides)."""
    if model != "additive":
        raise ValueError(
            "seasonal_strength is defined on ADDITIVE decompositions "
            "(Hyndman F_T/F_S); log-transform the series for a "
            f"multiplicative analysis — got model={model!r}"
        )
    sd = seasonal_decompose(tsdf, value_col, period, model, trend_method)
    keys = list(tsdf.series_ids)
    ok = (
        F.col("trend").isNotNull()
        & F.col("seasonal").isNotNull()
        & F.col("resid").isNotNull()
    )
    r = F.when(ok, grid6(F.col("resid")))
    tr = F.when(ok, grid6(F.col("trend") + F.col("resid")))
    sr = F.when(ok, grid6(F.col("seasonal") + F.col("resid")))

    def _suf(c, nm):
        d = c.cast("decimal(18,6)")
        return [
            F.sum(d).alias(f"__ss_s{nm}"),
            F.sum(d * d).alias(f"__ss_q{nm}"),
        ]

    agg = (sd.groupBy(*keys) if keys else sd.groupBy()).agg(
        F.count(r).alias("n_components"),
        *_suf(r, "r"), *_suf(tr, "t"), *_suf(sr, "s"),
    )
    n = F.col("n_components").cast("double")

    def _var(nm):
        s = F.col(f"__ss_s{nm}").cast("double")
        q = F.col(f"__ss_q{nm}").cast("double")
        return n * q - s * s  # n²·Var — the ratio cancels the scale

    def _strength(den_nm):
        den = _var(den_nm)
        return F.when(
            (F.col("n_components") >= 2) & (den > 0),
            F.greatest(F.lit(0.0), F.lit(1.0) - _var("r") / den),
        )

    return agg.select(
        *keys,
        "n_components",
        _strength("t").alias("trend_strength"),
        _strength("s").alias("seasonal_strength"),
    )



def seasonal_decompose(
    tsdf, value_col: str, period: int, model: str = "additive",
    trend_method: str = "ma",
) -> DataFrame:
    """df + (trend, seasonal, resid) columns; see module docstring.

    ``trend_method="median"`` (robust mode, STL-spirited): the trend is
    the exact running MEDIAN over the same full-width window instead of
    the moving average — a single outlier tick then perturbs at most the
    windows it enters by one rank instead of dragging every mean, so
    spikes land in ``resid`` where they belong. Even periods use the
    plain median of the ``period+1``-row window (odd count → exact
    middle element; the 2×P half-weighting is a mean-specific
    correction). Same NULL-poisoning and edge rules as the MA trend."""
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if model not in ("additive", "multiplicative"):
        raise ValueError(
            f"model must be 'additive' or 'multiplicative', got {model!r}"
        )
    if trend_method not in ("ma", "median"):
        raise ValueError(
            f"trend_method must be 'ma' or 'median', got {trend_method!r}"
        )
    mult = model == "multiplicative"
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    clash = sorted(
        c for c in tsdf.df.columns
        if c in ("trend", "seasonal", "resid") or c.startswith("__sd_")
    )
    if clash:
        raise ValueError(f"reserved output/staging columns present: {clash}")

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__sd_g", F.lit(0))
        keys = ["__sd_g"]

    # r12 plan-build discipline: the window/detrend chain renders as a
    # handful of parsed selectExpr batches instead of ~1,800 py4j round
    # trips. Every fragment builds the SAME expression tree as the
    # previous Column-API form (digest-pinned in tests/test_seasonal.py);
    # the order expression is materialized once as `__sd_o` (the planner
    # projected it as `_w0` below the Window anyway) and pruned after the
    # window by Catalyst, then dropped from the output.
    part = [ident(k) for k in keys]
    ob = ["__sd_o ASC"]
    if getattr(tsdf, "sequence_col", None):
        ob.append(ident(tsdf.sequence_col) + " ASC")
    staged = df.select(
        "*",
        tsdf._exact_micros_order().alias("__sd_o"),
        F.expr(grid6_sql(ident(value_col)) + " AS __sd_y"),
    )

    half = period // 2
    ydec = "cast(__sd_y as decimal(18,6))"
    wov = over_sql(part, ob)
    wfr = over_sql(
        part, ob, f"ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING"
    )
    if trend_method == "median":
        need = period if period % 2 == 1 else period + 1
        # median/percentile are not frame-capable window aggregates in
        # Spark; `need` is always ODD and the guard pins exactly `need`
        # non-null values in frame, so the exact median is the middle
        # element of the sorted frame values (deterministic, replayable)
        trend_sql = (
            f"CASE WHEN (count(1) {wfr}) = {need}"
            f" AND (count(__sd_y) {wfr}) = {need}"
            f" THEN element_at(array_sort(collect_list(__sd_y) {wfr}),"
            f" {(need + 1) // 2}) END"
        )
    elif period % 2 == 1:
        need = period
        # NULL-poisoning: any null y in the frame nulls the trend (count
        # counts non-null rows, so a full-width frame with a null misses)
        trend_sql = (
            f"CASE WHEN (count(1) {wfr}) = {need}"
            f" AND (count(__sd_y) {wfr}) = {need}"
            f" THEN cast(sum({ydec}) {wfr} as double)"
            f" / {double_lit(period)} END"
        )
    else:
        # 2×p MA: full window [-p/2, p/2], endpoints at half weight —
        # exact form: (sum − (first + last)/2) / p over p+1 rows
        need = period + 1
        lo = f"lag({ydec}, {half}) {wov}"
        hi = f"lead({ydec}, {half}) {wov}"
        trend_sql = (
            f"CASE WHEN (count(1) {wfr}) = {need}"
            f" AND (count(__sd_y) {wfr}) = {need}"
            f" THEN (cast(sum({ydec}) {wfr} - ({lo}) - ({hi}) as double)"
            f" + cast(({lo}) + ({hi}) as double) / 2.0D)"
            f" / {double_lit(period)} END"
        )
    staged = staged.selectExpr(
        "*",
        f"row_number() {wov} AS __sd_pos",
        trend_sql + " AS trend",
    )
    # detrended on the 1e-6 grid so the phase means are exact-decimal sums
    if mult:
        # ratio detrending. The ratio is unbounded as trend -> 0: past
        # ~1e12 the 1e-6 grid's floor(x*1e6) overflows a long and the
        # decimal(18,6) phase-sum cast overflows too — under ANSI either
        # ABORTS the job. A near-zero trend means the multiplicative
        # model is wrong for the series anyway; such rows yield NULL
        # components instead of exploding (|ratio| < 1e12 keeps every
        # downstream op in range).
        det_raw = (
            "CASE WHEN (trend != 0)"
            f" AND (abs(__sd_y / trend) < {double_lit(1e12)})"
            " THEN __sd_y / trend END"
        )
    else:
        det_raw = "__sd_y - trend"
    staged = staged.selectExpr(
        "*",
        f"pmod(__sd_pos - 1, {period}) AS __sd_ph",
        grid6_sql(det_raw) + " AS __sd_det",
    )

    # r13: the phase-mean/centering/join-back tail parses as SQL
    # fragments too (~400 of this builder's residual ~580 py4j trips
    # lived here) — SAME trees as the former Column chain (sum/count
    # casts, CASE-guarded divisions, `<=>` = eqNullSafe), digest-pinned
    # by tests/test_seasonal.py.
    pm = staged.groupBy(*keys, "__sd_ph").agg(
        F.expr("sum(cast(__sd_det as decimal(18,6)))").alias("__sd_ds"),
        F.expr("count(__sd_det)").alias("__sd_dn"),
    )
    # phase mean on the grid (hardened), so the centering sum is exact too
    pm = pm.selectExpr(
        "*",
        "CASE WHEN __sd_dn > 0 THEN "
        + grid6_sql("cast(__sd_ds as double) / __sd_dn")
        + " END AS __sd_pm",
    )
    # guard the division: a series too short for ANY trend has zero
    # non-null phase means (ANSI: count 0 would throw)
    center = pm.groupBy(*keys).agg(
        F.expr(
            "CASE WHEN count(__sd_pm) > 0 THEN "
            "cast(sum(cast(__sd_pm as decimal(18,6))) as double)"
            " / count(__sd_pm) END"
        ).alias("__sd_c")
    )
    if mult:
        # multiplicative indexes normalize to mean 1 (divide by the mean
        # of the phase means; a zero mean index cannot be normalized)
        seas_sql = (
            "CASE WHEN (__sd_pm IS NOT NULL) AND (__sd_c != 0)"
            " THEN __sd_pm / __sd_c END"
        )
    else:
        seas_sql = (
            "CASE WHEN __sd_pm IS NOT NULL"
            " THEN __sd_pm - __sd_c END"
        )
    # eqNullSafe join-backs on renamed keys (the __qid idiom): plain
    # name-based equi-joins would drop NULL-keyed series — they get a
    # trend (windows treat NULL as a partition) but no seasonal/resid.
    center_r = center.selectExpr(
        *[f"{ident(k)} AS __sd_k{i}" for i, k in enumerate(keys)], "__sd_c"
    )
    center_cond = F.expr(
        " AND ".join(f"{ident(k)} <=> __sd_k{i}" for i, k in enumerate(keys))
    )
    seasonal = (
        pm.join(F.broadcast(center_r), center_cond)
        .selectExpr(
            *[ident(k) for k in keys], "__sd_ph", seas_sql + " AS seasonal"
        )
    )
    seasonal_r = seasonal.selectExpr(
        *[f"{ident(k)} AS __sd_k{i}" for i, k in enumerate(keys)],
        "__sd_ph AS __sd_phr",
        "seasonal",
    )
    seas_cond = F.expr(
        " AND ".join(
            [f"{ident(k)} <=> __sd_k{i}" for i, k in enumerate(keys)]
            + ["__sd_ph = __sd_phr"]
        )
    )
    out = staged.join(seasonal_r, seas_cond, "left").drop(
        "__sd_phr", *[f"__sd_k{i}" for i in range(len(keys))]
    )
    if mult:
        resid_sql = (
            "CASE WHEN __sd_y IS NOT NULL AND trend IS NOT NULL"
            " AND seasonal IS NOT NULL AND (trend * seasonal != 0)"
            " THEN __sd_y / (trend * seasonal) END"
        )
    else:
        resid_sql = (
            "CASE WHEN __sd_y IS NOT NULL AND trend IS NOT NULL"
            " AND seasonal IS NOT NULL"
            " THEN (__sd_y - trend) - seasonal END"
        )
    out = out.selectExpr("*", resid_sql + " AS resid")
    return out.drop(
        "__sd_y", "__sd_pos", "__sd_ph", "__sd_det", "__sd_g", "__sd_o"
    )


def seasonal_anomalies(
    tsdf, value_col: str, period: int, z: float = 3.0,
    model: str = "additive", trend_method: str = "ma",
    out_flag: str = "is_anomaly", out_z: str = "resid_z",
) -> DataFrame:
    """Seasonal-residual anomaly detection (the STL-residual ESD recipe):
    decompose, then flag rows whose residual deviates more than ``z``
    sample standard deviations from the series' own residual mean —
    spikes that survive trend AND seasonality removal, so a regular
    daily peak never flags while a genuine outlier tick does. Use
    ``trend_method="median"`` when outliers are large enough to drag
    the MA trend itself.

    Adds to :func:`seasonal_decompose`'s output:

    - ``out_z``: (resid − mean)/σ over the 1e-6-quantized residuals
      (NULL where resid is NULL, n < 2, or σ = 0);
    - ``out_flag``: |resid − mean| > z·σ (NULL where resid is NULL or
      n < 2; on a FLAT residual — σ = 0 — any nonzero deviation flags).

    Determinism: the residuals replay on the 1e-6 grid (module
    contract), the per-series mean/σ come from exact decimal sums of
    those quantized residuals, and the flag is one IEEE comparison —
    both sides of the gate evaluate identical doubles. One extra
    series-sized window over the decomposition's existing clustering —
    no new shuffle."""
    if z <= 0:
        raise ValueError(f"z must be > 0, got {z}")
    clash = sorted(
        c for c in tsdf.df.columns
        if c in (out_flag, out_z) or c.startswith("__sa_")
    )
    if clash:
        raise ValueError(f"reserved output columns present: {clash}")
    dec = seasonal_decompose(tsdf, value_col, period, model, trend_method)
    keys = list(tsdf.series_ids)
    # r12: one parsed projection instead of the Column chain — identical
    # expression tree (digest-pinned in tests/test_seasonal.py)
    wser = over_sql([ident(k) for k in keys])
    staged = dec.selectExpr("*", grid6_sql(ident("resid")) + " AS __sa_rq")
    rdec = "cast(__sa_rq as decimal(18,6))"
    cnt = f"count(__sa_rq) {wser}"
    s = f"cast(sum({rdec}) {wser} as double)"
    q = f"cast(sum({rdec} * {rdec}) {wser} as double)"
    cntd = f"cast({cnt} as double)"
    mean = f"{s} / {cntd}"
    var = f"({cntd} * {q} - {s} * {s}) / ({cntd} * ({cntd} - 1.0D))"
    sd = f"sqrt(greatest({var}, 0.0D))"
    ok = f"__sa_rq IS NOT NULL AND ({cnt}) >= 2"
    zscore = (
        f"CASE WHEN ({ok}) AND ({sd} > 0)"
        f" THEN (__sa_rq - ({mean})) / {sd} END"
    )
    flag = (
        f"CASE WHEN {ok}"
        f" THEN abs(__sa_rq - ({mean})) > {double_lit(z)} * {sd} END"
    )
    return staged.selectExpr(
        "*",
        f"{zscore} AS {ident(out_z)}",
        f"{flag} AS {ident(out_flag)}",
    ).drop("__sa_rq")
