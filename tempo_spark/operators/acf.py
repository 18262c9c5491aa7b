"""Per-series auto- and cross-correlation at observation lags.

``autocorr``: the standard seasonality/persistence diagnostic (Box &
Jenkins ACF), ``acf(L) = corr(x_t, x_{t+L})``. ``cross_corr``: the
lead-lag diagnostic between two metrics, ``ccf(L) = corr(x_t, y_{t+L})``
(positive L: x leads y; negative: y leads x). Lags are measured in
OBSERVATIONS in series order (the regular-sampling convention; resample
first for time-lag semantics). Both are one parameterization of the
same kernel, so the exactness machinery cannot drift between them.

Spark shape: all requested lags ride ONE window pass (one lead/lag per
requested offset, built in a single ``select`` — a per-lag ``withColumn``
chain would pay one Project analysis per lag, the repo's >30-Columns
plan-build lesson), explode to (lag, x, y) pairs, then one
groupBy (series, lag) that the window's exchange already satisfies —
one shuffle total for any number of lags.

Determinism contract (the withRangeCorr idiom): inputs quantize to the
1e-6 grid, sufficient statistics accumulate as EXACT (18,6) decimals
(order-independent; the product type (37,12) stays under both Spark's
and DuckDB's 38-digit cap, so no precision-capping rounding), and the
Pearson formula is a FIXED IEEE expression over those sums — replayable
bit-for-bit by an external engine. Fewer than 2 pairs or zero variance
on either leg yields NULL (never a divide-by-zero)."""

from __future__ import annotations

from typing import Sequence, Union

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tempo_spark.functions.sql import (
    grid6,
    grid6_sql,
    ident,
    over_sql,
    str_lit,
)

# Past this many lags the per-lag window form stops being the safe
# default: each lag adds a window function (its own frame processor at
# execution) + a struct to the explode array + plan-build latency (the
# repo's >30-Columns lesson). The r11 probe measured the crossover as
# SCALE-DEPENDENT (SCALE.md "ACF strategy"): ≤32 lags the window form
# wins everywhere; above it the join form wins small-corpus wide sweeps
# (100k rows × 512 lags: 6.3 vs 32.1 s — 512 frame processors dominate)
# while the window form wins large corpora through 128 lags (2M/8M ×
# 128: 19.6 vs 42.0 / 96.6 vs 140.0 s — the join's n×lags sort
# dominates). 32 keeps the bounded-plan default; pass strategy= to pin
# either form when the shape is known.
LAG_WINDOW_MAX = 32


def _pearson_from_pairs(ex, group_cols, out_name: str) -> DataFrame:
    """THE Pearson-from-sufficient-sums tail shared by every correlation
    surface (_lagged_corr and pairwise_corr — r10 merged acf/ccf into
    one kernel so the exactness-critical expression can't drift; this
    keeps the r11 pairwise matrix on the same single definition).
    ``ex`` holds (group_cols…, x, y) grid pairs; output is
    (group_cols minus the no-keys sentinel…, n_pairs, out_name).

    r12 plan-build discipline: each fragment parses once and builds the
    SAME expression tree as the former Column chain (~500 py4j round
    trips) — values pinned by the acf/ccf/pairwise suites + the twap
    gate tags."""
    xd = "cast(x as decimal(18,6))"
    yd = "cast(y as decimal(18,6))"
    agg = ex.groupBy(*group_cols).agg(
        F.expr("count(1) AS n_pairs"),
        F.expr(f"sum({xd}) AS __sx"),
        F.expr(f"sum({yd}) AS __sy"),
        F.expr(f"sum({xd} * {yd}) AS __sxy"),
        F.expr(f"sum({xd} * {xd}) AS __sxx"),
        F.expr(f"sum({yd} * {yd}) AS __syy"),
    )
    n = "cast(n_pairs as double)"
    sx = "cast(__sx as double)"
    sy = "cast(__sy as double)"
    sxy = "cast(__sxy as double)"
    sxx = "cast(__sxx as double)"
    syy = "cast(__syy as double)"
    vx = f"({n} * {sxx} - {sx} * {sx})"
    vy = f"({n} * {syy} - {sy} * {sy})"
    corr = (
        f"CASE WHEN n_pairs >= 2 AND {vx} > 0 AND {vy} > 0"
        f" THEN ({n} * {sxy} - {sx} * {sy}) / sqrt({vx} * {vy}) END"
    )
    return agg.selectExpr(
        *[ident(c) for c in group_cols if c != "__ac_g"], "n_pairs",
        f"{corr} AS {ident(out_name)}",
    )


def _lagged_corr(
    tsdf, x_col: str, y_col: str, lag_list, out_name: str,
    strategy: str = "auto",
) -> DataFrame:
    if strategy not in ("auto", "window", "join"):
        raise ValueError(
            f"strategy must be 'auto', 'window' or 'join', got {strategy!r}"
        )
    for c in (x_col, y_col):
        if c not in tsdf.df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    clash = sorted(c for c in tsdf.df.columns if c.startswith("__ac_"))
    if clash:
        raise ValueError(f"reserved staging columns present: {clash}")

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__ac_g", F.lit(0))
        keys = ["__ac_g"]

    # content-hash tiebreak (both strategies): rows tied on (ts[, seq])
    # would otherwise get run-dependent positions — fatal for the join
    # strategy, whose two scans re-evaluate row_number independently
    # (tied rows could land at pos 5 in one scan and 6 in the other,
    # misaligning every pair). A hash of the value grids makes the order
    # total over DISTINCT rows; rows identical in (keys, ts, x, y) stay
    # interchangeable, so any assignment yields the same pair multiset.
    use_window = (
        strategy == "window"
        or (strategy == "auto" and len(lag_list) <= LAG_WINDOW_MAX)
    )
    if use_window:
        # r12 one-parse plan build (the seasonal.py idiom): the order
        # expressions materialize once as __ac_o/__ac_h (Catalyst
        # projects window order keys below the Window anyway and prunes
        # them after), the y grid once as __ac_yg (the former form
        # re-evaluated grid6(y) inside every lead/lag), and every
        # shifted column parses in ONE selectExpr. Values are pinned by
        # the acf/ccf suites + the twap gate tags.
        xg, yg = grid6_sql(ident(x_col)), grid6_sql(ident(y_col))
        ob = ["__ac_o ASC"]
        if getattr(tsdf, "sequence_col", None):
            ob.append(ident(tsdf.sequence_col) + " ASC")
        ob.append("__ac_h ASC")
        ov = over_sql([ident(k) for k in keys], ob)
        staged = df.select(
            "*",
            tsdf._exact_micros_order().alias("__ac_o"),
            F.expr(f"xxhash64({xg}, {yg}) AS __ac_h"),
            F.expr(f"{yg} AS __ac_yg"),
        )
        names = [
            f"__ac_y_{'m' if lag < 0 else ''}{abs(lag)}" for lag in lag_list
        ]
        shifted = [
            f"{'lead' if lag >= 0 else 'lag'}(__ac_yg, {abs(lag)}) {ov}"
            f" AS {nm}"
            for lag, nm in zip(lag_list, names)
        ]
        staged = staged.selectExpr(
            *[ident(k) for k in keys],
            f"{xg} AS __ac_x",
            *shifted,
        )
        structs = ", ".join(
            f"struct({lag} AS lag, {nm} AS y)"
            for lag, nm in zip(lag_list, names)
        )
        ex = (
            staged.select(*keys, F.col("__ac_x").alias("x"),
                          F.expr(f"explode(array({structs}))").alias("p"))
            .selectExpr(
                *[ident(k) for k in keys], "p.lag AS lag", "x", "p.y AS y"
            )
            .where(F.expr("(x IS NOT NULL) AND (y IS NOT NULL)"))
        )
    else:
        order = [tsdf._exact_micros_order()]
        if getattr(tsdf, "sequence_col", None):
            order.append(F.col(tsdf.sequence_col))
        order.append(F.xxhash64(grid6(x_col), grid6(y_col)))
        w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order)
        # wide lag sweep: pair rows by a position self-join — the lag
        # table broadcasts, the join is an equi-join on
        # (series, pos + lag), and the plan does not grow with the sweep
        pos = F.row_number().over(w)
        base = df.select(
            *keys,
            pos.alias("__ac_pos"),
            grid6(x_col).alias("__ac_x"),
            grid6(y_col).alias("__ac_yb"),
        )
        lagf = tsdf.df.sparkSession.createDataFrame(
            [(int(l),) for l in lag_list], "lag int"
        )
        # null legs pruned BEFORE the lag fan-out / join build (positions
        # are already assigned, so dropping them here changes nothing)
        a = (
            base.select(*keys, "__ac_pos", F.col("__ac_x").alias("x"))
            .where(F.col("x").isNotNull())
            .crossJoin(F.broadcast(lagf))
        )
        b = base.select(
            *[F.col(k).alias(f"__ac_bk_{k}") for k in keys],
            F.col("__ac_pos").alias("__ac_bpos"),
            F.col("__ac_yb").alias("y"),
        ).where(F.col("y").isNotNull())
        cond = F.col("__ac_bpos") == (F.col("__ac_pos") + F.col("lag"))
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__ac_bk_{k}"))
        ex = (
            a.join(b, cond)
            .select(*keys, "lag", "x", "y")
            .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        )
    return _pearson_from_pairs(ex, keys + ["lag"], out_name)


def autocorr(
    tsdf, value_col: str, lags: Union[int, Sequence[int]] = 10,
    strategy: str = "auto",
) -> DataFrame:
    """(series…, lag, n_pairs, acf) — one row per series per lag.

    ``lags``: an int K means lags 1..K; or an explicit sequence of
    positive lags. ``n_pairs`` is the number of complete (x_t, x_{t+L})
    pairs; ``acf`` is NULL when fewer than 2 pairs exist or either leg
    has zero variance.

    ``strategy``: ``"auto"`` (window form up to ``LAG_WINDOW_MAX`` lags,
    position self-join past it), or pin ``"window"``/``"join"`` — the
    crossover is scale-dependent (see the constant's docstring and
    SCALE.md): big corpora prefer the window form well past the default,
    small-corpus wide sweeps prefer the join form. Both are test-pinned
    to identical outputs.
    """
    if isinstance(lags, int):
        if lags < 1:
            raise ValueError(f"lags must be >= 1, got {lags}")
        lag_list = list(range(1, lags + 1))
    else:
        lag_list = [int(x) for x in lags]
        if not lag_list or any(x < 1 for x in lag_list):
            raise ValueError(f"lags must be positive, got {lags}")
        if len(set(lag_list)) != len(lag_list):
            raise ValueError(f"duplicate lags: {lags}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    return _lagged_corr(tsdf, value_col, value_col, lag_list, "acf", strategy)


def pairwise_corr(tsdf, metric_cols) -> DataFrame:
    """Per-series Pearson correlation MATRIX over ``metric_cols`` in ONE
    pass: (series…, x_col, y_col, n_pairs, corr), one row per unordered
    pair (x_col < y_col in the given order) — the feature-screening
    companion to :func:`cross_corr` at lag 0, for many metrics at once.

    Spark shape: each input row explodes to P = m(m−1)/2 (pair, x, y)
    rows (pairs are plan constants), then the ONE (series, pair)
    aggregation — a single shuffle regardless of m; rows where either
    leg is NULL are excluded pairwise (pairwise-complete observations,
    the pandas ``df.corr`` convention). Keep m modest (the explode
    factor is P); past ~16 metrics consider batching.

    Exactness contract: identical to :func:`autocorr` — 1e-6 grid,
    exact (18,6)-decimal sufficient sums, fixed-IEEE Pearson; NULL when
    fewer than 2 complete pairs or either variance is zero."""
    cols = [str(c) for c in metric_cols]
    if len(cols) < 2:
        raise ValueError(f"need >= 2 metric_cols, got {cols}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate metric_cols: {cols}")
    for c in cols:
        if c not in tsdf.df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__ac_g", F.lit(0))
        keys = ["__ac_g"]

    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    # r12 one-parse plan build: P structs (each carrying the pair names
    # as string literals + both value grids) parse as ONE expression
    # instead of ~150 py4j round trips per pair
    structs = ", ".join(
        f"struct({str_lit(a)} AS x_col, {str_lit(b)} AS y_col,"
        f" {grid6_sql(ident(a))} AS x, {grid6_sql(ident(b))} AS y)"
        for a, b in pairs
    )
    ex = (
        df.select(*keys, F.expr(f"explode(array({structs}))").alias("p"))
        .select(*keys, "p.x_col", "p.y_col", "p.x", "p.y")
        .where(F.expr("(x IS NOT NULL) AND (y IS NOT NULL)"))
    )
    return _pearson_from_pairs(ex, keys + ["x_col", "y_col"], "corr")


def pacf(tsdf, value_col: str, lags: int = 10) -> DataFrame:
    """Per-series PARTIAL autocorrelation at lags 1..``lags`` via the
    Durbin-Levinson recursion over :func:`autocorr`'s ACF values — the
    Box-Jenkins AR-order selection companion: ``pacf(L)`` is the
    correlation between ``x_t`` and ``x_{t+L}`` with the intermediate
    lags regressed out. Returns (series…, lag, pacf).

    Shape: the ACF frame (one row per series per lag, already one
    shuffle) aggregates to ONE row per series carrying a lag→acf map,
    and the O(lags²) recursion runs as a single expression fold
    (``F.aggregate`` over k=2..L with an (phi[], pacf[]) struct
    accumulator, nested folds for the inner sums) — per-series work is
    lags²·a-few-flops, so the interpreted-HOF cost is irrelevant and the
    whole operator adds one map-side-combined aggregation to autocorr's
    plan. No driver collect: series count is unbounded.

    Determinism: the ACF inputs are fixed-IEEE over exact decimal sums
    (bit-equal cross-engine); the recursion is a FIXED sequence of IEEE
    ops (inner sums fold left-to-right from 0.0), so an external engine
    replaying the same unrolled arithmetic matches bit-for-bit. A NULL
    acf at any used lag (short series, zero variance) or a zero
    denominator propagates NULL to that and every later pacf value;
    ``pacf(1) = acf(1)`` by convention."""
    if not isinstance(lags, int) or isinstance(lags, bool):
        raise ValueError(
            f"pacf needs consecutive lags 1..K — pass an int, got {lags!r}"
        )
    if lags < 1:
        raise ValueError(f"lags must be >= 1, got {lags}")
    ac = autocorr(tsdf, value_col, lags)
    keys = [c for c in ac.columns if c not in ("lag", "n_pairs", "acf")]
    if keys:
        grouped = ac.groupBy(*keys)
    else:
        grouped = ac.groupBy()
    per = grouped.agg(
        F.map_from_entries(
            F.collect_list(F.struct("lag", "acf"))
        ).alias("__ac_r")
    # empty-map guard: the NO-keys path is a global aggregate, which
    # emits one row even over an EMPTY autocorr frame — without this a
    # series that produced no ACF rows at all would fabricate `lags`
    # all-NULL pacf rows (keyed groupBy emits none; paths must agree)
    ).where(F.size(F.col("__ac_r")) > 0)

    def _r(k):
        return F.try_element_at(F.col("__ac_r"), k)

    r1 = _r(F.lit(1))
    init = F.struct(
        F.array(r1).alias("phi"), F.array(r1).alias("pacf")
    )
    if lags == 1:
        # F.sequence(2, 1) would generate DESCENDING [2, 1] — no fold
        dl = init
    else:
        def _step(acc, k):
            phi = acc["phi"]
            # inner sums fold left-to-right from 0.0 — the oracle
            # unrolls the identical (0.0 + t1 + t2 + …) association
            num = _r(k) - F.aggregate(
                F.sequence(F.lit(1), k - 1),
                F.lit(0.0),
                lambda s, j: s + F.element_at(phi, j) * _r(k - j),
            )
            den = F.lit(1.0) - F.aggregate(
                F.sequence(F.lit(1), k - 1),
                F.lit(0.0),
                lambda s, j: s + F.element_at(phi, j) * _r(j),
            )
            kk = F.when(den != 0, num / den)
            newphi = F.concat(
                F.transform(
                    F.sequence(F.lit(1), k - 1),
                    lambda j: F.element_at(phi, j)
                    - kk * F.element_at(phi, k - j),
                ),
                F.array(kk),
            )
            return F.struct(
                newphi.alias("phi"),
                F.concat(acc["pacf"], F.array(kk)).alias("pacf"),
            )

        dl = F.aggregate(F.sequence(F.lit(2), F.lit(lags)), init, _step)
    staged = per.withColumn("__ac_dl", dl)
    # posexplode_outer, not posexplode: the implied size>0 filter of the
    # non-outer form gets the whole fold expression substituted into it
    # (the r4 explode-pushdown trap); arrays here are never empty
    return (
        staged.select(
            *keys,
            F.posexplode_outer(F.col("__ac_dl.pacf")).alias("__ac_l0", "pacf"),
        )
        .where(F.col("__ac_l0").isNotNull())
        .select(*keys, (F.col("__ac_l0") + 1).alias("lag"), "pacf")
    )


def cross_corr(
    tsdf,
    x_col: str,
    y_col: str,
    max_lag: int = 10,
    lags: Sequence[int] = None,
    strategy: str = "auto",
) -> DataFrame:
    """(series…, lag, n_pairs, ccf): ``ccf(L) = corr(x_t, y_{t+L})``.
    ``lags`` overrides the default −max_lag..max_lag sweep; L=0 is the
    plain Pearson correlation of the two metrics."""
    if lags is None:
        if max_lag < 0:
            raise ValueError(f"max_lag must be >= 0, got {max_lag}")
        lag_list = list(range(-max_lag, max_lag + 1))
    else:
        lag_list = [int(x) for x in lags]
        if not lag_list:
            raise ValueError("lags must be non-empty")
        if len(set(lag_list)) != len(lag_list):
            raise ValueError(f"duplicate lags: {lags}")
    return _lagged_corr(tsdf, x_col, y_col, lag_list, "ccf", strategy)
