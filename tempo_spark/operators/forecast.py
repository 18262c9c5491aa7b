"""Baseline forecasts per series (the Hyndman-Athanasopoulos naive
family — the benchmarks every real forecasting model must beat):

- ``last`` (naive): ŷ(T+h) = y_T;
- ``drift``: ŷ(T+h) = y_T + h·(y_T − y_1)/(n−1) — the line through the
  first and last observations extended h steps;
- ``seasonal`` (seasonal naive): ŷ(T+h) = the value one full cycle back,
  y at position n − m + ((h−1) mod m) + 1 of the last m observations.

Spark shape: ONE aggregation per series (min_by/max_by for the
endpoints, a sorted-slice for the seasonal tail) then an
``explode(sequence(1, horizon))`` fan-out — zero Python, zero extra
shuffles, horizon rows per series. Emitted timestamps step by ``freq``
from the last observation.

Determinism contract: values quantize to the 1e-6 grid; drift is one
fixed IEEE expression over grid endpoints; seasonal indexes are integer
arithmetic — every forecast replays exactly on an external engine. NULL
values are EXCLUDED (forecasts anchor on observed data); a series whose
usable rows can't support the method (n < 2 for drift, n < period for
seasonal) yields NULL ``yhat`` rows (the spine is still emitted, so
downstream joins stay aligned)."""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tempo_spark.functions.freq import parse_freq
from tempo_spark.functions.sql import grid6_sql, ident, over_sql


def _step_micros(freq: str) -> int:
    """Exact integer micros per step, derived from freq._UNITS (the one
    canonical unit table — a second copy here drifted, r12 review).
    Freq.seconds is a float; round-through-1e6 is exact for every unit
    the grammar accepts (all are integral micros)."""
    from tempo_spark.functions.freq import _UNITS

    f = parse_freq(freq)
    return f.period * int(round(_UNITS[f.unit][0] * 1_000_000))


def forecast_naive(
    tsdf,
    value_col: str,
    horizon: int,
    freq: str,
    method: str = "last",
    period: Optional[int] = None,
) -> DataFrame:
    """(series…, h, ts, yhat) — ``horizon`` future rows per series; see
    module docstring. ``freq`` uses the resample frequency grammar."""
    if method not in ("last", "drift", "seasonal"):
        raise ValueError(
            f"method must be 'last', 'drift' or 'seasonal', got {method!r}"
        )
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    if method == "seasonal":
        if period is None or period < 1:
            raise ValueError("seasonal method needs period >= 1")
    elif period is not None:
        raise ValueError(f"period only applies to method='seasonal'")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    clash = sorted(
        c for c in tsdf.df.columns
        if c in ("h", "yhat") or c.startswith("__fc_")
    )
    if clash:
        raise ValueError(f"reserved output/staging columns present: {clash}")
    step_micros = _step_micros(freq)

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__fc_g", F.lit(0))
        keys = ["__fc_g"]
    # one-parse grid (r13): same tree as grid6(value_col), ~107 fewer
    # py4j trips per forecast call
    yq = F.expr(grid6_sql(ident(value_col)))
    micros = tsdf._exact_micros_order()
    base = df.select(
        *keys, micros.alias("__fc_us"), yq.alias("__fc_y")
    ).where(F.col("__fc_y").isNotNull())

    ord_struct = F.struct(F.col("__fc_us").alias("us"), F.col("__fc_y").alias("y"))
    aggs = [
        F.count(F.lit(1)).alias("__fc_n"),
        F.max(ord_struct).alias("__fc_last"),
        F.min(ord_struct).alias("__fc_first"),
    ]
    if method == "seasonal":
        # last `period` values only — a whole-series collect_list would
        # put O(series length) in one agg buffer (r11 review); a
        # descending row_number bounds the collected set to `period`
        # rows, and the window shares the aggregation's clustering
        from pyspark.sql import Window

        wdesc = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(
            F.col("__fc_us").desc()
        )
        base = base.withColumn("__fc_rd", F.row_number().over(wdesc))
        aggs.append(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__fc_rd") <= int(period), ord_struct)
                )
            ).alias("__fc_tail")
        )
    per = base.groupBy(*keys).agg(*aggs)

    h = F.col("h")
    last_us = F.col("__fc_last.us")
    last_y = F.col("__fc_last.y")
    if method == "last":
        yhat = last_y
    elif method == "drift":
        n = F.col("__fc_n")
        slope = F.when(
            n >= 2,
            (last_y - F.col("__fc_first.y")) / (n - 1).cast("double"),
        )
        yhat = last_y + h.cast("double") * slope
    else:
        tail = F.col("__fc_tail")
        m = int(period)
        # only a FULL cycle forecasts; shorter history -> NULL
        yhat = F.when(
            F.size(tail) >= m,
            F.element_at(
                tail, (F.pmod(h - 1, F.lit(m)) + 1).cast("int")
            ).getField("y"),
        )
    out = (
        per.select(
            *keys, "__fc_n", "__fc_last", "__fc_first",
            *(["__fc_tail"] if method == "seasonal" else []),
            F.explode(F.sequence(F.lit(1), F.lit(int(horizon)))).alias("h"),
        )
        .select(
            *[c for c in keys if c != "__fc_g"],
            "h",
            F.timestamp_micros(
                last_us + h.cast("long") * F.lit(int(step_micros))
            ).alias(tsdf.ts_col),
            yhat.alias("yhat"),
        )
    )
    return out


def ets_weights(
    method: str,
    fit_window: int,
    alpha: float,
    beta: Optional[float] = None,
    gamma: Optional[float] = None,
    period: Optional[int] = None,
) -> dict:
    """Exact observation weights for the truncated ETS recursion.

    Exponential-smoothing state updates are LINEAR in the observations,
    so over a fixed fit window of W values the final level / trend /
    seasonal states are plain weighted sums ``state = Σ w_i · y_i``
    (i = 1..W, oldest first). This runs the textbook recursion
    symbolically on weight VECTORS (pure-python floats, computed once on
    the driver) so both Spark and an external replay engine evaluate the
    SAME literal weights in the SAME left-associated sum — bit-exact
    cross-engine forecasts, no recursive SQL needed.

    Initialization (the Hyndman-Athanasopoulos simple heuristics):

    - ``ses``: l₁ = y₁; lₜ = α·yₜ + (1−α)·lₜ₋₁ for t = 2..W.
    - ``holt``: l₁ = y₁, b₁ = y₂ − y₁; then for t = 2..W
      lₜ = α·yₜ + (1−α)(lₜ₋₁ + bₜ₋₁), bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁.
    - ``hw_add`` (period m, W ≥ 2m): l_m = mean(y₁..y_m),
      b_m = Σᵢ(y_{m+i} − yᵢ)/m², sᵢ = yᵢ − l_m (i = 1..m); then for
      t = m+1..W the standard additive triple update.

    Returns ``{"l": [w..], "b": [w..]|None, "s": [[w..]×m]|None}``;
    the h-step forecast is ``ŷ_h = L + h·B + S[(W+h−1) mod m]`` over the
    evaluated sums."""
    W = int(fit_window)

    def _e(t):  # weight vector for the raw observation y_t (1-based)
        v = [0.0] * W
        v[t - 1] = 1.0
        return v

    def _ax(a, x):
        return [a * xi for xi in x]

    def _add(x, y):
        return [xi + yi for xi, yi in zip(x, y)]

    def _sub(x, y):
        return [xi - yi for xi, yi in zip(x, y)]

    if method == "ses":
        l = _e(1)
        for t in range(2, W + 1):
            l = _add(_ax(alpha, _e(t)), _ax(1.0 - alpha, l))
        return {"l": l, "b": None, "s": None}
    if method == "holt":
        l = _e(1)
        b = _sub(_e(2), _e(1))
        for t in range(2, W + 1):
            l_new = _add(_ax(alpha, _e(t)), _ax(1.0 - alpha, _add(l, b)))
            b = _add(_ax(beta, _sub(l_new, l)), _ax(1.0 - beta, b))
            l = l_new
        return {"l": l, "b": b, "s": None}
    # hw_add
    m = int(period)
    l = [1.0 / m if i < m else 0.0 for i in range(W)]
    b = [0.0] * W
    for i in range(1, m + 1):
        b = _add(b, _ax(1.0 / (m * m), _sub(_e(m + i), _e(i))))
    s = [_sub(_e(i), l) for i in range(1, m + 1)]  # slot (i-1) % m
    for t in range(m + 1, W + 1):
        slot = (t - 1) % m
        l_new = _add(
            _ax(alpha, _sub(_e(t), s[slot])),
            _ax(1.0 - alpha, _add(l, b)),
        )
        b_new = _add(_ax(beta, _sub(l_new, l)), _ax(1.0 - beta, b))
        s[slot] = _add(
            _ax(gamma, _sub(_sub(_e(t), l), b)),
            _ax(1.0 - gamma, s[slot]),
        )
        l, b = l_new, b_new
    return {"l": l, "b": b, "s": s}


def ets_wsum_sql(weights, tail_col: str = "__fc_tail") -> str:
    """The engine-side weighted sum for one state vector: a left-assoc
    fold ``((0.0 + w₁·y₁) + w₂·y₂) + …`` over the size-W tail, NULL on a
    short tail. One parsed expression (plan-build-latency discipline);
    weight literals round-trip through CAST('repr' AS DOUBLE) so both
    engines see bit-identical doubles."""
    W = len(weights)
    arr = "array(" + ",".join(
        f"CAST('{float(w)!r}' AS DOUBLE)" for w in weights
    ) + ")"
    return (
        f"CASE WHEN size({tail_col}) = {W} THEN "
        f"aggregate(sequence(1, {W}), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + element_at({arr}, i) "
        f"* element_at({tail_col}, i).y) END"
    )


def forecast_ets(
    tsdf,
    value_col: str,
    horizon: int,
    freq: str,
    method: str = "ses",
    alpha: float = 0.3,
    beta: Optional[float] = None,
    gamma: Optional[float] = None,
    period: Optional[int] = None,
    fit_window: Optional[int] = None,
    phi: Optional[float] = None,
) -> DataFrame:
    """Exponential-smoothing forecasts per series: simple (``ses``),
    Holt's linear trend (``holt``), or additive Holt-Winters
    (``hw_add``) — (series…, h, ts, yhat), ``horizon`` rows stepping by
    ``freq`` from each series' last observation.

    ``phi`` (``holt`` only) damps the trend: ``yhat_h = l + (φ + φ² +
    … + φ^h)·b`` — the Gardner–McKenzie damped-trend forecast, the
    long-horizon default in every forecasting package. The damping
    affects only the FORECAST combination (the fitted l/b states are
    the undamped recursion — the fixed-weights contract); the power
    sums are Python-precomputed literals selected by h, so the damped
    path replays bit-exactly too.

    Determinism/truncation contract: the fit uses EXACTLY the last
    ``fit_window`` non-null grid-quantized observations (default 32, or
    4·period for ``hw_add``); a series with fewer usable rows emits its
    spine with NULL ``yhat`` (the forecast_naive contract). Because the
    ETS recursion is linear in the observations, the states reduce to
    literal-weighted sums (:func:`ets_weights`) evaluated identically on
    any engine — forecasts replay bit-exactly.

    Spark shape: ONE aggregation per series (bounded W-row tail via the
    descending row_number idiom — never a whole-series buffer), the
    weighted sums as single parsed expressions over the tail array, then
    an ``explode(sequence(1, horizon))`` fan-out. Zero Python at
    execution time; the per-row fold is O(W·states), W a constant."""
    if method not in ("ses", "holt", "hw_add"):
        raise ValueError(
            f"method must be 'ses', 'holt' or 'hw_add', got {method!r}"
        )
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if phi is not None:
        if method != "holt":
            raise ValueError(
                "phi (damped trend) is only valid with method='holt'"
            )
        if not (0.0 < phi <= 1.0):
            raise ValueError(f"phi must be in (0, 1], got {phi}")
    if method == "ses":
        if beta is not None or gamma is not None or period is not None:
            raise ValueError("ses takes only alpha")
    else:
        if beta is None or not (0.0 <= beta <= 1.0):
            raise ValueError(f"{method} needs beta in [0, 1], got {beta}")
        if method == "holt":
            if gamma is not None or period is not None:
                raise ValueError("holt takes alpha and beta only")
        else:
            if gamma is None or not (0.0 <= gamma <= 1.0):
                raise ValueError(
                    f"hw_add needs gamma in [0, 1], got {gamma}"
                )
            if period is None or period < 2:
                raise ValueError("hw_add needs period >= 2")
    if fit_window is None:
        fit_window = 4 * period if method == "hw_add" else 32
    W = int(fit_window)
    min_w = {"ses": 1, "holt": 2}.get(method, 2 * (period or 0))
    if W < min_w:
        raise ValueError(
            f"fit_window must be >= {min_w} for {method}, got {W}"
        )
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    clash = sorted(
        c for c in tsdf.df.columns
        if c in ("h", "yhat") or c.startswith("__fc_")
    )
    if clash:
        raise ValueError(f"reserved output/staging columns present: {clash}")
    step_micros = _step_micros(freq)
    wts = ets_weights(method, W, alpha, beta, gamma, period)

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__fc_g", F.lit(0))
        keys = ["__fc_g"]
    # r12 one-parse plan build (the seasonal/acf idiom): the scaffolding
    # around the (already one-parse) weight sums cost ~700 py4j round
    # trips per call; every fragment below builds the same tree as the
    # former Column chain (values pinned by the forecast suite + the
    # ema fc_* gate tags)
    micros = tsdf._exact_micros_order()
    base = df.select(
        "*", micros.alias("__fc_us")
    ).selectExpr(
        *[ident(k) for k in keys], "__fc_us",
        f"{grid6_sql(ident(value_col))} AS __fc_y",
    ).where("__fc_y IS NOT NULL")

    newest = over_sql([ident(k) for k in keys], ["__fc_us DESC"])
    ord_struct = "struct(__fc_us AS us, __fc_y AS y)"
    per = (
        base.selectExpr("*", f"row_number() {newest} AS __fc_rd")
        .groupBy(*keys)
        .agg(
            F.expr(f"max({ord_struct}) AS __fc_last"),
            F.expr(
                f"array_sort(collect_list(CASE WHEN __fc_rd <= {W}"
                f" THEN {ord_struct} END)) AS __fc_tail"
            ),
        )
    )

    # ONE select for every weighted-sum column: the per-column withColumn
    # loop cost one py4j round trip per projection (period=24 hw_add → 24
    # chained projections ≈ 0.5 s of driver time per call — the r12
    # plan-build discipline); the sums are mutually independent, so one
    # batched projection builds the identical plan
    sum_exprs = {"__fc_L": ets_wsum_sql(wts["l"])}
    if wts["b"] is not None:
        sum_exprs["__fc_B"] = ets_wsum_sql(wts["b"])
    if wts["s"] is not None:
        for j, ws in enumerate(wts["s"]):
            sum_exprs[f"__fc_S{j}"] = ets_wsum_sql(ws)
    staged = per.selectExpr(
        "*", *[f"{sql} AS {name}" for name, sql in sum_exprs.items()]
    )
    sum_cols = list(sum_exprs)

    yhat = "__fc_L"
    if method in ("holt", "hw_add"):
        if phi is not None:
            # left-fold partial sums, identical literals both engines
            sums, acc, p = [], 0.0, 1.0
            for _ in range(int(horizon)):
                p *= phi
                acc += p
                sums.append(acc)
            damp = (
                "element_at(array("
                + ",".join(repr(float(v)) + "D" for v in sums)
                + "), cast(h as int))"
            )
            yhat = f"{yhat} + {damp} * __fc_B"
        else:
            yhat = f"{yhat} + cast(h as double) * __fc_B"
    if method == "hw_add":
        m = int(period)
        s_sel = (
            "element_at(array("
            + ",".join(f"__fc_S{j}" for j in range(m))
            + f"), cast(pmod({W} + h - 1, {m}) + 1 as int))"
        )
        yhat = f"{yhat} + {s_sel}"
    return (
        staged.select(
            *keys, "__fc_last", *sum_cols,
            F.expr(f"explode(sequence(1, {int(horizon)}))").alias("h"),
        )
        .selectExpr(
            *[ident(c) for c in keys if c != "__fc_g"],
            "h",
            "timestamp_micros(__fc_last.us"
            f" + cast(h as long) * {int(step_micros)})"
            f" AS {ident(tsdf.ts_col)}",
            f"{yhat} AS yhat",
        )
    )
