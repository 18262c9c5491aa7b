"""Per-series OLS trend fit.

``fit_trend``: least-squares ``y = intercept + slope·t`` per series — the
basic drift/trend diagnostic (and a one-step base forecast:
``intercept + slope·t_future``). One aggregation over sufficient
statistics; no window, no collect.

Determinism contract (the ACF idiom): t = µs offset from the series'
first observation (exact long), y on the 1e-6 grid (NULL and NaN values
are not observations); sufficient sums accumulate as exact decimals
sized so every product stays under the 38-digit cap in BOTH Spark and
DuckDB; the closed-form slope/intercept/r² are then FIXED IEEE
expressions over those sums — replayable bit-for-bit. Degenerate groups (n < 2, zero time- or y-variance) yield
NULL slope/r² (and NULL intercept when the slope is NULL)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tempo_spark.functions.sql import grid6_sql, ident


def fit_trend(tsdf, value_col: str) -> DataFrame:
    """(series…, n_obs, slope_per_sec, intercept, r2).

    ``slope_per_sec`` is the fitted change in ``value_col`` per second
    (the µs-grain slope scaled by 1e6 in a fixed op order); ``intercept``
    is the fitted value at the series' FIRST observation (t = 0); ``r2``
    the coefficient of determination.
    """
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    clash = sorted(c for c in tsdf.df.columns if c.startswith("__tr_"))
    if clash:
        raise ValueError(f"reserved staging columns present: {clash}")

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__tr_g", F.lit(0))
        keys = ["__tr_g"]
    from pyspark.sql import Window

    wall = Window.partitionBy(*[F.col(c) for c in keys])
    cur = tsdf._exact_micros_order()
    yq = F.expr(grid6_sql(ident(value_col)))
    staged = df.select(
        *keys,
        (cur - F.min(cur).over(wall)).alias("__tr_t"),
        yq.alias("__tr_y"),
    ).where(F.col("__tr_y").isNotNull())
    # t as (19,0): an 18-wide DuckDB decimal stays int64 physically, and
    # DuckDB multiplies mixed-scale operands AFTER rescaling to the common
    # scale — t(µs)·1e6 and t² both overflow int64 on real spans. A
    # 19-wide operand forces the int128 path; (19,0)×(19,0) binds at
    # width 38 (DuckDB caps at w1+w2) and (19,0)×(18,6) at (37..38,6) —
    # legal in both engines. Spark declares (19,0)² as (38,0) (its
    # p1+p2+1 rule capped), but the actual magnitudes (t² ≤ ~1e25, sums
    # ≤ ~1e31) fit well inside 38 digits, so every product and sum stays
    # EXACT on both engines.
    td = F.col("__tr_t").cast("decimal(19,0)")
    yd = F.col("__tr_y").cast("decimal(18,6)")
    agg = staged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(td).alias("__st"),
        F.sum(yd).alias("__sy"),
        F.sum(td * yd).alias("__sty"),
        F.sum(td * td).alias("__stt"),
        F.sum(yd * yd).alias("__syy"),
    )
    n = F.col("n_obs").cast("double")
    st = F.col("__st").cast("double")
    sy = F.col("__sy").cast("double")
    sty = F.col("__sty").cast("double")
    stt = F.col("__stt").cast("double")
    syy = F.col("__syy").cast("double")
    vt = n * stt - st * st
    vy = n * syy - sy * sy
    cov = n * sty - st * sy
    slope_us = F.when((F.col("n_obs") >= 2) & (vt > 0), cov / vt)
    intercept = F.when(
        slope_us.isNotNull(), (sy - slope_us * st) / n
    )
    r2 = F.when(
        slope_us.isNotNull() & (vy > 0), (cov / vt) * (cov / vy)
    )
    return agg.select(
        *[c for c in keys if c != "__tr_g"],
        "n_obs",
        (slope_us * F.lit(1e6)).alias("slope_per_sec"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )
