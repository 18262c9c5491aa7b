"""LTTB display downsampling (Largest-Triangle-Three-Buckets).

Steinarsson 2013 ("Downsampling Time Series for Visual Representation",
the Grafana/Plotly standard): reduce each series to ``n_out`` visually
representative points — keep the first and last observation, split the
interior into ``n_out − 2`` equal-count buckets, and from each bucket
keep the point forming the largest triangle with its neighbor buckets.

This is the **parallel** LTTB variant: both triangle anchors are the
neighboring buckets' AVERAGE points (the sequential original anchors the
left side on the previously *selected* point, a chain that cannot be
expressed without a per-series sequential scan; the average-anchor
variant is the standard parallelization and visually indistinguishable —
the anchor only weights which in-bucket extremum wins).

Spark shape: every step (row-number, per-series count/min, neighbor
bucket sums via RANGE frames over the bucket order, in-bucket arg-max)
is a window clustered by the series key — no groupBy+join-back, no
Python, no collect; output rows are the ORIGINAL rows (selection never
rewrites). The plan carries one identical hash(series) exchange per
union branch (3 nodes, plan-pinned); at runtime ReuseExchange collapses
them to ONE physical shuffle.

Determinism contract: bucket sums use exact decimal arithmetic (x = µs
offset from the series' first observation, integral; y hardened-rounded
to the 1e-6 grid), so the sums are order-independent; the area is then a
FIXED IEEE expression over those exact sums, making the per-bucket
arg-max replayable bit-for-bit by an external engine. Ties break by
earliest timestamp; NULL (or NaN — the grid reads NaN as NULL) metric
rows never win a bucket — unless the bucket is entirely NULL, in which
case its earliest row is emitted
(every area is NULL, so the tie-break alone decides; same contract as
``downsample_minmax``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from tempo_spark.functions.sql import grid6_sql, ident


def downsample_lttb(tsdf, n_out: int, value_col: str) -> DataFrame:
    """Per-series LTTB reduction to at most ``n_out`` rows (original rows,
    all columns preserved). Series with ``<= n_out`` rows pass through
    untouched; ``n_out == 2`` keeps only the endpoints."""
    if n_out < 2:
        raise ValueError(f"n_out must be >= 2, got {n_out}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    reserved = sorted(c for c in tsdf.df.columns if c.startswith("__lt_"))
    if reserved:
        raise ValueError(f"reserved staging columns present: {reserved}")

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        # single global series: stage a constant key so the windows and
        # the bucket-stats joins have a partition/join column
        df = df.withColumn("__lt_g", F.lit(0))
        keys = ["__lt_g"]
    series = [F.col(c) for c in keys]
    order = [tsdf._exact_micros_order()]
    if getattr(tsdf, "sequence_col", None):
        order.append(F.col(tsdf.sequence_col))
    w = Window.partitionBy(*series).orderBy(*order)
    wall = Window.partitionBy(*series)

    # y on the 1e-6 grid (hardened rounding — the cross-engine idiom) so
    # bucket sums can be EXACT decimals; x = µs offset from the series'
    # first observation (small integral values, decimal headroom)
    yq = F.expr(grid6_sql(ident(value_col)))
    base = (
        df.withColumn("__lt_pos", F.row_number().over(w))
        .withColumn("__lt_n", F.count(F.lit(1)).over(wall))
        .withColumn(
            "__lt_x", tsdf._exact_micros_order() - F.min(tsdf._exact_micros_order()).over(wall)
        )
        .withColumn("__lt_y", yq)
    )

    passthrough = base.where(F.col("__lt_n") <= F.lit(n_out))
    # endpoint anchors computed BEFORE the interior filter (the interior
    # frame no longer contains pos 1/N): first x offset is 0 by
    # construction; last = (max x, last y in series order)
    w_ordered_full = (
        Window.partitionBy(*series)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    big = (
        base.where(F.col("__lt_n") > F.lit(n_out))
        .withColumn("__lt_fy", F.first("__lt_y").over(w_ordered_full))
        .withColumn("__lt_lx", F.max("__lt_x").over(wall).cast("double"))
        .withColumn("__lt_ly", F.last("__lt_y").over(w_ordered_full))
    )
    endpoints = big.where(
        (F.col("__lt_pos") == 1) | (F.col("__lt_pos") == F.col("__lt_n"))
    ).drop("__lt_fy", "__lt_lx", "__lt_ly")
    if n_out == 2:
        selected = passthrough.unionByName(endpoints)
        return selected.drop(
            "__lt_pos", "__lt_n", "__lt_x", "__lt_y", "__lt_g"
        )

    # interior rows: bucket j = (pos-2)(n_out-2) div (N-2) in [0, n_out-3]
    # (INTEGER division — a double divide + floor can misfloor at exact
    # integer quotients)
    interior = big.where(
        (F.col("__lt_pos") > 1) & (F.col("__lt_pos") < F.col("__lt_n"))
    ).withColumn(
        "__lt_b",
        F.expr(
            f"cast((cast(__lt_pos as bigint) - 2) * {n_out - 2} "
            f"div (cast(__lt_n as bigint) - 2) as int)"
        ),
    )
    # exact neighbor-bucket sums via RANGE frames over the bucket order —
    # sum/count over rows with bucket ∈ [b−1, b−1] IS the previous
    # bucket's aggregate, no groupBy and no join-back, and every window
    # here is satisfied by the one hash(series) exchange. Sums are exact
    # decimals (order-independent); anchors are then a FIXED op order
    # (dec→double, then /n).
    wprev = (
        Window.partitionBy(*series).orderBy(F.col("__lt_b"))
        .rangeBetween(-1, -1)
    )
    wnext = (
        Window.partitionBy(*series).orderBy(F.col("__lt_b"))
        .rangeBetween(1, 1)
    )
    # anchors average the VALID (non-null-y) points of the neighbor
    # bucket: a null-y row contributes to neither coordinate (a count of
    # ALL rows with a sum over non-null ones would skew the mean, and an
    # all-null neighbor would null-poison both adjacent buckets' areas —
    # the r10 review repro); an all-null neighbor falls back to the
    # endpoint anchor exactly like an absent one
    xdec = F.when(
        F.col("__lt_y").isNotNull(), F.col("__lt_x").cast("decimal(38,0)")
    )
    ydec = F.col("__lt_y").cast("decimal(32,6)")
    scored = (
        interior
        .withColumn("__lt_pna", F.count("__lt_y").over(wprev))
        .withColumn("__lt_psx", F.sum(xdec).over(wprev))
        .withColumn("__lt_psy", F.sum(ydec).over(wprev))
        .withColumn("__lt_nna", F.count("__lt_y").over(wnext))
        .withColumn("__lt_nsx", F.sum(xdec).over(wnext))
        .withColumn("__lt_nsy", F.sum(ydec).over(wnext))
    )

    def _anchor(cnt, s, fallback):
        # gate the division on its window count (ANSI: even a NULL row
        # set divides) — empty neighbor frame -> endpoint anchor
        return F.when(
            F.col(cnt) > 0, F.col(s).cast("double") / F.col(cnt)
        ).otherwise(fallback)

    scored = (
        scored.withColumn("__lt_pax", _anchor("__lt_pna", "__lt_psx", F.lit(0.0)))
        .withColumn("__lt_pay", _anchor("__lt_pna", "__lt_psy", F.col("__lt_fy")))
        .withColumn("__lt_nax", _anchor("__lt_nna", "__lt_nsx", F.col("__lt_lx")))
        .withColumn("__lt_nay", _anchor("__lt_nna", "__lt_nsy", F.col("__lt_ly")))
    )
    # triangle area ×2 (fixed IEEE order; the |…| is rank-invariant):
    # |(pax − nax)(y − pay) − (pax − x)(nay − pay)|
    area = F.abs(
        (F.col("__lt_pax") - F.col("__lt_nax"))
        * (F.col("__lt_y") - F.col("__lt_pay"))
        - (F.col("__lt_pax") - F.col("__lt_x").cast("double"))
        * (F.col("__lt_nay") - F.col("__lt_pay"))
    )
    wsel = Window.partitionBy(*series, F.col("__lt_b")).orderBy(
        area.desc_nulls_last(), *order
    )
    chosen = (
        scored.withColumn("__lt_rn", F.row_number().over(wsel))
        .where(F.col("__lt_rn") == 1)
        .drop("__lt_rn", "__lt_b", "__lt_pax", "__lt_pay", "__lt_nax",
              "__lt_nay", "__lt_pna", "__lt_psx", "__lt_psy", "__lt_nna",
              "__lt_nsx", "__lt_nsy", "__lt_fy", "__lt_lx", "__lt_ly")
    )
    out = passthrough.unionByName(endpoints).unionByName(chosen)
    return out.drop("__lt_pos", "__lt_n", "__lt_x", "__lt_y", "__lt_g")


def downsample_minmax(tsdf, n_buckets: int, value_col: str) -> DataFrame:
    """Min-max envelope downsampling (the other standard display reducer,
    e.g. Grafana's ``min+max`` mode): split each series into ``n_buckets``
    equal-count buckets and keep the rows holding the bucket's minimum
    AND maximum metric value — extremes are preserved exactly, which LTTB
    only approximates; at most ``2 × n_buckets`` rows per series.

    Same execution contract as :func:`downsample_lttb`: windows-only on
    one hash(series) clustering, original rows out, NULL metric rows
    never selected (unless a bucket is entirely NULL, which emits its
    earliest row once), ties broken by earliest timestamp. Selection is
    pure integer/grid comparison — engine-replayable."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if value_col not in tsdf.df.columns:
        raise ValueError(f"value_col {value_col!r} not in DataFrame")
    reserved = sorted(c for c in tsdf.df.columns if c.startswith("__lt_"))
    if reserved:
        raise ValueError(f"reserved staging columns present: {reserved}")

    df = tsdf.df
    keys = list(tsdf.series_ids)
    if not keys:
        df = df.withColumn("__lt_g", F.lit(0))
        keys = ["__lt_g"]
    series = [F.col(c) for c in keys]
    order = [tsdf._exact_micros_order()]
    if getattr(tsdf, "sequence_col", None):
        order.append(F.col(tsdf.sequence_col))
    w = Window.partitionBy(*series).orderBy(*order)
    wall = Window.partitionBy(*series)
    yq = F.expr(grid6_sql(ident(value_col)))
    base = (
        df.withColumn("__lt_pos", F.row_number().over(w))
        .withColumn("__lt_n", F.count(F.lit(1)).over(wall))
        .withColumn("__lt_y", yq)
    )
    base = base.withColumn(
        "__lt_b",
        F.expr(
            f"cast((cast(__lt_pos as bigint) - 1) * {n_buckets} "
            f"div cast(__lt_n as bigint) as int)"
        ),
    )
    wmin = Window.partitionBy(*series, F.col("__lt_b")).orderBy(
        F.col("__lt_y").asc_nulls_last(), *order
    )
    wmax = Window.partitionBy(*series, F.col("__lt_b")).orderBy(
        F.col("__lt_y").desc_nulls_last(), *order
    )
    out = (
        base.withColumn("__lt_rmin", F.row_number().over(wmin))
        .withColumn("__lt_rmax", F.row_number().over(wmax))
        .where((F.col("__lt_rmin") == 1) | (F.col("__lt_rmax") == 1))
        .drop("__lt_pos", "__lt_n", "__lt_b", "__lt_y", "__lt_rmin",
              "__lt_rmax", "__lt_g")
    )
    return out
