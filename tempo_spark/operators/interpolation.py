"""Gap-filling interpolation: zero / null / ffill / bfill / linear.

Capability parity with the reference Interpolation service (reference:
python/tempo/interpol.py:115-448), Spark-first:

1. downsample to the target frequency (unless already resampled),
2. densify: per series, ``explode(sequence(ts, next_ts - freq, freq))``
   generates exactly the missing buckets between consecutive rows — no
   driver loop, no join against a global calendar (the grid is generated
   in-partition from the data itself),
3. scaffold prev/next non-null values per target column with a running
   ``last(..., ignorenulls)`` over ascending / descending time — both
   directions share ONE shuffle on series_ids (the sort order differs, not
   the partitioning),
4. fill with native ``when`` expressions (no Python workers anywhere).

Output flags match the reference contract: ``is_ts_interpolated`` plus one
``is_interpolated_<col>`` per target column when ``show_interpolated``.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Window
from pyspark.sql.types import NumericType

from tempo_spark.functions.freq import parse_freq
from tempo_spark.functions.timestamps import ts_to_double

METHODS = ("zero", "null", "ffill", "bfill", "linear")


def interpolate(
    tsdf,
    freq: str,
    func: str,
    method: str,
    target_cols: Optional[Sequence[str]] = None,
    show_interpolated: bool = False,
    already_resampled: bool = False,
):
    from tempo_spark.operators.resample import resample
    from tempo_spark.tsdf import TSDF

    if method not in METHODS:
        raise ValueError(f"interpolation method must be one of {METHODS}, got {method!r}")

    if not already_resampled:
        # no automatic pre-partition — see the negative-result note in
        # resample(): the combined-partials two-exchange plan measured
        # faster than one raw-row shuffle on every tested shape
        tsdf = resample(tsdf, freq, func, metric_cols=target_cols)
    f = parse_freq(freq)
    series, ts = list(tsdf.series_ids), tsdf.ts_col
    targets = list(target_cols or tsdf.metric_cols)

    if method in ("zero", "linear"):
        types = {fld.name: fld.dataType for fld in tsdf.df.schema.fields}
        for c in targets:
            if not isinstance(types[c], NumericType):
                raise ValueError(
                    f"method {method!r} requires numeric columns; {c!r} is {types[c]}"
                )

    # reference parity: interpolation works over [series, ts, targets] ONLY
    # (reference: python/tempo/interpol.py:353 input_cols) — a non-target
    # metric on an already-resampled frame is dropped, not passed through
    src = tsdf.df.select(*series, ts, *targets)

    w = Window.partitionBy(*series).orderBy(F.col(ts))
    next_ts = F.lead(F.col(ts)).over(w)
    # window fn must be materialized before it can feed a generator
    df = src.withColumn(
        "__seq_end",
        F.when(next_ts.isNotNull(), next_ts - F.expr(f.interval)).otherwise(F.col(ts)),
    )
    df = df.withColumn(
        "__new_ts",
        F.explode(F.sequence(F.col(ts), F.col("__seq_end"), F.expr(f.interval))),
    ).drop("__seq_end")
    df = df.withColumn("is_ts_interpolated", F.col("__new_ts") != F.col(ts))

    # values only exist at original buckets; synthesized buckets start null
    for c in targets:
        df = df.withColumn(c, F.when(~F.col("is_ts_interpolated"), F.col(c)))
    df = df.drop(ts).withColumnRenamed("__new_ts", ts)

    # running frames only: previous values read the ascending order, next
    # values the DESCENDING one (timestamps are unique per series after
    # resample). A [currentRow, unboundedFollowing] frame would give the
    # same values, but Spark re-aggregates it for every row: O(n²).
    wg = Window.partitionBy(*series)
    running = (Window.unboundedPreceding, Window.currentRow)
    w_back = wg.orderBy(F.col(ts)).rowsBetween(*running)
    w_next = wg.orderBy(F.col(ts).desc()).rowsBetween(*running)

    filled = df
    for c in targets:
        val = F.col(c)
        missing = val.isNull()
        if method == "null":
            new_val = val
        elif method == "zero":
            new_val = F.coalesce(val, F.lit(0))
        elif method == "ffill":
            new_val = F.last(val, ignorenulls=True).over(w_back)
        elif method == "bfill":
            new_val = F.last(val, ignorenulls=True).over(w_next)
        else:  # linear
            ts_dtype = filled.schema[ts].dataType
            prev_v = F.last(val, ignorenulls=True).over(w_back)
            next_v = F.last(val, ignorenulls=True).over(w_next)
            prev_t = F.last(
                F.when(val.isNotNull(), ts_to_double(F.col(ts), ts_dtype)),
                ignorenulls=True,
            ).over(w_back)
            next_t = F.last(
                F.when(val.isNotNull(), ts_to_double(F.col(ts), ts_dtype)),
                ignorenulls=True,
            ).over(w_next)
            t = ts_to_double(F.col(ts), ts_dtype)
            interp = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
            new_val = F.when(
                missing & prev_v.isNotNull() & next_v.isNotNull(), interp
            ).otherwise(val)
        filled = filled.withColumn(f"is_interpolated_{c}", missing)
        filled = filled.withColumn(c, new_val)

    if not show_interpolated:
        filled = filled.drop("is_ts_interpolated", *[f"is_interpolated_{c}" for c in targets])

    return TSDF(filled, ts_col=ts, series_ids=series, validate=False)
