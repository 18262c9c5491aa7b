"""NaN is treated as NULL by every operator that quantizes to the 1e-6
grid: the output with a NaN in one row equals the output with a NULL in
that row. Unguarded, ``floor(NaN)`` is 0 in Spark, so a NaN used to count
as the value 0.0 (an extra trend observation, a bucket minimum, a
seasonal residual computed as if v = 0)."""

import datetime as dt
import math

import pytest

from tempo_spark import TSDF

BASE = dt.datetime(2024, 1, 1)
HOLE = 5  # the row that carries NaN or NULL

CALLS = {
    "fit_trend": lambda t: t.fit_trend("v"),
    "downsample_lttb": lambda t: t.downsample_lttb(4, "v"),
    "downsample_minmax": lambda t: t.downsample_minmax(3, "v"),
    "seasonal_decompose": lambda t: t.seasonal_decompose("v", 3),
}


def _frame(spark, hole):
    rows = [
        ("a", BASE + dt.timedelta(seconds=i), hole if i == HOLE else float(i))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "sym string, ts timestamp, v double")
    return TSDF(df, ts_col="ts", series_ids=["sym"])


def _rows(df):
    """Collected rows, NaN cells read as NULL (the raw value column passes
    through unchanged), in a stable order."""
    def cell(x):
        return None if isinstance(x, float) and math.isnan(x) else x

    out = [tuple(cell(x) for x in r) for r in df.collect()]
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(CALLS))
def test_nan_equals_null(spark, name):
    call = CALLS[name]
    with_nan = _rows(call(_frame(spark, float("nan"))))
    with_null = _rows(call(_frame(spark, None)))
    assert with_nan == with_null
    if name == "fit_trend":
        (r,) = with_null
        assert r[1] == 11  # n_obs: the hole is not an observation
        assert r[2] == pytest.approx(1.0)  # slope_per_sec
