"""Fence: no ``[currentRow, unboundedFollowing]`` window frame.

Spark re-aggregates such a frame for every row (O(n²) per partition:
79 s for a forward as-of over one 20 000-row series, against 0.27 s
backward, local[4] on a 4-core VM). A look-ahead reads the same values from a running frame over
the DESCENDING order. The source scan covers the Column API and SQL text
in ``tempo_spark/``; the plan checks cover the operators that look ahead.
"""

import datetime as dt
import re

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from tempo_spark import TSDF
from tests.test_sql_kit import PKG, _code

FOLLOWING_FRAME = {
    "Column frame": re.compile(
        r"(?:currentRow|Between\s*\(\s*0)\s*,\s*(?:\w+\s*\.\s*)?"
        r"(?:unboundedFollowing|maxsize)"
    ),
    "SQL frame": re.compile(r"CURRENT\s+ROW\s+AND\s+UNBOUNDED\s+FOLLOWING", re.I),
}

#: how the physical plan prints the frame
PLAN_MARK = "currentrow$(), unboundedfollowing$()"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_following_frame_in_source():
    hits = [
        f"{path.relative_to(PKG.parent)}: {label}"
        for path in sorted(PKG.rglob("*.py"))
        for label, pattern in FOLLOWING_FRAME.items()
        if pattern.search(_code(path))
    ]
    assert not hits, hits


def test_plan_mark_detects_the_frame(spark):
    w = Window.orderBy("id").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    assert PLAN_MARK in _plan(spark.range(3).select(F.first("id").over(w)))


@pytest.fixture(scope="module")
def sides(spark):
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("A", base + dt.timedelta(seconds=s), 1.0) for s in (10, 20, 100)],
        "k string, ts timestamp, lv double",
    )
    right = spark.createDataFrame(
        [("A", base + dt.timedelta(seconds=s), 2.0) for s in (0, 15, 25)],
        "k string, ts timestamp, rv double",
    )
    return (
        TSDF(left, ts_col="ts", series_ids=["k"]),
        TSDF(right, ts_col="ts", series_ids=["k"]),
    )


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("skip_nulls", [True, False])
def test_asof_lookahead_plans(sides, direction, skip_nulls):
    left, right = sides
    out = left.asofJoin(right, direction=direction, skipNulls=skip_nulls)
    assert PLAN_MARK not in _plan(out.df)


@pytest.mark.parametrize("method", ["bfill", "linear"])
def test_interpolate_lookahead_plans(sides, method):
    left, _ = sides
    out = left.interpolate(freq="5 seconds", func="mean", method=method)
    assert PLAN_MARK not in _plan(out.df)
