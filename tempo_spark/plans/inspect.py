"""Plan inspection helpers.

The reference picks its as-of strategy by regexing ``EXPLAIN COST`` output
for ``sizeInBytes`` (reference: python/tempo/tsdf.py:702-750). These helpers
expose the same signal through the public API, plus convenience checks used
in perf tests (pushed filters, codegen coverage, exchange count).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame) -> Optional[float]:
    """Catalyst's estimated sizeInBytes for a DataFrame's optimized plan.
    Returns None when no estimate is available."""
    import uuid

    spark = df.sparkSession
    # unique per call: a fixed name races when two threads probe the same
    # session concurrently (each would size — or drop — the other's view)
    name = f"__tempo_plan_probe_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        rows = spark.sql(f"EXPLAIN COST SELECT * FROM {name}").head(1)
        if not rows:
            return None
        text = rows[0][0]
        m = re.search(r"sizeInBytes=([0-9.]+)\s*(B|KiB|MiB|GiB|TiB|PiB|EiB)", text)
        if not m:
            return None
        mult = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
                "PiB": 2**50, "EiB": 2**60}
        size = float(m.group(1)) * mult[m.group(2)]
        if size >= 2**60:  # Spark's Long.Max-ish sentinel for "unknown"
            return None
        return size
    finally:
        spark.catalog.dropTempView(name)


#: memoized plan-size estimates keyed by semanticHash — same
#: index-statistic contract as the asof count / auto-bin caches: a stale
#: entry can only pick a suboptimal join strategy, never a wrong answer.
_PLAN_SIZE_CACHE: dict = {}
_PLAN_SIZE_CACHE_MAX = 256


def plan_size_bytes_cached(df: DataFrame) -> Optional[float]:
    """Memoized :func:`plan_size_bytes` (the probe runs EXPLAIN COST —
    cheap but not free; strategy picks repeat over the same inputs)."""
    try:
        key = df.semanticHash()
    except Exception:  # pragma: no cover - plans a hash can't reach
        key = None
    if key is not None and key in _PLAN_SIZE_CACHE:
        return _PLAN_SIZE_CACHE[key]
    size = plan_size_bytes(df)
    if key is not None:
        if len(_PLAN_SIZE_CACHE) >= _PLAN_SIZE_CACHE_MAX:
            _PLAN_SIZE_CACHE.pop(next(iter(_PLAN_SIZE_CACHE)))
        _PLAN_SIZE_CACHE[key] = size
    return size


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan — the main
    scale lever to watch when composing operators."""
    plan = formatted_plan(df)
    return len(re.findall(r"Arguments: hashpartitioning", plan))


def count_python_evals(df: DataFrame) -> int:
    """Number of Python-worker operators (row/Arrow UDF eval, pandas
    group-map / map-iter) in the physical plan. The repo invariant is ZERO
    for every operator except FFT, multimodal decode, and the custom
    stateful streaming kernels — everything else must stay JVM-side."""
    plan = formatted_plan(df)
    # match only the details-section headers ("(4) FlatMapGroupsInPandas");
    # the tree section repeats each node name with the number trailing
    return len(
        re.findall(
            r"^\(\d+\) (?:BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas"
            r"|MapInPandas|FlatMapGroupsInPandasWithState)",
            plan,
            re.MULTILINE,
        )
    )


def has_pushed_filters(df: DataFrame) -> bool:
    return "PushedFilters: [" in formatted_plan(df) and "PushedFilters: []" not in formatted_plan(df)
