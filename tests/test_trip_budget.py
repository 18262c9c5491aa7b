"""py4j trip budgets for building the as-of plans.

Plan building is driver-serial: every py4j round trip (trip) costs driver
time before Spark runs anything. The as-of kernel renders its whole plan
as parsed SQL text, so its trip count does not grow per Column node. The
budgets pin the measured counts; a build that needs more trips fails
here.

Counted: calls to ``GatewayClient.send_command``, the counter behind
``scripts/prepare_census.py``, minus py4j's memory-release commands —
finalizers send those whenever Python frees an earlier call's objects,
so they land at random points in a measurement.
"""

import datetime as dt
import gc

import py4j.java_gateway as jg
import pytest

from tempo_spark import TSDF


@pytest.fixture
def count_trips(monkeypatch):
    counter = [0]
    send = jg.GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            counter[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counted)

    def trips(build) -> int:
        build()  # warm-up: schemas are fetched and cached on first use
        gc.collect()
        gc.disable()
        try:
            before = counter[0]
            build()
            return counter[0] - before
        finally:
            gc.enable()

    return trips


@pytest.fixture(scope="module")
def frames(spark):
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("A", base + dt.timedelta(seconds=i), float(i)) for i in range(6)],
        "k string, ts timestamp, v double",
    )
    right = spark.createDataFrame(
        [("A", base + dt.timedelta(seconds=2), 9.0, 1.0)],
        "k string, ts timestamp, q double, q2 double",
    )
    return (
        TSDF(left, ts_col="ts", series_ids=["k"]),
        TSDF(right, ts_col="ts", series_ids=["k"]),
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_build(count_trips, frames, direction):
    left, right = frames
    n = count_trips(lambda: left.asofJoin(right, left_prefix="l", direction=direction))
    assert n <= 45, n


def test_asof_join_many_build(count_trips, frames):
    left, right = frames
    n = count_trips(
        lambda: left.asofJoinMany({"a": right, "b": right}, strategy="union")
    )
    assert n <= 65, n
