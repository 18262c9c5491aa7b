"""Fast smoke tests for perfbench, at a tiny input scale:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import run  # noqa: E402

TINY = 0.05
#: like the benchmark itself, the tests write only under the checkout
WORK = HERE.parent / ".perfbench_work" / "tests"


@pytest.fixture
def tmp_path(request):
    path = WORK / re.sub(r"\W", "_", request.node.name)
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


@pytest.fixture(scope="module")
def jvm():
    """Benches in this module share one driver JVM, shut down at the end."""
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LAUNCHER_OPTS")}
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    try:
        yield
    finally:
        run.shutdown_jvm()
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic(workload, tmp_path, capsys):
    digests = []
    for seed, out in ((7, "a"), (7, "b"), (8, "c")):
        gen.main(["--workload", workload, "--seed", str(seed),
                  "--out", str(tmp_path / out), "--scale", str(TINY)])
        digests.append(json.loads(capsys.readouterr().out)["digests"])
    assert digests[0] == digests[1]
    assert all(digests[0][t] != digests[2][t] for t in digests[0])


def test_digest_is_order_independent(jvm, tmp_path):
    import pyspark.sql.functions as F
    from workloads import digest

    bench = run.Bench("ticks_asof", 1, tmp_path)
    bench.start_session()
    df = bench.spark.createDataFrame(
        [(i, f"k{i % 3}", i / 64) for i in range(50)], "id long, k string, x double"
    )
    base = digest(df)
    assert base[0] == 50
    assert digest(df.orderBy(F.desc("id")).repartition(3)) == base
    # below the rounding applied to floats: last-bit differences vanish
    assert digest(df.withColumn("x", F.col("x") + 1e-9)) == base
    assert digest(df.withColumn("x", F.when(F.col("id") == 0, 1.0).otherwise(F.col("x")))) != base
    bench.spark.stop()


@pytest.mark.parametrize("workload", ["ticks_asof", "sensor_grid", "corpus_prepare", "analyst_queries"])
def test_workload_runs_and_checks_at_tiny_scale(workload, jvm, tmp_path):
    bench = run.Bench(workload, 3, tmp_path, scale=TINY)
    bench.setup(0)
    bench.run_pass(None, "warmup")
    passes, queries, _ = bench.measure(0)
    assert len(passes) == 1 and len(queries) == len(bench.queries)
    assert bench.failed == 0
    assert bench.attempted == 2 * len(bench.queries)
    bench.spark.stop()


def test_output_check_catches_a_wrong_result(jvm, tmp_path):
    bench = run.Bench("sensor_grid", 3, tmp_path, scale=TINY)
    bench.setup(0)
    bench.run_pass(None, "warmup")
    bench.expected[0] = ((0, 0), (0, 0))
    bench.run_pass(None, "p0")
    assert bench.failed == 1
    # warm-up passes are unchecked; a measured run checks its last pass
    probes = []
    assert len(bench.warm(2, 600, probes)) == 2 and bench.failed == 1
    assert len(probes) == run.WARM_PROBES and min(probes) > 0
    bench.measure(0)
    assert bench.failed == 2
    bench.spark.stop()


def test_traced_run_reports_every_layer_metric(jvm, tmp_path):
    from spans import LAYERS

    bench = run.Bench("ticks_asof", 3, tmp_path / "run", scale=TINY)
    bench.setup(0)
    bench.run_pass(None, "warmup")
    m = run.trace_metrics(bench, 0)
    for layer in LAYERS:
        for key in ("build_s", "exec_s", "exchanges", "calls"):
            assert f"{layer}.{key}" in m
    assert m["operators.asof.calls"][0] == 1
    assert m["sources.io.calls"][0] == 1
    assert m["intervals.calls"][0] == 0
    assert m["operators.asof.exchanges"][0] >= 1
    assert m["spark.jobs"][0] >= 1 and m["spark.tasks"][0] >= 1
    assert m["sources.io.bytes_written_per_input_byte"][0] > 0
    assert "trace.overhead_frac" in m
    assert (tmp_path / "traces" / "ticks_asof-seed3.json").is_file()
    assert bench.failed == 0


def test_refuses_a_checkout_without_tempo_spark(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    assert run.main(["--workload", "ticks_asof", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""
