"""perfbench: tempo_spark's benchmark of record.

    python3 perfbench/run.py --workload ticks_asof --seed 1 --seconds 8 --trace 0

Sets up three times in one process (session start, input generation from
the seed, load and oracle), runs one cold pass, whose outputs are checked,
and the workload's fixed number of untimed warm passes, then runs
closed-loop passes with one client for ``--seconds``, each followed by a
probe job that gauges the host's speed, and checks the last pass's
outputs. ``setup_s`` is the median set-up plus the cold pass. Every time
is scaled to a reference host speed by the fastest probe (README.md,
"Host-speed scaling"). With ``--trace 0`` the last
stdout line is one JSON object holding the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run (spans around
each tempo_spark call, Spark engine counters from an event log that only
that run enables). The line before it is a ``context`` object: raw pass
and probe times, quartiles, outlier passes, load average and hypervisor
steal.

Must be run from a checkout that holds ``tempo_spark/``; everything the run
writes goes under ``.perfbench_work/`` in that checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

import gen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUP_REPS = 3
#: cap on the untimed warm passes (``Workload.warm_passes`` of them) that
#: follow the cold pass while the driver JVM's JIT still shortens them
WARM_SECONDS = 20.0
#: rows hashed by one probe job, and the probe seconds that define the
#: reference host speed (the fastest warm probe on a 4-core x86 VM with no
#: neighbours). Times are reported scaled to that speed; see README.md
PROBE_ROWS = 40_000_000
PROBE_REF_S = 0.15
#: probes after the warm passes: a workload with long passes measures only
#: a few, and the fastest of three moved by 10-15% from run to run
WARM_PROBES = 5
#: driver heap, fixed and pre-touched so that peak_rss_mb does not depend
#: on when the collector chose to grow the heap; local mode runs the
#: executors in it. The parallel collector, not G1: under G1, 3 in 10
#: sensor_grid runs ran every pass about 40% slower than the others
HEAP = "2g"
#: a pass during which hypervisor steal exceeds this share of all CPU time
#: is listed in ``context``; it still counts in the metrics
MAX_STEAL = 0.03


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except (OSError, ValueError):
        return 0, 0


def _hwm_mb(pid) -> float:
    """High-water resident set of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def shutdown_jvm() -> None:
    """Shut the py4j gateway down and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    """One workload in one Spark driver process."""

    def __init__(self, workload: str, seed: int, work: Path, scale: float = 1.0) -> None:
        self.name, self.seed, self.work, self.scale = workload, seed, work, scale
        self.cores = _cores()
        self.spark = None
        self.sessions = 0
        self.workload = None
        self.expected: dict[int, object] = {}
        self.input_digests: dict | None = None
        self.attempted = self.failed = 0
        self.last_results = None

    # ------------------------------------------------------------ session

    def start_session(self, event_log: bool = False) -> None:
        from pyspark.sql import SparkSession

        if self.spark is not None:
            self.spark.stop()
        tmp = self.work / "tmp"
        conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC"
            ),
            "spark.sql.shuffle.partitions": str(2 * self.cores),
            # fixed shuffle partitions: AQE would coalesce these small
            # inputs into one task per stage and leave the other cores idle
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.default.parallelism": str(2 * self.cores),
            "spark.sql.session.timeZone": "UTC",
            # managed tables outlive an in-memory catalog: one dir per session
            "spark.sql.warehouse.dir": str(self.work / f"warehouse{self.sessions}"),
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            (self.work / "eventlog").mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.dir"] = (self.work / "eventlog").as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        builder = SparkSession.builder.master(f"local[{self.cores}]").appName(f"perfbench-{self.name}")
        for k, v in conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sessions += 1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutdown_jvm()

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # -------------------------------------------------------------- set-up

    def load(self, inputs: Path) -> None:
        from workloads import WORKLOADS

        self.workload = WORKLOADS[self.name](self.spark, str(inputs), self.seed)
        self.queries = self.workload.queries()

    def setup(self, rep: int) -> float:
        """One set-up: session start, input generation and the workload's
        load and oracle. Returns its wall seconds."""
        start = time.perf_counter()
        self.start_session()
        tables, self.shape = gen.generate(self.name, self.seed, self.scale)
        self.inputs = self.work / f"inputs{rep}"
        sizes = gen.write(tables, str(self.inputs))
        self.input_bytes = sum(sizes.values())
        digests = {k: gen.table_digest(t) for k, t in tables.items()}
        if self.input_digests is None:
            self.input_digests = digests
        elif digests != self.input_digests:
            print("perfbench: generator is not deterministic", file=sys.stderr)
            self.failed += 1
        self.load(self.inputs)
        return time.perf_counter() - start

    # --------------------------------------------------------------- passes

    def run_pass(self, tracer, tag: str, check: bool = True) -> list[float]:
        """Run every query of one pass; returns the latencies of those that
        completed. Output checks run after the pass, untimed; with
        ``check=False`` the results are kept in ``last_results`` instead."""
        from spans import PASS_PROPERTY, NullTracer

        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        sc.setLocalProperty(PASS_PROPERTY, tag)
        latencies, results = [], []
        for i, (qname, build) in enumerate(self.queries):
            self.attempted += 1
            start = time.perf_counter()
            try:
                if tracer is None:
                    result = build(NullTracer())
                else:
                    with tracer.query(qname):
                        result = build(tracer)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            latencies.append(time.perf_counter() - start)
            results.append((i, result))
        sc.setLocalProperty(PASS_PROPERTY, None)
        if check:
            self.check(results, tag)
        else:
            self.last_results = (results, tag)
        return latencies

    def check(self, results: list, tag: str) -> None:
        """Output checks of one pass's results; each failure counts."""
        from spans import PASS_PROPERTY

        sc = self.spark.sparkContext
        sc.setLocalProperty(PASS_PROPERTY, "check")
        for i, result in results:
            try:
                signature, ok = self.workload.outcome(i, result)
            except Exception:
                traceback.print_exc()
                signature, ok = None, False
            if not ok or self.expected.setdefault(i, signature) != signature:
                print(f"perfbench: output check failed for query {i} ({tag})", file=sys.stderr)
                self.failed += 1
        sc.setLocalProperty(PASS_PROPERTY, None)

    def probe(self) -> float:
        """Seconds of one fixed Spark job that runs no tempo_spark code: a
        hash-sum over PROBE_ROWS generated rows, one task per core. It
        gauges how fast the host runs this JVM right now."""
        start = time.perf_counter()
        self.spark.range(0, PROBE_ROWS, 1, self.cores).selectExpr(
            "sum(pmod(xxhash64(id), 1024))"
        ).collect()
        return time.perf_counter() - start

    def warm(self, passes: int, cap: float, probes: list) -> list[float]:
        """Untimed, unchecked passes: ``passes`` of them, or fewer if they
        take longer than ``cap`` seconds; then WARM_PROBES probes, whose
        seconds are appended to ``probes``. Returns the passes' seconds."""
        seconds = []
        deadline = time.perf_counter() + cap
        while len(seconds) < passes and time.perf_counter() < deadline:
            seconds.append(sum(self.run_pass(None, f"w{len(seconds)}", check=False)))
        probes.extend(self.probe() for _ in range(WARM_PROBES))
        return seconds

    def measure(self, seconds: float, on_pass=None, prefix: str = "p", probes: list | None = None):
        """Closed loop for ``seconds``: passes back to back, unchecked, then
        the output checks of the last pass. Returns (pass seconds, query
        seconds, hypervisor steal share during each pass). With a
        ``probes`` list, a probe runs after each pass and its seconds are
        appended there."""
        passes, queries, steals = [], [], []
        deadline = time.perf_counter() + seconds
        n = 0
        self.last_results = None
        while n == 0 or time.perf_counter() < deadline:
            tag = f"{prefix}{n}"
            n += 1
            ticks0 = _cpu_ticks()
            latencies = self.run_pass(None, tag, check=False) if on_pass is None else on_pass(tag)
            ticks1 = _cpu_ticks()
            if probes is not None:
                probes.append(self.probe())
            if len(latencies) != len(self.queries):
                continue  # a query failed; run_pass counted it
            passes.append(sum(latencies))
            queries.extend(latencies)
            steals.append((ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]))
        if self.last_results is not None:
            self.check(*self.last_results)
        if not passes:
            raise RuntimeError(f"no pass of {self.name} completed")
        return passes, queries, steals


# ------------------------------------------------------------------ trace


def traced_pass(bench: Bench, tag: str, records: list) -> list[float]:
    """One traced pass, then (untimed) the per-layer counts and the prefix
    replays that split execution time between the layers. A pass whose
    queries all completed is appended to ``records``."""
    from tempo_spark.plans.inspect import count_exchanges, count_python_evals
    from spans import EAGER, LAZY, LAYERS, PASS_PROPERTY, Tracer, frame_of, replay_prefix
    from workloads import digest

    tracer = Tracer()
    start_ms = time.time() * 1e3
    latencies = bench.run_pass(tracer, tag)
    window = (start_ms, time.time() * 1e3)
    if len(latencies) != len(bench.queries):
        return latencies
    sc = bench.spark.sparkContext
    sc.setLocalProperty(PASS_PROPERTY, "replay")
    layers = {layer: defaultdict(float) for layer in LAYERS}
    n_evals = 0
    queries = [i for i, s in enumerate(tracer.spans) if s.layer == "query"]
    for q, (qname, build) in zip(queries, bench.queries):
        calls = [i for i, s in enumerate(tracer.spans) if s.parent == q]
        prefix = {}
        last_lazy = None
        for local, i in enumerate(calls):
            span = tracer.spans[i]
            r = layers[span.layer]
            r["calls"] += 1
            if span.kind != EAGER:
                r["build_s"] += span.seconds
            if span.kind not in (LAZY, EAGER):
                continue
            if span.kind == LAZY:
                r["exchanges"] += count_exchanges(frame_of(span.out))
                last_lazy = span
            bench.spark.catalog.clearCache()
            prefix[i] = replay_prefix(build, local, digest)
            r["exec_s"] += prefix[i] - sum(prefix.get(s, 0.0) for s in span.sources)
        if last_lazy is not None:
            n_evals += count_python_evals(frame_of(last_lazy.out))
    sc.setLocalProperty(PASS_PROPERTY, None)
    records.append({
        "tag": tag,
        "window": window,
        "wall": sum(latencies),
        "layers": layers,
        "python_evals": n_evals,
        "spans": [
            {"layer": s.layer, "name": s.name, "kind": s.kind, "start": s.start,
             "end": s.end, "parent": s.parent}
            for s in tracer.spans
        ],
    })
    return latencies


def trace_metrics(bench: Bench, seconds: float) -> dict:
    from spans import LAYERS, read_event_log

    untraced, _, _ = bench.measure(seconds / 2)
    bench.start_session(event_log=True)
    bench.load(bench.inputs)
    # the replays force plan shapes no pass has run yet: warm them up too
    traced_pass(bench, "warm", [])
    records = []
    traced, _, _ = bench.measure(seconds / 2, lambda tag: traced_pass(bench, tag, records))
    bench.spark.stop()
    bench.spark = None
    engine = read_event_log(str(bench.work / "eventlog"), {r["tag"]: r["window"] for r in records})
    trace_file = bench.work.parent / "traces" / f"{bench.name}-seed{bench.seed}.json"
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    trace_file.write_text(json.dumps({"passes": records, "engine": engine}))

    med = statistics.median
    m = {"trace.overhead_frac": (med(traced) / med(untraced) - 1.0, "ratio")}
    units = {"build_s": "s", "exec_s": "s", "exchanges": "count", "calls": "count"}
    for layer in LAYERS:
        for key, unit in units.items():
            m[f"{layer}.{key}"] = (med([r["layers"][layer][key] for r in records]), unit)

    runs = []
    for r in records:
        c, wall = engine.get(r["tag"], {}), r["wall"]
        runs.append({
            "spark.jobs": c.get("jobs", 0),
            "spark.stages": c.get("stages", 0),
            "spark.tasks": c.get("tasks", 0),
            "spark.task_failures": c.get("task_failures", 0),
            "spark.shuffle_write_mb": c.get("shuffle_write_bytes", 0) / 2**20,
            "spark.shuffle_read_mb": c.get("shuffle_read_bytes", 0) / 2**20,
            "spark.spill_mb": c.get("spill_bytes", 0) / 2**20,
            "spark.gc_s": c.get("gc_ms", 0) / 1e3,
            "spark.executor_cpu_s": c.get("cpu_ns", 0) / 1e9,
            "spark.slot_idle_frac": 1.0 - c.get("run_ms", 0) / 1e3 / (wall * bench.cores),
            "spark.shuffle_bytes_per_input_byte": c.get("shuffle_write_bytes", 0) / bench.input_bytes,
            "sources.io.bytes_written_per_input_byte": c.get("output_bytes", 0) / bench.input_bytes,
        })
    engine_units = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.task_failures": "count", "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
        "spark.executor_cpu_s": "s", "spark.slot_idle_frac": "ratio",
        "spark.shuffle_bytes_per_input_byte": "ratio",
        "sources.io.bytes_written_per_input_byte": "ratio",
    }
    for key, unit in engine_units.items():
        m[key] = (med([r[key] for r in runs]), unit)
    m["spark.python_evals"] = (med([r["python_evals"] for r in records]), "count")
    return m


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own tempo_spark, never an
    # installed copy: without it there is nothing to measure
    if not (ROOT / "tempo_spark" / "__init__.py").is_file():
        print(f"perfbench: no tempo_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # everything Spark, the JVM and Python write goes under the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [str(HERE), str(ROOT)]

    bench = Bench(args.workload, args.seed, work)
    try:
        load_before = os.getloadavg()
        setups = [bench.setup(rep) for rep in range(SETUP_REPS)]
        start = time.perf_counter()
        bench.run_pass(None, "warmup")  # untimed by run_s; fixes the expected outputs
        warmup = time.perf_counter() - start
        probes = []
        warm = bench.warm(bench.workload.warm_passes, WARM_SECONDS, probes)
        ticks0 = _cpu_ticks()
        if args.trace:
            metrics = trace_metrics(bench, args.seconds)
            passes = []
        else:
            passes, queries, steals = bench.measure(args.seconds, probes=probes)
            rss = _hwm_mb(bench.jvm_pid()) + _hwm_mb(os.getpid())
            # host speed relative to the reference: every time below is
            # scaled by it, so that a slower or busier host cancels out.
            # The fastest probe is the steady gauge; the median of a few
            # probes moved with every short stall
            scale = PROBE_REF_S / min(probes)
            run_s = statistics.median(passes) * scale
            metrics = {
                "setup_s": ((statistics.median(setups) + warmup) * scale, "s"),
                "run_s": (run_s, "s"),
                "rows_per_s": (bench.workload.input_rows / run_s, "rows/s"),
                "query_p50_ms": (statistics.median(queries) * scale * 1e3, "ms"),
                "query_p90_ms": (_p90(queries) * scale * 1e3, "ms"),
                "queries_per_s": (len(queries) / (sum(queries) * scale), "1/s"),
                "peak_rss_mb": (rss, "MB"),
            }
        ticks1 = _cpu_ticks()
        load_after = os.getloadavg()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    notes = []
    if steal > MAX_STEAL:
        notes.append(f"hypervisor steal {steal:.3f} > {MAX_STEAL} over the run")
    if load_before[0] > bench.cores:
        notes.append(f"host busy before start: loadavg {load_before[0]:.2f}")
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": bench.cores,
        "heap": HEAP,
        "setup_s": setups,
        "warmup_s": warmup,
        "warm_passes": warm,
        "shape": bench.shape,
        "input_rows": bench.workload.input_rows,
        "input_bytes": bench.input_bytes,
        "input_digests": bench.input_digests,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "steal_frac": steal,
        "notes": notes,
    }
    if passes:
        q1, q2, q3 = _quartiles(passes)
        fence = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
        context.update({
            "passes": passes,
            "probes": probes,
            "scale": scale,
            "queries": len(queries),
            "run_s_quartiles": [q1, q2, q3],
            "outlier_passes": [p for p in passes if not fence[0] <= p <= fence[1]],
            "pass_steal": steals,
            "robbed_passes": [p for p, s in zip(passes, steals) if s > MAX_STEAL],
        })
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
