"""Spans around calls into tempo_spark layers, and engine counters read
from Spark's event log.

The benchmark routes every call into a layer's public function through
``Tracer.call``; tempo_spark itself is not instrumented. The untraced
runs use ``NullTracer``, whose ``call`` is a plain function call, so the
end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

#: module names of the measured layers, in the order metrics are reported
LAYERS = [
    "tsdf",
    "operators.asof",
    "operators.resample",
    "operators.interpolation",
    "intervals",
    "sources.io",
    "pipeline.prepare",
]

#: span kinds: ``build`` wraps a constructor (no execution to measure),
#: ``lazy`` returns a frame whose execution is measured by forcing it,
#: ``eager`` runs its own Spark jobs inside the call (``TSDF.write``)
BUILD, LAZY, EAGER = "build", "lazy", "eager"

#: local property that tags every Spark job with the pass that ran it
PASS_PROPERTY = "perfbench.pass"


def frame_of(obj) -> Any:
    """The DataFrame behind a TSDF / IntervalsDF / DataFrame, else None."""
    df = getattr(obj, "df", obj)
    return df if hasattr(df, "_jdf") else None


class NullTracer:
    """Untraced runs: calls go straight through."""

    def call(self, layer: str, name: str, fn: Callable, *args, kind: str = LAZY, **kwargs):
        return fn(*args, **kwargs)


@dataclass
class Span:
    layer: str
    name: str
    kind: str
    start: float
    end: float
    parent: Optional[int]
    sources: list = field(default_factory=list)
    out: Any = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer(NullTracer):
    """Records one span per layer call; ``query`` opens the parent span
    that the calls of one query share."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: Optional[int] = None
        self._outputs: dict[int, int] = {}  # id(output object) -> span index

    def query(self, name: str) -> "_QuerySpan":
        return _QuerySpan(self, name)

    def call(self, layer, name, fn, *args, kind=LAZY, **kwargs):
        owner = getattr(fn, "__self__", None)
        sources = sorted({
            self._outputs[id(a)]
            for a in (owner, *args, *kwargs.values())
            if a is not None and id(a) in self._outputs
        })
        start = time.perf_counter()
        out = fn(*args, **kwargs)
        end = time.perf_counter()
        self.spans.append(Span(layer, name, kind, start, end, self._open, sources, out))
        if out is not None:
            self._outputs[id(out)] = len(self.spans) - 1
        return out


class _QuerySpan:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> int:
        t = self.tracer
        t.spans.append(Span("query", self.name, BUILD, time.perf_counter(), 0.0, None))
        t._open = len(t.spans) - 1
        return t._open

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.spans[t._open].end = time.perf_counter()
        t._open = None
        t._outputs.clear()


class _StopReplay(Exception):
    pass


class ReplayTracer(NullTracer):
    """Rebuilds a query and stops at its ``stop``-th layer call: forces that
    call's output (or, for an eager call, times the call) and records the
    wall time. Calls before it run untimed; their execution is not forced,
    so the recorded time is the prefix of the pipeline up to that call."""

    def __init__(self, stop: int, force: Callable) -> None:
        self.stop, self.force = stop, force
        self.seen = 0
        self.seconds: Optional[float] = None

    def call(self, layer, name, fn, *args, kind=LAZY, **kwargs):
        index, self.seen = self.seen, self.seen + 1
        if index != self.stop:
            return fn(*args, **kwargs)
        if kind == EAGER:
            start = time.perf_counter()
            fn(*args, **kwargs)
            self.seconds = time.perf_counter() - start
        else:
            out = fn(*args, **kwargs)
            start = time.perf_counter()
            self.force(frame_of(out))
            self.seconds = time.perf_counter() - start
        raise _StopReplay


def replay_prefix(build: Callable, stop: int, force: Callable) -> float:
    """Seconds to execute ``build``'s pipeline up to its ``stop``-th call."""
    tr = ReplayTracer(stop, force)
    try:
        build(tr)
    except _StopReplay:
        return tr.seconds
    raise RuntimeError(f"query made fewer than {stop + 1} layer calls")


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str, windows: dict) -> dict:
    """Per-pass engine counters from every event log file in ``log_dir``.

    Jobs are attributed to a pass by the ``PASS_PROPERTY`` local property.
    Jobs submitted from threads tempo_spark starts itself (prepare_corpus
    fills its caches from a background thread) do not inherit it; those
    go to the pass whose ``windows[tag] = (start_ms, end_ms)`` wall-clock
    window holds their submission time. Stages and tasks follow the job
    that submitted them. Returns ``{pass_tag: {counter: value}}`` with
    bytes and seconds as raw sums."""
    stage_pass: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(f"{log_dir}/*")):
        stage_pass.clear()  # stage ids restart with each SparkContext
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(PASS_PROPERTY)
                    if tag is None:
                        at = ev.get("Submission Time", -1)
                        tag = next((t for t, (a, b) in windows.items() if a <= at <= b), None)
                    if tag is None:
                        continue
                    out[tag]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_pass[sid] = tag
                elif kind == "SparkListenerStageCompleted":
                    tag = stage_pass.get(ev["Stage Info"]["Stage ID"])
                    if tag is not None:
                        out[tag]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_pass.get(ev.get("Stage ID"))
                    if tag is None:
                        continue
                    c = out[tag]
                    c["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["task_failures"] += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    c["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["cpu_ns"] += m.get("Executor CPU Time", 0)
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {k: dict(v) for k, v in out.items()}
