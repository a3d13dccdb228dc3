"""Per-layer probes read from outside the engine.

Everything here observes Spark through its status stores after an
operation has finished; nothing is installed into the engine.  A read
that fails records ``None`` (an explicit null), never ``0``.

- :class:`StatusProbe` attributes Spark work to one operation by the
  job-id and stage-id ranges the operation created (one closed-loop
  client, so every job and stage created between two marks belongs to
  the operation, including jobs launched from helper threads that do not
  inherit the operation's job tag).  Stage data gives summed task time
  (``executorRunTime``), CPU time, GC time and bytes; the SQL status
  store gives the Python-worker timings of the operation's executions.
- :class:`Tracer` keeps spans in memory and derives per-layer self time.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

#: SQL plan metrics of the Python/Arrow operators (Spark 4.1 names).
PYTHON_METRICS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
}

STAGE_FIELDS = ("spark.stages", "spark.tasks", "spark.run_ms",
                "spark.cpu_ms", "spark.gc_ms", "spark.input_bytes",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes")

_DURATION = re.compile(r"^\s*([0-9.]+)\s*(ns|ms|s|m|min|h)\b")
_UNIT_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4,
            "h": 3.6e6}


def parse_duration_ms(text: str | None) -> float | None:
    """Milliseconds from a formatted SQL timing metric, either a plain
    ``"997 ms"`` or the task summary ``"total (min, med, max ...)\\n1.5 s
    (...)"`` form, whose total is the first figure after the newline."""
    if text is None:
        return None
    m = _DURATION.match(text.rsplit("\n", 1)[-1])
    if m is None:
        return None
    return float(m.group(1)) * _UNIT_MS[m.group(2)]


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


@dataclass
class Mark:
    """Scheduler counters and wall clock at one instant."""
    job: int
    stage: int
    execution: int
    wall_ms: float


class StatusProbe:
    """Reads the application's status stores over the Py4J gateway."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        dag = self._jsc.dagScheduler()
        return Mark(dag.nextJobId(), dag.nextStageId(),
                    self._last_execution(), time.time() * 1e3)

    def _last_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def jobs(self, a: Mark, b: Mark) -> list[tuple[int, float, float]] | None:
        """``(job id, submitted ms, completed ms)`` for each job created
        between the marks."""
        out = []
        try:
            for jid in range(a.job, b.job):
                jd = self._store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isEmpty() or done.isEmpty():
                    return None
                out.append((jid, float(sub.get().getTime()),
                            float(done.get().getTime())))
        except Exception:      # evicted from the store or gateway error
            return None
        return out

    def stages(self, a: Mark, b: Mark) -> dict[str, float] | None:
        """Summed stage data over every stage attempt created between the
        marks.  Skipped stages carry no task data and add nothing."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        empty = self._gw.jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        try:
            for sid in range(a.stage, b.stage):
                attempts = self._store.stageData(sid, False, empty, False,
                                                 quantiles)
                if attempts.size() == 0:     # evicted or never recorded
                    return None
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                        continue
                    tot["spark.stages"] += 1
                    tot["spark.tasks"] += (sd.numCompleteTasks()
                                           + sd.numFailedTasks())
                    tot["spark.run_ms"] += sd.executorRunTime()
                    tot["spark.cpu_ms"] += sd.executorCpuTime() / 1e6
                    tot["spark.gc_ms"] += sd.jvmGcTime()
                    tot["spark.input_bytes"] += sd.inputBytes()
                    tot["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    tot["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["spark.spill_bytes"] += (sd.memoryBytesSpilled()
                                                 + sd.diskBytesSpilled())
        except Exception:
            return None
        return tot

    def python(self, a: Mark, b: Mark) -> dict[str, float] | None:
        """Python-worker timings summed over the SQL executions started
        between the marks (each accumulator counted once: adaptive
        re-planning lists a node's metrics again)."""
        tot = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        try:
            n = self._sql.executionsCount()
            lo = max(0, n - max(1, b.execution - a.execution))
            batch = self._sql.executionsList(lo, n - lo)
            for i in range(batch.size()):
                ex = batch.apply(i)
                if not a.execution < ex.executionId() <= b.execution:
                    continue
                values = ex.metricValues()
                if values is None:
                    return None
                seen = set()
                metrics = ex.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    name = PYTHON_METRICS.get(m.name())
                    if name is None or m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    ms = parse_duration_ms(v.get())
                    if ms is None:
                        return None
                    tot[name] += ms
        except Exception:
            return None
        return tot


def jvm_peak_rss_mb(spark) -> float | None:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError, ValueError):
        return None
    return None


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    parent: int | None
    op: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``span()`` is a context manager that
    returns the span id; spans opened inside it get it as their
    parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    def begin_op(self) -> None:
        self.op += 1

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start_ms: float, end_ms: float,
            parent: int | None, **attrs) -> int:
        self.spans.append(Span(name, start_ms, end_ms, parent, self.op,
                               attrs))
        return len(self.spans) - 1

    def enclosing(self, t_ms: float, candidates: list[int]) -> int | None:
        """The innermost of ``candidates`` whose interval holds ``t_ms``."""
        best = None
        for sid in candidates:
            s = self.spans[sid]
            if s.start_ms <= t_ms <= s.end_ms and (
                    best is None or s.start_ms >= self.spans[best].start_ms):
                best = sid
        return best

    def self_ms(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                p = self.spans[s.parent]
                children.setdefault(s.parent, []).append(
                    (max(s.start_ms, p.start_ms), min(s.end_ms, p.end_ms)))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s.end_ms - s.start_ms) - union_ms(children.get(i, []))
            out[s.name] = out.get(s.name, 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name,
                                    "start_ms": round(s.start_ms, 3),
                                    "end_ms": round(s.end_ms, 3),
                                    "parent": s.parent, "op": s.op,
                                    **s.attrs}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self._t, self._name, self._attrs = tracer, name, attrs

    def __enter__(self) -> int:
        parent = self._t._stack[-1] if self._t._stack else None
        self.id = self._t.add(self._name, time.time() * 1e3, 0.0, parent,
                              **self._attrs)
        self._t._stack.append(self.id)
        return self.id

    def __exit__(self, *exc) -> None:
        self._t._stack.pop()
        self._t.spans[self.id].end_ms = time.time() * 1e3
