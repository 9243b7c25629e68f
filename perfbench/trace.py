"""Per-layer tracing for the benchmark's traced runs.

Everything here observes the engine from outside: spans are opened by
the benchmark around its calls into the engine's public functions, or
by wrappers it installs on those functions for the traced run only,
and Spark's own counters are read from the status stores after each
operation. Nothing inside the engine package is modified.

- ``Tracer`` keeps spans in memory: name, start, end, parent span and
  the operation (query or tick) they belong to. Self time is a span's
  duration minus the part of it its children cover.
- ``SparkCounters`` reads jobs, stages, tasks, executor time, bytes
  and Python-worker metrics for one job group from the status stores
  (the Spark UI is disabled, the stores are not).
- ``RssSampler`` samples the resident memory of this process and all
  of its descendants (the JVM and its Python workers).
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder with function wrapping.

    ``op`` is the id of the current operation; every span opened while
    it is set carries it, so the spans of one query or tick can be
    grouped. Wrapped functions open a span per call and restore the
    original function on ``unwrap_all``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._next = 0
        self._originals: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, parent, self.op, name, time.perf_counter(), attrs=attrs)
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def wrap(self, module, attr: str, name: str, size=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        per call; ``size(result)`` (optional) is stored as ``n``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if size is not None:
                    s.attrs["n"] = size(out)
                return out

        self._originals.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def wrap_lock(self, module, attr: str, name: str) -> None:
        """Wrap a function returning a context manager (a lock): the
        span covers only the acquisition, i.e. the time spent waiting."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        @contextmanager
        def wrapper(*args, **kwargs):
            cm = fn(*args, **kwargs)
            with tracer.span(name):
                value = cm.__enter__()
            try:
                yield value
            except BaseException as exc:
                if not cm.__exit__(type(exc), exc, exc.__traceback__):
                    raise
            else:
                cm.__exit__(None, None, None)

        self._originals.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._originals):
            setattr(module, attr, fn)
        self._originals.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (children are clipped to the parent's interval)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            kids = sorted(
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, [])
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in kids:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = s.duration - covered
        return out

    def by_name(self, op: int | None = None) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, self seconds and the
        summed ``n`` attribute, over one op or over all spans."""
        selfs = self.self_times()
        agg: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if op is not None and s.op != op:
                continue
            a = agg.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "n": 0})
            a["calls"] += 1
            a["s"] += s.duration
            a["self_s"] += selfs[s.id]
            a["n"] += s.attrs.get("n", 0)
        return agg


# --- Spark status stores ---------------------------------------------------

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A SQL metric's display string as a number in seconds, bytes or
    rows: ``"1,234"``, ``"7.6 s"`` or the ``"total (min, med, max
    ...)\\n7.6 s (...)"`` form, whose total is the second line."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_init_s",
    "time to initialize Python workers": "python.boot_init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkCounters:
    """Reads what Spark recorded about one job group.

    Operations set a fresh job group before they run; afterwards
    ``drain`` waits for the listener bus so the stores hold every
    finished stage, and ``group_stats`` sums the group's stages."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def executions(self) -> int:
        return self.sql.executionsCount()

    def group_stats(self, group: str, wall: tuple[float, float] | None = None) -> dict:
        """Counters over every job of ``group``. ``wall`` (epoch
        seconds) turns the stage intervals into ``idle_s``: the part
        of the wall interval no running stage covers."""
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        st = dict.fromkeys((
            "stages", "tasks", "task_retries", "executor_run_s", "executor_cpu_s",
            "gc_s", "input_bytes", "input_rows", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes"), 0.0)
        st["jobs"] = len(jobs)
        intervals = []
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - never submitted (skipped)
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            st["stages"] += 1
            st["tasks"] += sd.numTasks()
            st["task_retries"] += sd.numFailedTasks() + sd.attemptId()
            st["executor_run_s"] += sd.executorRunTime() / 1e3
            st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            st["gc_s"] += sd.jvmGcTime() / 1e3
            st["input_bytes"] += sd.inputBytes()
            st["input_rows"] += sd.inputRecords()
            st["shuffle_read_bytes"] += sd.shuffleReadBytes()
            st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, comp = _opt(sd.submissionTime()), _opt(sd.completionTime())
            if sub is not None and comp is not None:
                intervals.append((sub.getTime() / 1e3, comp.getTime() / 1e3))
        if wall is not None:
            lo, hi = wall
            covered, cur = 0.0, None
            for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            st["idle_s"] = max(0.0, (hi - lo) - covered)
        return st

    def python_stats(self, first_execution: int) -> dict:
        """Python-worker metrics of every SQL execution from
        ``first_execution`` on, read off the plan-graph nodes that
        carry them (deduplicated by accumulator)."""
        out = {"python.total_s": 0.0, "python.boot_init_s": 0.0,
               "python.bytes_sent": 0.0, "python.bytes_received": 0.0,
               "python.rows": 0.0}
        count = self.sql.executionsCount()
        if count <= first_execution:
            return out
        it = self.sql.executionsList(first_execution, count - first_execution).iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            seen = set()
            nodes = self.sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                metrics = []
                mit = node.metrics().iterator()
                while mit.hasNext():
                    metrics.append(mit.next())
                if not any(m.name() in PYTHON_METRICS for m in metrics):
                    continue
                for m in metrics:
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue
                    seen.add(acc)
                    key = PYTHON_METRICS.get(m.name())
                    if key is None and m.name() == "number of output rows":
                        key = "python.rows"
                    if key is not None:
                        out[key] += parse_metric(_opt(values.get(acc)))
        return out

    def cache_stats(self) -> dict:
        rdds = self.store.rddList(True)
        cached = 0
        it = rdds.iterator()
        while it.hasNext():
            r = it.next()
            cached += r.memoryUsed() + r.diskUsed()
        return {"cache.persisted_rdds": float(self.sc._jsc.getPersistentRDDs().size()),
                "cache.cached_bytes": float(cached)}


# --- memory ----------------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants."""
    parents: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        parents[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


RSS_INTERVAL_S = 0.25


class RssSampler:
    """Background sampler of the process tree's resident memory, every
    ``RSS_INTERVAL_S``."""

    def __init__(self, on_sample=None) -> None:
        self.on_sample = on_sample
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self.on_sample is not None:
                self.on_sample()
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
