"""Per-call spans and per-layer counters, recorded from outside the engine.

Nothing here changes engine code. A traced run wraps the engine's module
functions at their binding sites (``wrap_functions``) and reads Spark's
own status stores after each call (``Tracer.call``). Spans stay in memory
and are written out when the run ends.

Per call, four wall-clock parts add up to the call's wall time:

- ``queries.build_s``: time inside the registry callable or the streaming
  pipeline, minus the job time that falls inside it;
- ``catalyst.plan_s``: optimisation and physical planning of the returned
  DataFrame, forced explicitly so it can be timed;
- ``scheduler.job_s``: the union of the intervals of every Spark job the
  call launched;
- ``driver.gap_s``: the remainder (action setup, result handling, Python).
"""

from __future__ import annotations

import functools
import re
import sys
import time
from contextlib import contextmanager

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ns|us|ms|s|min|h)?\b")

# SQL metric name (as Spark's Python exec nodes label it) -> our counter.
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``"12.0 KiB"``, or the first line
    of ``"total (min, med, max)\\n3.2 s (...)"``), in bytes or seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = _TOTAL.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


def _opt(o):
    """Scala ``Option`` -> Python value or None."""
    return o.get() if o.isDefined() else None


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """In-memory span log with a parent stack; self time is a span's
    duration minus the time its direct children cover."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[dict] = []
        self.call_id: str | None = None
        self.job_counter = None  # () -> next Spark job id, when tracing
        self.active = True

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield {}
            return
        rec = {
            "call": self.call_id,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.records),
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        if self.job_counter is not None:
            rec["job0"] = self.job_counter()
        self.records.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            dur = rec["end"] - rec["start"]
            rec["self_s"] = dur - rec["child_s"]
            if "job0" in rec:
                rec["jobs"] = self.job_counter() - rec["job0"]
            if self._stack:
                self._stack[-1]["child_s"] += dur


def wrap_functions(spans: Spans, mod, layer: str, names=None) -> None:
    """Wrap the public functions defined in module ``mod`` with spans of
    ``layer``, and rebind them in every loaded engine module that imported
    them by name."""
    module_name = mod.__name__
    for attr, fn in list(vars(mod).items()):
        if attr.startswith("_") or not callable(fn) or isinstance(fn, type):
            continue
        if getattr(fn, "__module__", None) != module_name:
            continue
        if names is not None and attr not in names:
            continue

        def make(fn=fn, attr=attr):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with spans.span(layer, attr):
                    return fn(*args, **kwargs)

            return traced

        new = make()
        for other in list(sys.modules.values()):
            if getattr(other, "__name__", "").startswith("gelly_streaming_spark"):
                if getattr(other, attr, None) is fn:
                    setattr(other, attr, new)


def wrap_method(spans: Spans, owner, attr: str, layer: str, rows=None) -> None:
    """Wrap ``owner.attr`` (a class or module attribute) with a span;
    ``rows(result)`` adds a row count."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with spans.span(layer, attr) as rec:
            out = fn(*args, **kwargs)
            if rows is not None:
                rec["rows"] = rows(out)
            return out

    setattr(owner, attr, traced)


class Tracer:
    """Times each call; in traced mode also attributes jobs, stages and
    SQL executions to it and records spans.

    Jobs are attributed by id range (ids are sequential per context and a
    single client thread issues the calls), which also catches the jobs
    that streaming queries run on their own threads, outside the caller's
    job group.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.spans = Spans()
        self.calls: list[dict] = []
        self._n = 0
        self.enabled = enabled
        if enabled:
            jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
            self._dag = jsc.dagScheduler()
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
            self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
            self.spans.job_counter = self._next_job

    def set_enabled(self, on: bool) -> None:
        """Switch attribution and spans on or off between passes."""
        self.enabled = on
        self.spans.active = on

    def _java(self, scala_collection):
        """Scala collection -> iterable Java collection (py4j)."""
        return self._conv.asJava(scala_collection)

    def _next_job(self) -> int:
        nxt = self._dag.nextJobId()  # an AtomicInteger, or an int accessor
        return nxt if isinstance(nxt, int) else nxt.get()

    @contextmanager
    def call(self, name: str, phase: str):
        """Time one call; yields a dict the caller fills with
        ``build_s`` / ``plan_s`` / ``catalyst`` parts (traced mode)."""
        self._n += 1
        rec = {"id": f"c{self._n:05d}", "name": name, "phase": phase, "ok": True}
        if self.enabled:
            self.spark.sparkContext.setJobGroup(rec["id"], f"{phase}:{name}")
            self.spans.call_id = rec["id"]
            rec["job0"] = self._next_job()
            rec["sql0"] = self._sql.executionsCount()
        rec["t0_epoch"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as exc:
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["t1_epoch"] = rec["t0_epoch"] + rec["wall_s"]
            if self.enabled:
                rec["job1"] = self._next_job()
                self.spans.call_id = None
                self.spark.sparkContext.setJobGroup("", "")
                self._attribute(rec)
            self.calls.append(rec)

    def _job_data(self, job_id: int, deadline: float):
        while True:
            try:
                job = self._store.job(job_id)
                if _opt(job.completionTime()) is not None:
                    return job
            except Exception:  # py4j: not yet in the store
                job = None
            if time.time() > deadline:
                return job
            time.sleep(0.01)

    def _attribute(self, rec: dict) -> None:
        deadline = time.time() + 5.0
        intervals, stages = [], set()
        for jid in range(rec["job0"], rec["job1"]):
            job = self._job_data(jid, deadline)
            if job is None:
                continue
            start = _opt(job.submissionTime())
            end = _opt(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start.getTime() / 1e3, end.getTime() / 1e3))
            stages.update(int(s) for s in self._java(job.stageIds()))
        window = (rec["t0_epoch"], rec["t1_epoch"])
        clipped = [
            (max(s, window[0]), min(e, window[1])) for s, e in intervals if e > window[0]
        ]
        rec["jobs"] = rec["job1"] - rec["job0"]
        rec["job_s"] = min(rec["wall_s"], merged_length(clipped))
        if "build_window" in rec:
            b0, b1 = rec["build_window"]
            inside = [(max(s, b0), min(e, b1)) for s, e in clipped if e > b0 and s < b1]
            rec["build_job_s"] = merged_length(inside)
        counters = dict.fromkeys(
            ("tasks", "run_s", "cpu_s", "gc_s", "read_bytes", "write_bytes", "spill_bytes"),
            0.0,
        )
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            counters["tasks"] += st.numCompleteTasks()
            counters["run_s"] += st.executorRunTime() / 1e3
            counters["cpu_s"] += st.executorCpuTime() / 1e9
            counters["gc_s"] += st.jvmGcTime() / 1e3
            counters["read_bytes"] += st.shuffleReadBytes()
            counters["write_bytes"] += st.shuffleWriteBytes()
            counters["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec["stages"] = len(stages)
        rec.update(counters)
        rec.update(self._python_metrics(rec["sql0"]))

    def _python_metrics(self, first: int) -> dict:
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        n = self._sql.executionsCount() - first
        if n <= 0:
            return out
        for ex in self._java(self._sql.executionsList(first, n)):
            wanted = {}
            for m in self._java(ex.metrics()):
                key = PYTHON_METRICS.get(m.name())
                if key is not None:
                    wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            values = self._java(self._sql.executionMetrics(ex.executionId()))
            for acc in values.keySet():
                key = wanted.get(int(acc))
                if key is not None:
                    out[key] += parse_metric(values.get(acc))
        return out
