"""Measurement from outside the engine: op clocks, spans and Spark stage totals.

(Named ``spans`` rather than ``trace`` so it cannot shadow the standard
library module of that name.)

Nothing here edits the engine. Timings come from wrapping the engine's
public functions *where they are imported*: the engine imports by name
(``from mimic_iv_etl_spark.cdc.apply import apply_batch``), so a wrapper
must replace ``cdc.replay.apply_batch`` and ``cdc.stream.apply_batch``, not
only ``cdc.apply.apply_batch``. Every patch is undone after the pass it
served, so untraced passes run the engine exactly as shipped.

- :class:`Patches` sets and restores module attributes.
- :class:`OpClock` times each call of one function (the per-operation
  latency a caller sees); it is on in every pass.
- :class:`Tracer` keeps spans in memory (name, start, end, parent, pass id)
  and derives self time: a span's duration minus the part of it that its
  child spans cover.
- :class:`SparkStats` reads stage metrics from Spark's status store, which
  works with the UI disabled.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager


class Patches:
    """Module/class attribute replacements that can all be undone."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []
        self.missing: list[str] = []

    def wrap(self, target: str, make) -> bool:
        """Replace ``module.path:attr`` (or ``module.path:Class.attr``) with
        ``make(original)``. A target the engine no longer has is recorded in
        :attr:`missing` instead of failing the run."""
        mod_name, _, attr_path = target.partition(":")
        try:
            obj = importlib.import_module(mod_name)
            *owners, attr = attr_path.split(".")
            for o in owners:
                obj = getattr(obj, o)
            original = getattr(obj, attr)
        except (ImportError, AttributeError):
            self.missing.append(target)
            return False
        self._saved.append((obj, attr, original))
        setattr(obj, attr, make(original))
        return True

    def undo(self) -> None:
        while self._saved:
            obj, attr, original = self._saved.pop()
            setattr(obj, attr, original)


class OpClock:
    """Wall time of every call made through the wrappers it hands out."""

    def __init__(self) -> None:
        self.seconds: list[float] = []
        self._lock = threading.Lock()

    def timed(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.seconds.append(dt)
        return wrapper


class Tracer:
    """In-memory span recorder.

    Structured Streaming calls ``foreachBatch`` functions on a Py4J callback
    thread while the main thread blocks in ``awaitTermination``, so each
    thread keeps its own stack, and a span opened on a thread with an empty
    stack takes the main thread's innermost open span as its parent.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.pass_id: str | None = None
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.main_thread()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"id": idx, "name": name,
                               "start": time.perf_counter(), "end": None,
                               "parent": parent, "pass": self.pass_id})
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, name: str):
        """Decorator factory for :meth:`Patches.wrap`."""
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return wrapper
        return make

    def wrap_result_method(self, method: str, name: str):
        """Decorator factory: the wrapped function returns an object whose
        ``method`` runs inside a span (e.g. the ``toPandas`` that runs the
        Spark job behind a DataFrame the engine builds and then collects)."""
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                out = fn(*args, **kwargs)
                setattr(out, method, self.wrap(name)(getattr(out, method)))
                return out
            return wrapper
        return make

    def closed(self, pass_id: str | None = None,
               within: str | None = None) -> list[dict]:
        """Finished spans of one pass; with ``within``, only the spans that
        are, or descend from, a span of that name."""
        out = []
        for s in self.spans:
            if s["end"] is None or (pass_id is not None and s["pass"] != pass_id):
                continue
            if within is not None:
                a = s
                while a is not None and a["name"] != within:
                    a = self.spans[a["parent"]] if a["parent"] is not None else None
                if a is None:
                    continue
            out.append(s)
        return out

    def self_times(self, pass_id: str | None = None,
                   within: str | None = None) -> dict[str, float]:
        """Σ self time per span name: duration minus the union of the
        intervals its direct children cover."""
        spans = self.closed(pass_id, within)
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
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
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def totals(self, pass_id: str | None = None,
               within: str | None = None) -> dict[str, tuple[int, float]]:
        """(calls, Σ duration) per span name."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.closed(pass_id, within):
            n, t = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (n + 1, t + s["end"] - s["start"])
        return out

    def dump(self) -> list[dict]:
        """Spans with times relative to the first span, for writing out."""
        spans = self.closed()
        t0 = min((s["start"] for s in spans), default=0.0)
        return [{"name": s["name"], "start": round(s["start"] - t0, 6),
                 "end": round(s["end"] - t0, 6), "parent": s["parent"],
                 "pass": s["pass"]} for s in spans]


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "tasks": ("numTasks", 1),
}


class SparkStats:
    """Stage totals for everything that ran since the last call.

    Jobs started inside a ``foreachBatch`` callback carry a Py4J call site,
    not the engine's, so stages are attributed to layers by *when* they ran
    (between two :meth:`collect` calls), not by call site."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm
        self._stage_hwm = -1
        self._job_hwm = -1

    def collect(self) -> dict:
        """Σ of each stage metric over the stages that completed since the
        last call, with the number of those stages and of new jobs."""
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        stages = self._store.stageList(self._jvm.java.util.ArrayList(), False,
                                       False, empty, self._jvm.java.util.ArrayList())
        total = {k: 0 for k in _STAGE_FIELDS} | {"stages": 0}
        hwm = self._stage_hwm
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage_hwm or s.status().toString() == "SKIPPED":
                continue
            hwm = max(hwm, sid)
            for key, (getter, scale) in _STAGE_FIELDS.items():
                total[key] += getattr(s, getter)() * scale
            total["stages"] += 1
        self._stage_hwm = hwm
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        ids = [jobs.apply(i).jobId() for i in range(jobs.size())]
        total["jobs"] = sum(j > self._job_hwm for j in ids)
        self._job_hwm = max(ids, default=self._job_hwm)
        return total


def add_totals(acc: dict, new: dict) -> dict:
    for k, v in new.items():
        acc[k] = acc.get(k, 0) + v
    return acc
