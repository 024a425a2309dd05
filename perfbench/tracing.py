"""Spans recorded from outside the engine, plus Spark status-store readers.

The benchmark adds no tracing inside ``snapflow_spark``: it wraps the
public functions of each layer (module attributes and class methods)
with a recorder, and reads stage and SQL metrics from Spark's own status
stores after each traced pass.

A span has a name, start, end and parent index. Spans stay in memory and
are written out once, at the end of the run. A layer's self time is its
span's duration minus the part covered by its children.

Wrappers must survive pickling into Python workers: a wrapped function
captured by a UDF closure is pickled by value, so the wrapper closes
only over the original function and a layer name, and looks up the
recorder through this module (importable on workers, where no trace is
active and the wrapper just calls through).
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from collections import defaultdict

_ACTIVE: "Tracer | None" = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []  # name, t0, t1, parent
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self.enabled = False

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        name, t0, _t1, parent = self.spans[idx]
        self.spans[idx] = (name, t0, time.perf_counter(), parent)
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def mark(self) -> int:
        return len(self.spans)

    def self_times(self, start: int = 0, end: int | None = None) -> dict[str, float]:
        """Per span name: summed self time of spans[start:end]."""
        end = len(self.spans) if end is None else end
        child: dict[int, float] = defaultdict(float)
        for name, t0, t1, parent in self.spans[start:end]:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i in range(start, end):
            name, t0, t1, _p = self.spans[i]
            out[name] += max(0.0, (t1 - t0) - child.get(i, 0.0))
        return out

    def totals(self, start: int = 0, end: int | None = None) -> dict[str, float]:
        """Per span name: summed inclusive duration of spans[start:end]."""
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, _p in self.spans[start:end]:
            out[name] += t1 - t0
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1, "parent": parent}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer.close(self.idx)
        return False


def activate(tracer: Tracer | None) -> None:
    global _ACTIVE
    _ACTIVE = tracer


def _call(layer, fn, args, kwargs, on_result):
    tr = _ACTIVE
    if tr is None or not tr.enabled:
        return fn(*args, **kwargs)
    idx = tr.open(layer)
    try:
        result = fn(*args, **kwargs)
    finally:
        tr.close(idx)
    if on_result is not None:
        on_result(tr, result)
    return result


def wrap(fn, layer: str, on_result=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return _call(layer, fn, args, kwargs, on_result)

    traced.__perfbench_original__ = fn
    return traced


def _plain_function(obj, prefix: str) -> bool:
    return (
        inspect.isfunction(obj)
        and getattr(obj, "__module__", "").startswith(prefix)
        and not obj.__name__.startswith("_")
        and "<locals>" not in obj.__qualname__
        and not hasattr(obj, "__perfbench_original__")
    )


def instrument_packages(layers: dict[str, str]) -> int:
    """Wrap every public module-level function defined under each
    package prefix in ``layers`` (prefix -> span name), in EVERY loaded
    ``snapflow_spark`` module that binds it — ``from x import f``
    copies the reference, so patching the defining module alone would
    miss most call sites. Returns the number of bindings replaced."""
    wrapped: dict[int, object] = {}
    replaced = 0
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("snapflow_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            for prefix, layer in layers.items():
                if _plain_function(obj, prefix):
                    w = wrapped.get(id(obj))
                    if w is None:
                        w = wrapped[id(obj)] = wrap(obj, layer)
                    setattr(mod, attr, w)
                    replaced += 1
                    break
    return replaced


def instrument_function(module, attr: str, layer: str, on_result=None) -> None:
    """Wrap one function and rebind it wherever a loaded snapflow_spark
    module holds a reference to it."""
    orig = getattr(module, attr)
    w = wrap(orig, layer, on_result)
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("snapflow_spark") and mod is not None:
            for name, obj in list(vars(mod).items()):
                if obj is orig:
                    setattr(mod, name, w)


def instrument_method(cls, attr: str, layer: str, on_result=None) -> None:
    setattr(cls, attr, wrap(getattr(cls, attr), layer, on_result))


# --- Spark status stores -------------------------------------------------

_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "shuffleFetchWaitTime",
    "diskBytesSpilled",
)


class SparkCounters:
    """Reads job durations (``AppStatusStore.jobsList``), per-stage task
    metrics (``AppStatusStore.stageList``) and per-execution SQL metrics
    (``sharedState().statusStore()``) for the jobs / stages / executions
    created since the last ``mark``. The stores are populated with
    ``spark.ui.enabled=false``. Read after each traced pass: they retain
    a bounded number of jobs/stages/executions."""

    PYTHON_METRICS = {
        "time to run Python workers": "python.run_s",
        "time to start Python workers": "python.start_s",
        "time to initialize Python workers": "python.init_s",
        "data sent to Python workers": "python.sent_mb",
        "data returned from Python workers": "python.recv_mb",
    }

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._app_store = sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._job_mark = -1
        self._stage_mark = -1
        self._exec_mark = -1

    def _jobs(self):
        return self._app_store.jobsList(self._jvm.java.util.ArrayList())

    def _stages(self):
        j = self._jvm
        return self._app_store.stageList(
            j.java.util.ArrayList(), False, False,
            self._gw.new_array(j.double, 0), j.java.util.ArrayList(),
        )

    def mark(self) -> None:
        self._job_mark = max((j.jobId() for j in self._iter(self._jobs())), default=-1)
        ids = [s.stageId() for s in self._iter(self._stages())]
        self._stage_mark = max(ids, default=-1)
        execs = [e.executionId() for e in self._iter(self._sql_store.executionsList())]
        self._exec_mark = max(execs, default=-1)

    @staticmethod
    def _iter(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def read(self) -> dict[str, float]:
        """Sums over the jobs, stages and SQL executions created since mark()."""
        out: dict[str, float] = defaultdict(float)
        new_job = -1
        for j in self._iter(self._jobs()):
            jid = j.jobId()
            new_job = max(new_job, jid)
            start, end = j.submissionTime(), j.completionTime()
            if jid <= self._job_mark or not (start.isDefined() and end.isDefined()):
                continue
            out["jobs"] += 1
            out["job_s"] += (end.get().getTime() - start.get().getTime()) / 1e3
        new_stage = -1
        for s in self._iter(self._stages()):
            sid = s.stageId()
            new_stage = max(new_stage, sid)
            if sid <= self._stage_mark or s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            for f in _STAGE_FIELDS:
                out[f] += getattr(s, f)()
        new_exec = -1
        for e in self._iter(self._sql_store.executionsList()):
            eid = e.executionId()
            new_exec = max(new_exec, eid)
            if eid <= self._exec_mark:
                continue
            values = self._sql_store.executionMetrics(eid)
            seen: set[int] = set()
            for m in self._iter(e.metrics()):
                key = self.PYTHON_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        self._job_mark = max(self._job_mark, new_job)
        self._stage_mark = max(self._stage_mark, new_stage)
        self._exec_mark = max(self._exec_mark, new_exec)
        return dict(out)


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('583 ms', '8.5 KiB', or the multi-task
    'total (min, med, max ...)\\n3.9 s (...)' form) -> seconds or MiB."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
