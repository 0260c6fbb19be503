"""Layer tracing from outside the engine.

The engine is not changed. Spans are recorded around calls into the
public functions of its modules, by replacing module attributes with
pass-through wrappers (every call site reaches them through the module
attribute), and Spark's own counters are read from its status stores
after each query. Spans live in memory and are summarised per query.

A span's self time is its duration minus the time of its direct child
spans. Only spans on the thread that installed the tracer are recorded;
time spent in other threads lands in the enclosing span.
"""

from __future__ import annotations

import functools
import re
import threading
import time
import types
from collections import Counter, defaultdict
from contextlib import contextmanager


class _Span:
    __slots__ = ("layer", "parent", "t0", "t1", "child_s")

    def __init__(self, layer: str, parent: _Span | None):
        self.layer, self.parent, self.child_s = layer, parent, 0.0
        self.t0 = self.t1 = time.perf_counter()


class Tracer:
    """Records spans while ``active``; wrappers pass straight through
    otherwise. Patches made by the ``wrap*`` methods are undone by
    ``close``."""

    def __init__(self) -> None:
        self.active = False
        self._thread = threading.get_ident()
        self._stack: list[_Span] = []
        self._spans: list[_Span] = []
        self._counts: Counter[str] = Counter()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        if not self.active or threading.get_ident() != self._thread:
            yield
            return
        s = _Span(layer, self._stack[-1] if self._stack else None)
        self._stack.append(s)
        try:
            yield
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if s.parent is not None:
                s.parent.child_s += s.t1 - s.t0
            self._spans.append(s)

    def count(self, name: str) -> None:
        if self.active:
            self._counts[name] += 1

    def start_trace(self) -> None:
        self._spans.clear()
        self._counts.clear()
        self.active = True

    def end_trace(self) -> tuple[dict[str, float], dict[str, int]]:
        """Stop recording; return ({layer: self seconds}, counts), where
        counts holds ``<layer>.calls`` (calls entering the layer from
        another one) and every ``count()`` name."""
        self.active = False
        self_s: dict[str, float] = defaultdict(float)
        counts: Counter[str] = Counter(self._counts)
        for s in self._spans:
            self_s[s.layer] += (s.t1 - s.t0) - s.child_s
            if s.parent is None or s.parent.layer != s.layer:
                counts[f"{s.layer}.calls"] += 1
        return dict(self_s), dict(counts)

    # -- patches -------------------------------------------------------
    def _patch(self, owner: object, attr: str, new: object) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner: object, attr: str, layer: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(layer):
                return original(*args, **kwargs)

        self._patch(owner, attr, traced)

    def wrap_module(self, module: types.ModuleType, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for name, fn in list(vars(module).items()):
            if (
                isinstance(fn, types.FunctionType)
                and not name.startswith("_")
                and fn.__module__ == module.__name__
            ):
                self.wrap(module, name, layer)

    def wrap_stamp_ensure(self, stamp_module: types.ModuleType) -> None:
        """``stamp.ensure`` as the ``sources.stamp`` layer, counting the
        calls that actually run the layout ``build`` callback."""
        original = stamp_module.ensure

        @functools.wraps(original)
        def ensure(layout_dir, src_path, version, build, valid=None):
            if not self.active:
                return original(layout_dir, src_path, version, build, valid)

            def counted_build():
                self.count("sources.stamp.builds")
                return build()

            with self.span("sources.stamp"):
                return original(layout_dir, src_path, version, counted_build, valid)

        self._patch(stamp_module, "ensure", ensure)

    def close(self) -> None:
        self.active = False
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# -- Spark status stores ----------------------------------------------

def set_job_group(spark, tag: str | None) -> None:
    """Label the following jobs (and SQL executions) with ``tag``."""
    sc = spark.sparkContext
    if tag is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(tag, tag)


def stage_stats(spark, group: str) -> dict[str, float]:
    """Jobs, completed stages, tasks, shuffle-write and spill bytes and
    executor run time of the jobs in ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        seq = store.job(jid).stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0}
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its output was reused from an earlier job
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
    return out


_PY_METRICS = {
    "time to start Python workers": "worker_start_s",
    "time to run Python workers": "worker_run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric total ('1.4 s', '681 ms', '160.2 KiB', or
    the 'total (min, med, max ...)' form) in seconds or bytes."""
    total = text.strip().splitlines()[-1].split(" (")[0]
    number, unit = total.split()
    return float(number.replace(",", "")) * _UNITS[unit]


class SqlMetricsReader:
    """Python-worker metrics of the SQL executions whose description
    starts with a tag; each execution is read once."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = int(self._store.executionsCount())

    def python_stats(self, tag: str) -> dict[str, float]:
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        count = int(self._store.executionsCount())
        # Old executions may be evicted (spark.sql.ui.retainedExecutions),
        # which shifts offsets; read a margin and filter by tag.
        start = max(0, min(self._seen, count) - 50)
        execs = self._store.executionsList(start, count - start)
        self._seen = count
        acc_seen: set[int] = set()
        for i in range(execs.size()):
            e = execs.apply(i)
            if not (e.description() or "").startswith(tag):
                continue
            values = None
            for name, acc, _kind in _PLAN_METRIC.findall(e.metrics().toString()):
                key = _PY_METRICS.get(name)
                if key is None or int(acc) in acc_seen:
                    continue
                acc_seen.add(int(acc))  # one plan node may be listed twice
                if values is None:
                    values = self._store.executionMetrics(e.executionId())
                v = values.get(int(acc))
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` and return its Catalyst phase times in ms. Planning
    happens again when the query runs; this call is tracing cost."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def streaming_listener():
    """A StreamingQueryListener that records each micro-batch's
    duration in seconds in its ``batches`` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[float] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batches.append(event.progress.batchDuration / 1000.0)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchListener()
