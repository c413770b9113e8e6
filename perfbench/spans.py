"""Spans around calls into the engine's layers, with Spark's own counters.

Each span records name, start, end, parent and run id, and sets a Spark
job group for its duration, so every job the layer launches is tagged
with the span. When the span ends the tracer waits for Spark's listener
bus to drain and reads the stage counters of the span's own jobs from
the status store (they are gone once ``spark.ui.retainedStages`` more
stages have run). Jobs of nested spans carry the nested span's group,
so the counters on a span are its self counters.

Everything is read from outside the package: ``statusTracker`` for the
job → stage mapping and ``AppStatusStore.stageData`` for run time, CPU
time, GC time, input records, shuffle bytes and spill. Spans live in
memory until the run ends and its report is written.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

#: per-span Spark counters, summed over the span's stages
COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "input_records", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        #: seconds spent in the tracer's own bookkeeping (job groups,
        #: draining the listener bus, reading counters)
        self.overhead_s = 0.0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        span = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{sid}",
            **attrs,
        }
        stack.append(span)
        t0 = time.perf_counter()
        self._set_group(span)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t0
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            span.update(self.counters(span["group"]))
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - span["end"]

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned version; returns the undo."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, fn)

    def counters(self, group: str) -> dict:
        """Stage counters of the jobs tagged ``group``."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                attempts = self._store.stageData(
                    stage_id, False, self._no_status, False, self._no_quantiles
                )
                if attempts.size():
                    out["stages"] += 1
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    out["tasks"] += sd.numCompleteTasks()
                    out["task_run_s"] += sd.executorRunTime() / 1e3
                    out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["input_records"] += sd.inputRecords()
                    out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return out

    # -- aggregation -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the part its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def totals(self, pick=lambda s: True) -> dict:
        """Self time and Spark counters summed over the picked spans."""
        selfs = self.self_times()
        out = dict.fromkeys(COUNTERS, 0)
        out["self_s"] = 0.0
        for s in self.spans:
            if pick(s):
                out["self_s"] += selfs[s["id"]]
                for k in COUNTERS:
                    out[k] += s[k]
        return out

    def span_records(self) -> list[dict]:
        """Finished spans in start order, each with its self time."""
        selfs = self.self_times()
        return [
            {**{k: v for k, v in s.items() if k != "group"}, "self_s": selfs[s["id"]]}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``'s own query
    execution, from its ``QueryPlanningTracker`` (plans it if needed)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total / 1e3
