"""Measurement from outside the program: Spark status-store counters,
driver peak RSS, and the span tracer of the traced run.

Nothing here reaches into ``heatmap_spark``: counters are read from the
SparkContext's AppStatusStore between calls, and spans are recorded
around calls into the program's public functions.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
import uuid

STAGE_FIELDS = {
    # counter name → (StageData accessor, scale to the reported unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_disk_bytes": ("diskBytesSpilled", 1),
    "spill_mem_bytes": ("memoryBytesSpilled", 1),
}
COUNTERS = ("jobs", "stages", "tasks", *STAGE_FIELDS)


class StatusCounters:
    """Cumulative job/stage/task counters of one SparkContext, read from
    its AppStatusStore.  ``snapshot()`` drains the listener bus first, so
    every job that returned before the call is counted."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        gw = self._sc._gateway
        self._empty = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_stage = -1
        self._totals = dict.fromkeys(COUNTERS, 0)

    def _max_job_id(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def snapshot(self) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._jsc.statusStore().stageList(
            self._empty, False, False, self._quantiles, self._empty
        )
        newest = self._last_stage
        # stageList is ordered by descending stage id
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() != "COMPLETE":
                continue
            self._totals["stages"] += 1
            self._totals["tasks"] += s.numCompleteTasks()
            for name, (getter, scale) in STAGE_FIELDS.items():
                self._totals[name] += getattr(s, getter)() * scale
        self._last_stage = newest
        self._totals["jobs"] = self._max_job_id() + 1
        return dict(self._totals)


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver: this Python process plus the JVM
    it launched (VmHWM of each)."""

    def hwm(pid: int | str) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm("self") + hwm(spark.sparkContext._gateway.proc.pid)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def force_plan(df) -> None:
    """Plan ``df`` down to its executed physical plan without running it."""
    df._jdf.queryExecution().executedPlan()


class Tracer:
    """Spans around calls into the program, kept in memory.

    A span has a name, its layer, start and end (seconds since the
    tracer was made), its parent span and the run id, plus the status
    counter deltas over its interval.  Disabled, ``span`` is a no-op
    context and nothing is read from the status store."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counters: StatusCounters | None = None
        self._t0 = time.perf_counter()

    def bind(self, spark) -> None:
        if self.enabled:
            self._counters = StatusCounters(spark)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        before = self._counters.snapshot() if self._counters else None
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if before is not None:
                rec["counters"] = delta(self._counters.snapshot(), before)

    @contextlib.contextmanager
    def patched(self, layer: str, module: str, attr: str, **attrs):
        """Trace every call to ``module.attr`` made from inside the
        program: the wrapper replaces the function in each loaded
        ``heatmap_spark`` module that imported it by name, and the
        originals come back on exit."""
        original = getattr(sys.modules[module], attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(layer, attr, **attrs):
                return original(*args, **kwargs)

        hits = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("heatmap_spark") and getattr(m, attr, None) is original
        ]
        for m in hits:
            setattr(m, attr, traced)
        try:
            yield
        finally:
            for m in hits:
                setattr(m, attr, original)

    # -- read-out ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children's."""
        child: dict[int | None, float] = {}
        for s in self.spans:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)
