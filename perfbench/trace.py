"""In-memory spans and Spark engine counters for the traced run.

A span is recorded around each call the benchmark makes into one of the
program's layers (``session``, ``sources``, ``plans``, ``queries``,
``queries_llm``, ``streaming``): name, layer, start, end, parent and the
id of the operation (query or micro-batch) it belongs to. Spans stay in
memory and are written as one JSON file when the run ends. A layer's self
time is a span's duration minus the time its child spans cover.

Spark's own counters come from the engine: jobs, stages and tasks per
operation via a job group and ``statusTracker``, and executor run, CPU and
GC time, shuffle and spill per stage from the application status store.
All of them read correctly with ``spark.ui.enabled=false``.

When tracing is off, ``Tracer.span`` and ``Tracer.operation`` still run the
wrapped code but record nothing, so the untraced run pays only a context
manager per call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        # seconds spent reading counters: the tracing overhead
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def operation(self, spark, op_id: str) -> Iterator[dict]:
        """Scope one operation: its spans share ``op_id`` and, when
        tracing, its Spark jobs run in job group ``op_id`` and their
        counters land in the yielded dict once the block ends."""
        counters: dict = {}
        if not self.enabled:
            yield counters
            return
        sc = spark.sparkContext
        self._op = op_id
        sc.setJobGroup(op_id, op_id)
        try:
            yield counters
        finally:
            self._op = None
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            counters.update(spark_counters(spark, op_id))
            self.overhead_s += time.perf_counter() - t0

    def self_seconds(self) -> dict[str, float]:
        """Sum of self time per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, child):
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - c
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
            if s["end"] is not None
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_seconds()}, f)


_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_mb", 1 / 2**20),
    ("memoryBytesSpilled", "spill_mb", 1 / 2**20),
    ("diskBytesSpilled", "spill_mb", 1 / 2**20),
)


def _stage_data(spark, stage_id: int) -> list:
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    seq = store.stageData(stage_id, False, empty, False, quantiles)
    return [seq.apply(i) for i in range(seq.size())]


def spark_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group."""
    tracker = spark.sparkContext.statusTracker()
    out = defaultdict(float)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            out["stages"] += 1
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                out["tasks"] += stage.numTasks
            for data in _stage_data(spark, sid):
                for field, key, scale in _STAGE_FIELDS:
                    out[key] += getattr(data, field)() * scale
    out["executor_wait_s"] = out["executor_run_s"] - out["executor_cpu_s"]
    return dict(out)


def cached_mb(spark) -> float:
    """Storage memory still held by persisted relations."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 2**20
