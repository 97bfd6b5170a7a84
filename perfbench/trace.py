"""Spans and Spark counters for the traced run.

Every call the benchmark makes into an engine layer runs inside a
:meth:`Tracer.span`. A span records its name, layer, kind (``build`` or
``exec``), start, end, parent span and pass id. Layer spans also give
Spark a fresh job group, and once the call returns the tracer reads that
group's jobs from ``statusTracker()`` and their stage metrics from the
JVM status store (``sc._jsc.sc().statusStore()``), which keeps working
with the Spark UI disabled.

A stage is charged to the first group that contains it. A later job that
reuses its shuffle output lists the same stage as skipped, and charging
the stage again would count its tasks twice.

Spans stay in memory and are written as JSON lines by :meth:`write`.
With tracing off every span is a no-op. With tracing on, the time spent
in span bookkeeping (job groups, counter reads) is measured and reported
as the tracing overhead; it is excluded from the self time of the spans
that enclose it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
    "output_bytes",
)
_TERMINAL = ("SUCCEEDED", "FAILED")


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()
        self._next_id = 0
        self.pass_id: int | None = None
        self.overhead_s = 0.0  # time spent in span bookkeeping, outside the traced calls

    @contextmanager
    def span(self, name: str, layer: str | None = None, kind: str | None = None):
        """Time one call. ``layer`` marks a call into an engine layer: it
        gets its own job group and its Spark counters."""
        if not self.enabled:
            yield
            return
        entered = time.perf_counter()
        span_id = self._next_id
        self._next_id += 1
        rec = {
            "id": span_id,
            "name": name,
            "layer": layer,
            "kind": kind,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_id,
        }
        group = f"perfbench-{span_id}"
        if layer is not None:
            self._sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if layer is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                rec.update(self._counters(group))
            self.spans.append(rec)
            own = (rec["start"] - entered) + (time.perf_counter() - rec["end"])
            self.overhead_s += own
            # the parent's interval contains this bookkeeping, outside this
            # span's own interval: it is tracing cost, not the parent's time
            if self._stack:
                parent = self._stack[-1]
                parent["child_bookkeeping"] = parent.get("child_bookkeeping", 0.0) + own

    def _counters(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        deadline = time.perf_counter() + 5.0
        while True:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is None or i.status in _TERMINAL for i in infos):
                break
            if time.perf_counter() > deadline:
                break
            time.sleep(0.002)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        store = self._sc._jsc.sc().statusStore()
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never submitted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["tasks"] += sd.numCompleteTasks()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    and minus the tracer's bookkeeping around those children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered - s.get("child_bookkeeping", 0.0)
    return out
