"""Spans recorded by the benchmark around its own calls into each layer.

A span has a name, start, end, parent span and op id.  While tracing is
on, every span also runs under its own Spark job group, so jobs launched
inside a call (eager jobs in a query's ``fn()``, the scans a DML face
runs) are attributed by group rather than by timestamps.  Spans stay in
memory; :meth:`Tracer.dump` writes them as JSONL when the run ends.

With tracing off, :meth:`Tracer.span` yields ``None`` and records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: per-span Spark counters, summed over the span's own job group
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "tasks_run",
    "input_records", "shuffle_read_bytes", "shuffle_write_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None
        self.timed = False

    def set_op(self, op_id: int | None) -> None:
        self._op = op_id

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"], False)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "timed": self.timed,
            **attrs,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def attach_spark_counters(self, spans: list[dict]) -> None:
        """Fill each span's Spark counters from the status store, and
        ``job_s``: the wall time its jobs ran, by Spark's own clock.
        Called after an op ends, outside its timing; waits for the
        listener bus so the last job's events are in the store."""
        if not self.enabled or not spans:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in spans:
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            stage_ids = set()
            intervals = []
            for job in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
                data = store.job(job)
                sub, end = data.submissionTime(), data.completionTime()
                if sub.isDefined() and end.isDefined():
                    intervals.append((sub.get().getTime(),
                                      end.get().getTime()))
            rec["job_s"] = _covered_ms(intervals) / 1000.0
            for sid in stage_ids:
                it = store.stageData(sid, False, None, False, None).iterator()
                while it.hasNext():
                    sd = it.next()
                    c["tasks"] += sd.numTasks()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks_run"] += sd.numCompleteTasks()
                    c["input_records"] += sd.inputRecords()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spark"] = c

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True, default=str) + "\n")


def _covered_ms(intervals) -> int:
    """Milliseconds covered by the union of ``(start, end)`` intervals:
    jobs that overlap count once."""
    total, reach = 0, None
    for lo, hi in sorted(intervals):
        if reach is None or lo > reach:
            total += hi - lo
            reach = hi
        elif hi > reach:
            total += hi - reach
            reach = hi
    return total


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    out, frontier = [root], {root["id"]}
    for s in spans:
        if s["parent"] in frontier:
            out.append(s)
            frontier.add(s["id"])
    return out


def spark_total(spans: list[dict], key: str) -> int:
    return sum(s.get("spark", {}).get(key, 0) for s in spans)
