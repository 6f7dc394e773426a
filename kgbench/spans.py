"""Spans and Spark counters for the traced run.

A span records (name, layer, start, end, parent, run id) around one call
into a layer's public function. Every span gets its own Spark job group,
so the jobs it submits — and through them their stages' task counters in
the status store — are attributed to exactly one span. A child span
switches the group and the parent's group is restored on exit, so a
parent keeps only its own jobs (its self share). Spans live in memory and
are written as JSONL once, at the end of the run.

Both counter sources work with the Spark UI disabled: job ids per group
from ``statusTracker()``, per-stage task metrics from the driver's
AppStatusStore through py4j.
"""

from __future__ import annotations

import contextlib
import json
import time

COUNTERS = ("self_s", "cpu_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes",
            "rows_out", "failed_tasks")


def stage_counters(sc) -> dict[int, dict]:
    """Task counters of every stage the status store holds, by stage id."""
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    by_stage: dict[int, dict] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        c = by_stage.setdefault(s.stageId(), {"tasks": 0, "cpu_s": 0.0,
                                              "shuffle_bytes": 0, "spill_bytes": 0,
                                              "failed_tasks": 0})
        c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        c["cpu_s"] += s.executorCpuTime() / 1e9
        c["shuffle_bytes"] += s.shuffleWriteBytes()
        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        c["failed_tasks"] += s.numFailedTasks()
    return by_stage


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # time spent in this class's own bookkeeping inside traced calls
        # (job-group switches); the traced run's overhead_s metric is wider
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Yields the span record; the caller may set ``rec["rows_out"]``."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id, "group": f"{self.run_id}-{len(self.spans)}",
            "rows_out": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_seconds(self, rec: dict) -> float:
        children = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return (rec["end"] - rec["start"]) - children

    def collect_counters(self) -> None:
        """Attach job and task counters to every span (call once, after
        the traced work, while the status store still holds the stages)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        by_stage = stage_counters(sc)
        keys = ("tasks", "cpu_s", "shuffle_bytes", "spill_bytes", "failed_tasks")
        owner: dict[int, dict] = {}
        for rec in self.spans:
            rec.update(dict.fromkeys(keys, 0), jobs=0)
            for j in tracker.getJobIdsForGroup(rec["group"]):
                owner[j] = rec
                rec["jobs"] += 1
        # a stage reused by a later job shows up in both jobs' stage lists
        # (skipped the second time): charge it to the earliest job only
        seen: set[int] = set()
        for j in sorted(owner):
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else []):
                if sid in seen or sid not in by_stage:
                    continue
                seen.add(sid)
                for k, v in by_stage[sid].items():
                    owner[j][k] += v
        for rec in self.spans:
            rec["self_s"] = self.self_seconds(rec)

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.<counter>`` summed over each layer's spans."""
        out: dict[str, float] = {}
        for rec in self.spans:
            for c in COUNTERS:
                key = f"{rec['layer']}.{c}"
                out[key] = out.get(key, 0.0) + rec[c]
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
