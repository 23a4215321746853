"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent and request id, plus the Spark
jobs, tasks and process-tree CPU seconds its call used. Spark job ids are
sequential and the benchmark is the session's only client, so the jobs a
call submitted are the ones that appeared between its start and end.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from statschat_ke_spark.benchutil import subtree_cpu_by_kind


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent reading counters

    def _counters(self) -> dict:
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        cpu = subtree_cpu_by_kind()
        out = {
            "jobs": set(sc.statusTracker().getJobIdsForGroup()),
            "cpu_java": cpu.get("java", 0.0),
            "cpu_python": cpu.get("python", 0.0),
        }
        self.overhead_s += time.perf_counter() - t0
        return out

    def _tasks(self, job_ids) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        tasks = failed = 0
        for j in job_ids:
            job = st.getJobInfo(j)
            for s in job.stageIds if job else ():
                stage = st.getStageInfo(s)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return tasks, failed

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        rec = {"name": name, "parent": parent, "rid": rid}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        before = self._counters()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            after = self._counters()
            t0 = time.perf_counter()
            new_jobs = sorted(after["jobs"] - before["jobs"])
            rec["spark_jobs"] = len(new_jobs)
            rec["spark_tasks"], rec["failed_tasks"] = self._tasks(new_jobs)
            self.overhead_s += time.perf_counter() - t0
            rec["cpu_java_s"] = after["cpu_java"] - before["cpu_java"]
            rec["cpu_python_s"] = after["cpu_python"] - before["cpu_python"]

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        i = self.spans.index(rec)
        kids = sum(self.wall(s) for s in self.spans if s["parent"] == i)
        return self.wall(rec) - kids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def covered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] under top-level spans."""
        return sum(
            min(s["end"], t1) - max(s["start"], t0)
            for s in self.spans
            if s["parent"] is None and s["end"] > t0 and s["start"] < t1
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**s, "self_s": self.self_time(s)} for s in self.spans], f)
