"""Spans around the benchmark's calls into each layer, with Spark job
accounting per call.

Every span tags the jobs it launches with its own job group.  When the run
ends, job, stage and task counts per group come from ``statusTracker()``,
and task time and shuffle bytes from the Spark UI's REST stage metrics
(the UI is enabled in traced runs only).  A stage is charged to the job
that first lists it, so a stage reused from a cache counts once, where it
ran.  Spans stay in memory until ``finish``.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager

# session settings for traced runs: the UI serves the REST stage metrics
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled   # traced runs toggle this per operation
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._t0 = time.perf_counter()

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; the yielded dict takes extra attributes."""
        if not (self.active and self._sc is not None):
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{len(self.spans)}",
               "start_s": time.perf_counter() - self._t0, "end_s": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def finish(self) -> int:
        """Attach Spark counts to every span; returns the run's failed
        tasks."""
        time.sleep(1.0)  # let the listener bus catch up with the last jobs
        st = self._sc.statusTracker()
        stage_job, stage_metrics = self._rest_stages()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                stages.update(s for s in (info.stageIds if info else ())
                              if stage_job.get(s) == j)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                tasks += info.numCompletedTasks if info else 0
            rec.update(jobs=len(jobs), stages=len(stages), tasks=tasks,
                       task_s=0.0, shuffle_mb=0.0)
            for s in stages:
                if s in stage_metrics:
                    rec["task_s"] += stage_metrics[s]["task_s"]
                    rec["shuffle_mb"] += stage_metrics[s]["shuffle_mb"]
        return sum(m["failed_tasks"] for m in stage_metrics.values())

    def subtree(self, rec: dict, key: str) -> float:
        """``key`` summed over a span and all spans below it."""
        total = rec.get(key, 0)
        for child in self.spans:
            if child["parent"] == rec["id"]:
                total += self.subtree(child, key)
        return total

    def _rest_stages(self) -> tuple[dict, dict]:
        """(stage id -> first job listing it, stage id -> metrics summed
        over its attempts) from the UI's REST API."""
        port = urllib.parse.urlparse(self._sc.uiWebUrl).port
        base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                f"{self._sc.applicationId}")
        stage_job: dict = {}
        for job in sorted(_get(base + "/jobs"), key=lambda j: j["jobId"]):
            for s in job["stageIds"]:
                stage_job.setdefault(s, job["jobId"])
        metrics: dict = {}
        for att in _get(base + "/stages"):
            m = metrics.setdefault(att["stageId"], {
                "task_s": 0.0, "shuffle_mb": 0.0, "failed_tasks": 0})
            m["task_s"] += att.get("executorRunTime", 0) / 1000.0
            m["shuffle_mb"] += att.get("shuffleWriteBytes", 0) / 1e6
            m["failed_tasks"] += att.get("numFailedTasks", 0)
        return stage_job, metrics

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)
