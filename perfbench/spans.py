"""Spans around the benchmark's calls into the engine, and Spark's own
counters for those calls read from outside over the driver's REST API.

Spans stay in memory; ``Tracer.dump`` writes them out with per-span
self times once the run ends. Each call runs under its own Spark job
group, so ``RestCounters`` can attribute jobs, stages, tasks and SQL
operator rows to it after the fact.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: name, start, end, parent span, and the
    id of the call the span belongs to."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, call: str, group: str | None = None):
        """Time ``name`` as a child of the innermost open span. With
        ``group``, Spark jobs started inside run under that job group
        (restored to the enclosing group afterwards)."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "call": call, "group": group,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        sc = self.spark.sparkContext if group else None
        outer = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def wrap(self, obj, method: str, name: str, call: str) -> None:
        """Span every call of ``obj.method`` (instance attribute only;
        the class is untouched)."""
        fn = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name, call):
                return fn(*a, **kw)

        setattr(obj, method, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "self_s": self.self_times(), **extra}, fh)


_NUM = re.compile(r"[\d,]+")


def _rows(metric_value: str) -> int:
    m = _NUM.match(metric_value.strip())
    return int(m.group().replace(",", "")) if m else 0


class RestCounters:
    """Jobs, stages and SQL metrics of the live application, grouped
    by job group, read from the driver UI's REST API."""

    def __init__(self, spark, timeout: float = 30.0):
        sc = spark.sparkContext
        self._sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.timeout = timeout

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=self.timeout) as r:  # noqa: S310 (local driver UI)
            return json.load(r)

    def snapshot(self) -> dict:
        """Drain the listener bus, then read every job, stage and SQL
        execution the UI still retains."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(int(self.timeout * 1000))  # noqa: SLF001
        return {
            "jobs": self._get("/jobs"),
            "stages": self._get("/stages"),
            "sql": self._get("/sql?details=true&planDescription=false&length=1000000"),
        }

    @staticmethod
    def by_group(snap: dict, groups: set[str]) -> dict[str, dict]:
        """Counters per job group: jobs, stages, tasks, executor run
        and CPU time, shuffle and spill bytes, and summed SQL output
        rows of every operator of the group's executions."""
        attempts = defaultdict(list)
        for s in snap["stages"]:
            if s.get("status") != "SKIPPED":
                attempts[s["stageId"]].append(s)
        job_group = {}
        out = {g: defaultdict(float) for g in groups}
        for j in snap["jobs"]:
            g = j.get("jobGroup")
            if g not in out:
                continue
            job_group[j["jobId"]] = g
            c = out[g]
            c["jobs"] += 1
            for sid in j.get("stageIds", []):
                for s in attempts[sid]:
                    c["stages"] += 1
                    c["tasks"] += s.get("numCompleteTasks", 0)
                    c["run_ms"] += s.get("executorRunTime", 0)
                    c["cpu_ns"] += s.get("executorCpuTime", 0)
                    c["gc_ms"] += s.get("jvmGcTime", 0)
                    c["shuffle_write"] += s.get("shuffleWriteBytes", 0)
                    c["shuffle_read"] += s.get("shuffleReadBytes", 0)
                    c["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        for ex in snap["sql"]:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            gs = {job_group[i] for i in ids if i in job_group}
            if len(gs) != 1:
                continue
            c = out[gs.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        c["rows"] += _rows(m.get("value", ""))
        return out

    def completed_stages(self) -> int:
        """Completed stages the UI currently lists for the app."""
        return len(self._get("/stages?status=complete"))
