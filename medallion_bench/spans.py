"""In-memory span tracer for the benchmark's calls into lakeflow.

A span records a name, start and end (``time.perf_counter``), its
parent span and the op it belongs to. When tracing is on, each span
also tags the Spark jobs it launches: entering a span sets a fresh
Spark job group (``SparkContext.setJobGroup``) and leaving it restores
the parent's, so ``statusTracker()`` can later count the jobs, stages,
tasks and failed tasks of every span. Streaming micro-batches run under
the query's run id as their job group; :meth:`Tracer.add_group` adds it
to the span that started the query. Counts are resolved once, after the
measured region, so the hot path only pays for two ``setJobGroup``
calls per span; that cost is timed and reported as the tracer's own.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.sc = None
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.own_s = 0.0  # time spent in the tracer itself

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["groups"][0], span["name"])

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "op": op if op is not None else (parent or {}).get("op"),
            "groups": [f"medallion-span-{len(self.spans)}"],
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.own_s += time.perf_counter() - rec["end"]

    def add_group(self, rec: dict | None, group: str) -> None:
        if rec is not None:
            rec["groups"].append(group)

    def resolve(self) -> None:
        """Attach Spark job/stage/task counts to every span: its own
        jobs, and ``total_*`` with its descendants' added; and its self
        time, the duration its child spans do not cover."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = failed = 0
            for g in rec["groups"]:
                for jid in st.getJobIdsForGroup(g):
                    jobs += 1
                    info = st.getJobInfo(jid)
                    for sid in info.stageIds if info else []:
                        s = st.getStageInfo(sid)
                        if s is None:
                            continue
                        stages += 1
                        tasks += s.numTasks
                        failed += s.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in reversed(self.spans):  # children are recorded after parents
            kids = children.get(rec["id"], [])
            covered = sum(k["end"] - k["start"] for k in kids)
            rec["self_s"] = max(rec["end"] - rec["start"] - covered, 0.0)
            for key in ("jobs", "stages", "tasks", "failed_tasks"):
                rec[f"total_{key}"] = rec[key] + sum(k[f"total_{key}"] for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
