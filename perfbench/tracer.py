"""In-memory span tracer for the benchmark's own calls into the engine.

A span records name, start, end, parent and request id. Each span runs
under its own Spark job group; when it closes, the Spark jobs it launched
are looked up in the Spark driver's status store and their stage metrics
(executor run time, GC, shuffle bytes, spill, tasks) are attached to the
span. Jobs submitted from helper threads inside the engine carry no job
group; they are attributed to the innermost span open when they ran,
which is exact because the benchmark has a single client thread.

With ``enabled=False`` the tracer only times: no job groups, no status
store reads. That is the untraced run the end-to-end metrics come from.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_records_written": ("shuffleWriteRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
}


def empty_stage_metrics() -> dict:
    return {k: 0.0 for k in STAGE_FIELDS} | {"jobs": 0, "stages": 0}


class Span:
    __slots__ = ("sid", "name", "parent", "request", "start", "end", "group",
                 "spark", "attrs")

    def __init__(self, sid, name, parent, request, group):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.request = request
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.spark = None
        self.attrs = {}

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "request": self.request, "job_group": self.group,
            "start_s": self.start - t0, "end_s": self.end - t0,
            "spark": self.spark, **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.t0 = time.perf_counter()
        # time spent reading the status store and setting job groups:
        # the tracer's own cost, reported as tracing overhead
        self.overhead_s = 0.0
        if enabled:
            self._tracker = sc.statusTracker()
            self._store = sc._jsc.sc().statusStore()
            # jobs that ran before tracing began belong to no span
            self._seen_jobs.update(self._tracker.getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, request=None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sid = len(self.spans)
        group = f"perfbench-{sid}-{name}" if self.enabled else None
        span = Span(sid, name, parent.sid if parent else None, request, group)
        self.spans.append(span)
        self._stack.append(span)
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
            span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                span.spark = self._collect(group)
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += time.perf_counter() - t

    # ------------------------------------------------------ stage metrics

    def _collect(self, group: str) -> dict:
        jobs = set(self._tracker.getJobIdsForGroup(group))
        # helper-thread jobs carry no group: they belong to this span
        jobs.update(self._tracker.getJobIdsForGroup(None))
        out = empty_stage_metrics()
        for jid in sorted(jobs - self._seen_jobs):
            self._seen_jobs.add(jid)
            info = self._wait_job(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                self._add_stage(sid, out)
        return out

    def _wait_job(self, jid: int):
        # the listener bus updates the store asynchronously: wait for
        # the job-end event so every stage's metrics are final
        deadline = time.perf_counter() + 5.0
        while True:
            info = self._tracker.getJobInfo(jid)
            if info is None or info.status != "RUNNING":
                return info
            if time.perf_counter() > deadline:
                return info
            time.sleep(0.002)

    def _add_stage(self, sid: int, out: dict) -> None:
        stage = self._store.lastStageAttempt(sid)
        if stage.status().toString() not in ("COMPLETE", "FAILED"):
            return  # skipped: its shuffle output was reused
        out["stages"] += 1
        for key, (getter, scale) in STAGE_FIELDS.items():
            out[key] += getattr(stage, getter)() * scale

    # ----------------------------------------------------------- queries

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def spark_sum(self, spans) -> dict:
        """Stage metrics of ``spans`` and all their descendants."""
        ids = {s.sid for s in spans}
        out = empty_stage_metrics()
        for s in self.spans:
            if s.spark is None:
                continue
            if s.sid in ids or self._ancestor_in(s, ids):
                for k, v in s.spark.items():
                    out[k] += v
        return out

    def _ancestor_in(self, span: Span, ids: set[int]) -> bool:
        p = span.parent
        while p is not None:
            if p in ids:
                return True
            p = self.spans[p].parent
        return False

    def self_times(self) -> dict[int, float]:
        """Span wall minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.sid] = s.wall - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                row = s.as_dict(self.t0)
                row["self_s"] = selfs[s.sid]
                fh.write(json.dumps(row) + "\n")
