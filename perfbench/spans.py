"""Spans around the benchmark's calls into the engine, and Spark's job
counters for each unit of work.

A span is recorded only by the benchmark's own code, around a call into
one layer of the engine (``session``, ``plans``, ``sinks``, ``entry``,
``catalyst``, ``exec``). Spans live in memory and are written out when
the run ends. Jobs are read from Spark's status store right after each
unit, over the unit's job-id window: every job submitted between the
unit's start and its end belongs to the unit, whichever thread fired it
and whatever job group it carries.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_STAGE_DONE = {"COMPLETE", "FAILED"}


class Tracer:
    """Records spans and per-unit job counters when ``enabled``.

    When disabled every method is a no-op, so the untraced runs time the
    same calls with nothing added.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._stack: list[int] = []
        self._last_job = -1
        self._stages_seen: set[int] = set()

    def add(self, name: str, start: float, end: float | None,
            unit: str | None, parent: int | None = None) -> int:
        """Record a span; returns its id."""
        self.spans.append({"id": len(self.spans), "name": name, "unit": unit,
                           "parent": parent, "start": start, "end": end})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, unit: str | None = None):
        """Span around the enclosed call; nested spans are its children."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if unit is None and parent is not None:
            unit = self.spans[parent]["unit"]
        sid = self.add(name, time.time(), None, unit, parent)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def _store(self):
        jsc = self.spark.sparkContext._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # jobs of the unit that just returned are all there
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    @staticmethod
    def _newest_job(store) -> int:
        listed = store.jobsList(None)  # newest first
        return listed.apply(0).jobId() if listed.size() else -1

    def mark(self) -> None:
        """Open a job-id window: later jobs belong to the next unit."""
        if self.enabled:
            self._last_job = self._newest_job(self._store())

    def read_jobs(self, unit: str) -> None:
        """Close the window opened by ``mark`` and record its jobs.

        Call it right after the unit: the store keeps only the newest
        1,000 jobs and stages.
        """
        if not self.enabled:
            return
        store = self._store()
        newest = self._newest_job(store)
        for jid in range(self._last_job + 1, newest + 1):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            self.jobs.append(self._job_record(store, job, unit))
        self._last_job = newest

    def _job_record(self, store, job, unit: str) -> dict:
        group = job.jobGroup()
        submit, done = job.submissionTime(), job.completionTime()
        rec = {
            "id": job.jobId(),
            "unit": unit,
            "group": group.get() if group.isDefined() else None,
            "submit": submit.get().getTime() / 1000 if submit.isDefined() else None,
            "end": done.get().getTime() / 1000 if done.isDefined() else None,
            "stages": 0, "tasks": 0, "failed_tasks": 0,
            "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "jvm_gc_s": 0.0,
        }
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in self._stages_seen:  # a stage reused from an earlier job
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped: never submitted
                continue
            if st.status().toString() not in _STAGE_DONE:
                continue
            self._stages_seen.add(sid)
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["failed_tasks"] += st.numFailedTasks()
            rec["input_bytes"] += st.inputBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.diskBytesSpilled()
            rec["executor_run_s"] += st.executorRunTime() / 1000
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["jvm_gc_s"] += st.jvmGcTime() / 1000
        return rec


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def with_self_time(spans: list[dict]) -> list[dict]:
    """Each span plus ``self_s``: its duration minus what its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        dict(s, self_s=(s["end"] - s["start"]) - _union_s(children.get(s["id"], [])))
        for s in spans
    ]


def _leaf_span(spans: list[dict], t: float) -> dict | None:
    """The innermost span of one unit that contains instant ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


EXEC_COUNTERS = ("stages", "tasks", "input_bytes", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                 "executor_cpu_s", "jvm_gc_s", "failed_tasks")


def unit_layers(spans: list[dict], jobs: list[dict], unit: str) -> dict:
    """Per-layer figures of one unit, from its spans and its job window."""
    own = [s for s in spans if s["unit"] == unit]
    root = next(s for s in own if s["parent"] is None)
    wall = root["end"] - root["start"]
    own_jobs = [j for j in jobs if j["unit"] == unit]
    out: dict[str, float] = {
        "plans.build_jobs": 0, "sinks.load_jobs": 0, "entry.construct_jobs": 0,
        "exec.jobs": len(own_jobs),
        "exec.unattributed_jobs": sum(j["group"] != unit for j in own_jobs),
    }
    for c in EXEC_COUNTERS:
        out[f"exec.{c}"] = sum(j[c] for j in own_jobs)
    span_keys = {"plans.build": "plans.build_s", "sinks.load": "sinks.load_s",
                 "entry.construct": "entry.construct_s",
                 "catalyst.plan": "catalyst.plan_s", "exec.write": "exec.execute_s"}
    for name, key in span_keys.items():
        out[key] = sum(s["end"] - s["start"] for s in own if s["name"] == name)
    for j in own_jobs:
        leaf = _leaf_span(own, j["submit"]) if j["submit"] is not None else None
        if leaf is not None and leaf["name"] in ("plans.build", "sinks.load",
                                                  "entry.construct"):
            out[leaf["name"] + "_jobs"] += 1
    construct = [s for s in own if s["name"] == "entry.construct"]
    busy = 0.0
    for s in construct:
        busy += _union_s([
            (max(j["submit"], s["start"]), min(j["end"], s["end"]))
            for j in own_jobs
            if j["submit"] is not None and j["end"] is not None
            and j["submit"] < s["end"] and j["end"] > s["start"]
        ])
    out["entry.construct_job_busy_s"] = busy
    out["entry.construct_driver_s"] = out["entry.construct_s"] - busy
    layer_cover = _union_s([(s["start"], s["end"]) for s in own
                            if s["parent"] == root["id"]])
    out["unit_s"] = wall
    out["coverage"] = layer_cover / wall if wall > 0 else 1.0
    # what tracing adds inside the timed unit: the separate Catalyst
    # planning call, and span bookkeeping (unit time not under a layer)
    out["overhead_s"] = out["catalyst.plan_s"] + (wall - layer_cover)
    return out
