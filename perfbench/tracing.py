"""Spans and per-layer counters for the traced run (``--trace 1``).

Spans are recorded by the benchmark around its own calls into each
layer (registry build, fetch, staging digest, stream replay, ...), kept
in memory and written out once, when the run ends. A span is
``(name, start, end, parent, run_id)``; a layer's self time is its span
minus the part covered by its child spans.

Spark's own counters are read from the public status tracker and the
application status store for the jobs a call started: the benchmark
tags each call with its own job group, so the counters of one call are
exactly the jobs of that group.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled, `span` costs one generator."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[float]:
        """Self time per span, aligned with `self.spans`. Children of one
        span never overlap (one client thread), so their union is their
        sum."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return [
            (rec["end"] - rec["start"]) - child[i] if rec["end"] is not None else 0.0
            for i, rec in enumerate(self.spans)
        ]

    def dump(self, path: str, layers: dict) -> None:
        selfs = self.self_times()
        spans = [dict(rec, self_s=round(s, 6)) for rec, s in zip(self.spans, selfs)]
        by_name: dict[str, list[float]] = {}
        for rec, s in zip(self.spans, selfs):
            by_name.setdefault(rec["name"].split("#")[0], []).append(s)
        summary = {
            name: {"n": len(v), "self_s_total": round(sum(v), 6),
                   "self_s_p50": round(statistics.median(v), 6)}
            for name, v in sorted(by_name.items())
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run_id": self.run_id, "layers": layers,
                       "self_time": summary, "spans": spans}, fh)


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def job_group_counters(spark, group: str) -> dict:
    """Executor-side counters of every job in `group`: jobs, stages run
    (skipped ones excluded), tasks, executor run/CPU ms, input, shuffle
    and spill bytes, the worst stage's max/median task time, and the
    latest job completion time (epoch ms)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
           "executor_cpu_ms": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 0.0,
           "job_end_ms": 0}
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        done = _opt(store.job(jid).completionTime())
        if done is not None:
            out["job_end_ms"] = max(out["job_end_ms"], done.getTime())
        for sid in info.stageIds:
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            dist = _opt(store.taskSummary(sid, st.attemptId(), quantiles))
            if dist is not None:
                run = dist.executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], top / med)
    return out


def catalyst_phases(df) -> dict:
    """Analysis / optimization / planning ms of a batch DataFrame's
    query execution (Spark's QueryPlanningTracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = _opt(phases.get(name))
        out[name] = summary.durationMs() if summary is not None else 0
    return out
