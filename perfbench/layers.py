"""Per-layer metrics of a traced run, named after sparkflow's modules.

Every name is reported on every workload; a layer a workload does not
touch reads 0 there. Values are medians over the traced run's passes of
each pass's total, unless the name says otherwise (``_p50``, ``_peak``,
``_tail``, ``_skew``, the set-up measurements ``staging.*``,
``stream.split_s`` and ``harness.warmup_s``, and the ``wall.*``
latencies, which are medians over passes and operations). What each
layer should move, and on which workload, is in ``perfbench/README.md``.
"""

from __future__ import annotations

import math
import statistics

from workloads import LLM_KEYS, STREAM_TWINS

PER_LAYER = {
    "registry.build_ms": "ms", "registry.build_p50_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "fetch.ms": "ms", "fetch.rows": "count",
    "staging.digest_ms": "ms", "staging.publish_s": "s", "staging.bytes": "bytes",
    "staging.hits": "count", "staging.misses": "count", "staging.cold_hits": "count",
    "olap.cold.suite_s": "s", "olap.staged.suite_s": "s",
    "olap.cold.query_p50_s": "s", "olap.staged.query_p50_s": "s",
    **{f"stream.{t}.wall_s": "s" for t in STREAM_TWINS},
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.state_rows_peak": "count",
    "stream.state_bytes_peak": "bytes", "stream.rows_dropped_by_watermark": "count",
    "stream.split_s": "s", "stream.events_per_s": "1/s",
    "stream.microbatch_p50_ms": "ms", "stream.microbatch_tail_ms": "ms",
    **{f"llm.{k}.{part}_ms": "ms" for k in LLM_KEYS for part in ("build", "exec")},
    "wall.suite_s": "s", "wall.op_geomean_s": "s", "wall.slowest_op_s": "s",
    "harness.floor_ms": "ms", "harness.warmup_s": "s", "harness.duckdb_suite_s": "s",
    "harness.trace_overhead_s": "s", "memory.peak_rss_mb": "MB",
}

_EXEC = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
         "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
_PROGRESS = {"stream.add_batch_ms": "addBatch",
             "stream.query_planning_ms": "queryPlanning",
             "stream.wal_commit_ms": "walCommit",
             "stream.latest_offset_ms": "latestOffset"}


def _median(values):
    return statistics.median(values) if values else 0.0


def wall_metrics(passes: list[dict]) -> dict:
    """Wall-clock latency over `passes`: the median pass, and per
    operation the median latency (their geometric mean and maximum)."""
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for r in p["records"]:
            if "error" not in r:
                per_op.setdefault(r["op"], []).append(r["latency_s"])
    medians = [_median(v) for v in per_op.values()]
    return {
        "wall.suite_s": _median([p["wall_s"] for p in passes]),
        "wall.op_geomean_s": math.exp(statistics.fmean(map(math.log, medians)))
        if medians else 0.0,
        "wall.slowest_op_s": max(medians, default=0.0),
    }


def _pass_layers(p: dict) -> dict:
    """One traced pass, reduced to per-layer totals."""
    recs = [r for r in p["records"] if "error" not in r]
    batch = [r for r in recs if r["layer"] != "stream"]
    m = {
        "registry.build_ms": sum(r["build_s"] for r in batch) * 1000,
        "catalyst.analysis_ms": sum(r["catalyst"]["analysis"] for r in batch),
        "catalyst.optimization_ms": sum(r["catalyst"]["optimization"] for r in batch),
        "catalyst.planning_ms": sum(r["catalyst"]["planning"] for r in batch),
        "exec.task_skew": max((r["exec"]["task_skew"] for r in recs), default=0.0),
        "fetch.ms": sum(r["fetch_ms"] for r in batch),
        "fetch.rows": sum(r["rows"] for r in recs),
        "staging.digest_ms": sum(r.get("digest_ms", 0.0) for r in recs),
    }
    for k in _EXEC:
        m[f"exec.{k}"] = sum(r["exec"][k] for r in recs)
    for posture in ("cold", "staged"):
        mine = [r["latency_s"] for r in recs if r["layer"] == f"olap.{posture}"]
        m[f"olap.{posture}.suite_s"] = sum(mine)
        m[f"olap.{posture}.query_p50_s"] = _median(mine)
    for r in recs:
        if r["layer"] == "stream":
            m[f"stream.{r['op']}.wall_s"] = r["latency_s"]
        elif r["layer"] == "llm":
            m[f"llm.{r['op']}.build_ms"] = r["build_s"] * 1000
            m[f"llm.{r['op']}.exec_ms"] = (r["latency_s"] - r["build_s"]) * 1000
    progress = [b for r in recs for b in r.get("progress", [])]
    if progress:
        ops = [o for b in progress for o in b.get("stateOperators", [])]
        trig = sorted(b["durationMs"].get("triggerExecution", 0) for b in progress)
        wall = sum(r["latency_s"] for r in recs if r["layer"] == "stream")
        m.update({
            "stream.batches": len(progress),
            "stream.state_rows_peak": max((o["numRowsTotal"] for o in ops), default=0),
            "stream.state_bytes_peak": max((o["memoryUsedBytes"] for o in ops), default=0),
            "stream.rows_dropped_by_watermark": sum(
                o.get("numRowsDroppedByWatermark", 0) for o in ops),
            "stream.events_per_s": sum(b["numInputRows"] for b in progress) / wall,
            "stream.microbatch_p50_ms": _median(trig),
            "stream.microbatch_tail_ms": trig[-1],
        })
        for name, key in _PROGRESS.items():
            m[name] = sum(b["durationMs"].get(key, 0) for b in progress)
    return m


def per_layer(wl, traced: list[dict], floor_s: float, rss_bytes: int) -> dict:
    reduced = [_pass_layers(p) for p in traced]
    out = {}
    for name in PER_LAYER:
        values = [m[name] for m in reduced if name in m]
        out[name] = _median(values)
    builds = [r["build_s"] * 1000 for p in traced for r in p["records"]
              if "error" not in r and r["layer"] != "stream"]
    out["registry.build_p50_ms"] = _median(builds)
    for name in ("staging.publish_s", "staging.bytes", "staging.hits",
                 "staging.misses", "staging.cold_hits", "stream.split_s",
                 "harness.warmup_s"):
        out[name] = wl.ctx.setup.get(name, 0.0)
    out.update(wall_metrics(traced))
    out["harness.floor_ms"] = floor_s * 1000
    out["memory.peak_rss_mb"] = rss_bytes / 2**20
    out["harness.duckdb_suite_s"] = _median([p["duckdb_s"] for p in traced])
    # the time the trace's own reads (digest walk, counters, phases) add
    # to a pass: the traced pass minus the same pass untraced
    out["harness.trace_overhead_s"] = _median(
        [sum(r.get("trace_s", 0.0) for r in p["records"]) for p in traced])
    return out
