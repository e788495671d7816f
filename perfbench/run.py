"""sparkflow benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Load model: a closed loop with one client. A single driver thread
submits the next operation when the previous result has been fetched,
on ``sparkflow.session.get_spark`` defaults with half the cores as
Spark task threads (see ``spark_cores``). Inputs are generated from
``--seed`` into a private work directory inside the checkout (removed
on exit); the engine sees only that parquet. After set-up and the
workload's warm-up passes, whole passes over the workload's operations
run until ``--seconds`` have elapsed and at least ``MIN_PASSES`` ran.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process
start to a ready session, plus the median set-up round), and the
medians over the measured passes of the CPU seconds one pass costs and
of each operation's CPU seconds. CPU time is that of the whole process
tree (the client, the JVM, the Python workers); unlike wall time it
leaves out the time a shared host keeps a core from the run. Wall-clock
latencies are printed to stderr and reported per layer.

``--trace 1`` reports the per-layer metrics: a traced run records spans
around the benchmark's calls into each layer, reads Spark's counters
per job group, runs each operation's oracle SQL on DuckDB as a load
control, and writes spans and counters to ``.perfbench_out/`` when it
ends. The last stdout line is the result, ``{"correct", "attempted",
"failed", "metrics"}``; a human-readable report goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import subprocess
import time

from tracing import Tracer, catalyst_phases, job_group_counters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 2  # a window holds at least this many passes
END_TO_END = {"setup_s": "s", "suite_cpu_s": "s", "op_cpu_geomean_s": "s"}


def _process_start() -> float:
    """perf_counter value at which this process started."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / _TICK)


_TICK = os.sysconf("SC_CLK_TCK")
PROCESS_START = _process_start()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and every process under it (the
    JVM, the Python worker daemon and its workers), reaped children
    included. The kernel keeps the hypervisor's steal time out of these
    counts, so they are the work done, not the wait for a shared core."""
    ticks = 0
    for p in [root] + descendants(root):
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since the listing; its parent now counts it
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def peak_rss_bytes(pids) -> int:
    """Sum of the kernel's resident-set high-water marks (VmHWM) of
    `pids`: the driver and the JVM. Python workers come and go with the
    tasks, and their peaks are not simultaneous, so they are left out."""
    total = 0
    for p in pids:
        with open(f"/proc/{p}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) * 1024
    return total


def spark_cores() -> int:
    """Spark's task threads: half the cores this process may run on. The
    other half is left to the driver side (the Python client, py4j, the
    JVM's JIT and GC threads, Python workers), so a stage's tasks do not
    queue behind them."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _prepare_env(work: str) -> None:
    """Python workers import sparkflow from the checkout, and every
    scratch file of Spark, the JVM and Python lands in the work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write its counters under
    # /tmp, whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    sys.path[:0] = [ROOT, HERE]


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _geomean(values) -> float:
    return math.exp(statistics.fmean(map(math.log, values))) if values else 0.0


class Runner:
    """Runs operations one at a time, one record per operation run."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.n = 0

    def op(self, op, traced: bool):
        self.n += 1
        group = f"perfbench-{self.n}"
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup(group, op.name, False)
        rec = {"op": op.name, "layer": op.layer}
        span = self.tracer.span
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with span(f"{op.layer}.build#{op.name}"):
                df = op.build()
            t1 = time.perf_counter()
            with span(f"{op.layer}.run#{op.name}"):
                pdf, extra = op.fetch(df)
            t2 = time.perf_counter()
            end_ms = time.time() * 1000
        except Exception as e:  # a failed operation is counted, not fatal
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
            return rec, None
        rec.update(latency_s=t2 - t0, build_s=t1 - t0, rows=len(pdf),
                   cpu_s=tree_cpu_s(os.getpid()) - cpu0, **extra)
        if traced:
            t = time.perf_counter()
            if op.digest is not None:
                with span("staging.digest#" + op.name):
                    op.digest()
                rec["digest_ms"] = (time.perf_counter() - t) * 1000
            with span("spark.counters#" + op.name):
                groups = [group] + sorted({p["runId"] for p in extra.get("progress", [])})
                counters = [job_group_counters(self.spark, g) for g in groups]
                rec["exec"] = {k: (max if k in ("task_skew", "job_end_ms") else sum)(
                    c[k] for c in counters) for k in counters[0]}
                if "progress" not in extra:
                    rec["catalyst"] = catalyst_phases(df)
                    job_end = rec["exec"]["job_end_ms"]
                    rec["fetch_ms"] = max(0.0, end_ms - job_end) if job_end else 0.0
            rec["trace_s"] = time.perf_counter() - t
        return rec, pdf

    def run_pass(self, ops, traced: bool, con=None) -> dict:
        """One pass over `ops`. A traced pass also runs each op's oracle
        SQL on DuckDB right after it (the load control); that time is
        kept out of the pass wall time. The pass CPU time is its
        operations' CPU time."""
        recs, outs, duck_s = [], [], 0.0
        t0 = time.perf_counter()
        for op in ops:
            rec, pdf = self.op(op, traced)
            recs.append(rec)
            outs.append(pdf)
            if traced and con is not None and op.oracle_sql:
                with self.tracer.span("duckdb.oracle#" + op.name):
                    t = time.perf_counter()
                    con.execute(op.oracle_sql).fetchdf()
                    duck_s += time.perf_counter() - t
        wall = time.perf_counter() - t0 - duck_s
        cpu = sum(r.get("cpu_s", 0.0) for r in recs)
        return {"wall_s": wall, "cpu_s": cpu, "duckdb_s": duck_s, "records": recs,
                "outputs": outs}


def verify(ops, passes) -> list[str]:
    """Grade the first result of each operation with its check, and
    every later result against that first one (tools/check.py rules).
    Marks failing records; returns the failure messages."""
    from workloads import disagreement

    by_name = {op.name: op for op in ops}
    ref, errors = {}, []
    for p in passes:
        for rec, pdf in zip(p["records"], p.pop("outputs")):
            name = rec["op"]
            try:
                if "error" in rec:
                    err = rec["error"]
                elif name not in ref:
                    ref[name] = pdf
                    err = by_name[name].check(pdf)
                else:
                    err = disagreement(pdf, ref[name])
            except Exception as e:  # a result the check cannot read is wrong
                err = f"check raised {type(e).__name__}: {e}"[:300]
            if err:
                rec["failed"] = err
                errors.append(f"{name}: {err}")
    return errors


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile); None when that is not above the median."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n


def _per_op(passes: list[dict], key: str) -> dict[str, list[float]]:
    """Each operation's `key` values over `passes`, failed runs left out."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for r in p["records"]:
            if "error" not in r:
                out.setdefault(r["op"], []).append(r[key])
    return out


def end_to_end(setup_s: float, passes: list[dict]) -> dict:
    """Medians over the window: of each pass's CPU seconds, and per
    operation of its CPU seconds (their geometric mean, so every
    operation weighs the same)."""
    return {
        "setup_s": setup_s,
        "suite_cpu_s": _median([p["cpu_s"] for p in passes]),
        "op_cpu_geomean_s": _geomean([_median(v) for v in _per_op(passes, "cpu_s").values()]),
    }


def run(args, work: str) -> tuple[dict, int]:
    import bench
    from sparkflow.sources import staging

    staging.SHARED_ROOT = os.path.join(work, "staging")
    from pyspark import SparkContext
    from sparkflow.session import get_spark

    import layers
    from workloads import WORKLOADS, Ctx

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    os.chdir(work)  # relative writes (the warehouse dir) land in the work dir
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - PROCESS_START
    gateway = SparkContext._gateway
    try:
        tracer = Tracer(run_id, bool(args.trace))
        runner = Runner(spark, tracer)
        wl = WORKLOADS[args.workload](Ctx(spark, work, args.seed))
        passes = []

        def warm(ops):
            with tracer.span("warm"):
                passes.append(runner.run_pass(ops, False))

        with tracer.span("setup"):
            wl.setup(warm)
        for _ in range(wl.warm_passes):
            warm(wl.ops)
        # the session starts once; a workload may set itself up more than once
        setup_s = session_s + _median(wl.setup_times)
        wl.ctx.setup["harness.warmup_s"] = sum(p["wall_s"] for p in passes)
        guard = wl.guard()
        floors = [bench.measure_floor(spark)]
        t_first = time.perf_counter()
        window = []
        while len(window) < MIN_PASSES or time.perf_counter() - t_first < args.seconds:
            with tracer.span("pass"):
                window.append(runner.run_pass(wl.ops, bool(args.trace), wl.con))
        floors.append(bench.measure_floor(spark))
        errors = verify(wl.ops, passes + window)
        with tracer.span("cleanup"):
            leftover = wl.cleanup()
        mem = peak_rss_bytes([os.getpid(), gateway.proc.pid])
    finally:
        _stop_spark(spark, gateway)

    floor = max(floors)
    loaded = bench.is_loaded_window(floor, bench.best_idle_floor(ROOT))
    recs = [r for p in passes + window for r in p["records"]]
    failed = sum(1 for r in recs if "failed" in r)
    if args.trace:
        metrics = layers.per_layer(wl, window, floor, mem)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{run_id}.json")
        tracer.dump(trace_path, {"metrics": metrics, "records": recs})
        print(f"[perfbench] spans and counters: {trace_path}", file=sys.stderr)
        units = layers.PER_LAYER
    else:
        metrics = end_to_end(setup_s, window)
        units = END_TO_END
    problems = errors + [e for e in (guard, leftover) if e]
    _report(args, metrics, units, recs, failed, floor, loaded, problems,
            wl.setup_times, passes, window)
    result = {
        "correct": not problems,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, (0 if not problems else 1)


def _report(args, metrics, units, recs, failed, floor, loaded, problems,
            setup_times, passes, window):
    import layers

    err = sys.stderr
    print(f"[perfbench] workload={args.workload} seed={args.seed} "
          f"trace={args.trace} cores={os.environ['SPARK_GRAFT_CPUS']}", file=err)
    for k, u in units.items():
        print(f"  {k:40s} {metrics[k]:14.4f} {u}", file=err)
    if not args.trace:
        for k, v in layers.wall_metrics(window).items():
            print(f"  {k:40s} {v:14.4f} s", file=err)
    print(f"  set-ups, s: {' '.join(f'{t:.2f}' for t in setup_times)}", file=err)
    print("  passes (warm-up, then the window), wall/CPU s: " + " ".join(
        f"{p['wall_s']:.2f}/{p['cpu_s']:.2f}" for p in passes + window), file=err)
    lat = [v for vs in _per_op(window, "latency_s").values() for v in vs]
    print(f"  op_p50_s (of {len(lat)} ops) {_median(lat):.4f} s", file=err)
    high = tail(lat)
    print(f"  op_tail_s (p{high[1]:.0f} of {len(lat)} ops) {high[0]:.4f} s" if high else
          f"  op_tail_s n/a: {len(lat)} ops leave no percentile above p50 with"
          " 10 samples beyond it", file=err)
    print("  per-op median latency / CPU, s: " + ", ".join(
        f"{k}={_median(v):.3f}/{_median(_per_op(window, 'cpu_s')[k]):.3f}"
        for k, v in sorted(_per_op(window, "latency_s").items())), file=err)
    print(f"  failed_ratio {failed}/{len(recs)} = {failed / max(len(recs), 1):.4f}",
          file=err)
    print(f"  harness floor {floor * 1000:.1f} ms, loaded_window={loaded}", file=err)
    for p in problems:
        print(f"  FAILED {p}", file=err)


def _stop_spark(spark, gateway) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait for every process it started."""
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=4.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work)
        result, code = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
