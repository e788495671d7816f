"""The benchmark's workloads: what each sets up, runs and checks.

Every workload is a list of operations run by one client in a closed
loop. An operation is built through a public entry point (a registry
key, a streaming twin, a compiled CEP pattern) and fetched to pandas;
the next one starts when the previous result has arrived.

- ``olap``: the eight ``bench.BENCH_QUERIES`` twice per pass, once on a
  corpus with no staged posture (cold: scan, shuffle, join, aggregate)
  and once on a byte-identical copy after the seven ``maintenance_*``
  publishers ran (staged: plan build, Catalyst and the staging digest
  walk dominate).
- ``pipelines``: ``events`` split into files and replayed through two
  streaming twins (one on Spark's native state store, one on Python
  keyed state via ``applyInPandasWithState`` and the CEP compiler), then
  two dedup pipelines over ``documents`` (a window dedup, and winnowing
  with explode and pair generation).

The operations run in a fixed order: a GC pause lands on whichever
operation follows the allocation that caused it, so an order that
changed with the seed would add its own spread.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import pandas as pd

import bench
import sparkflow
from sparkflow.catalog import TABLES, table
from sparkflow.sources import staging
from sparkflow.streaming import stateful
from sparkflow.streaming.cep import CepPattern
from tools.bench_ivm import _clean_postures
from tools.bench_sf1 import _ORACLE_KEY
from tools.check import compare

import corpus

OLAP_SF = 0.01
PIPELINES_SF = 0.002
PIPELINES_DOCS = 150
STREAM_FILES = 2
PIPELINES_SETUPS = 3

POSTURE_KEYS = (
    "maintenance_rollup_pricing", "maintenance_rollup_distinct",
    "maintenance_rollup_tumbling", "maintenance_rollup_q3",
    "maintenance_rollup_q5", "maintenance_json_materialize",
    "maintenance_knn_quantize",
)
# source tables of each headline query: the staging digest each build walks
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_join3_topk": ("lineitem", "orders", "customer"),
    "q5_join5_agg": ("lineitem", "orders", "customer", "supplier", "nation"),
    "window_rank_orders": ("orders",),
    "distinct_users": ("events",),
    "events_tumbling_1h": ("events",),
    "json_extract_agg": ("events",),
    "embeddings_knn": ("embeddings",),
}
LLM_KEYS = ("llm_dedup_exact", "llm_winnowing_overlap")
STREAM_TWINS = ("tumbling_append", "cep_compiled_optional")
# batch analog of each twin: its oracle SQL is the traced run's DuckDB load
STREAM_ORACLES = {"tumbling_append": "stream_tumbling"}


@dataclass
class Op:
    """One closed-loop operation: build the plan, then fetch the result.
    `fetch` returns (pandas result, extra record fields). `check` grades
    a result and returns an error message, or None when it is right."""

    name: str
    layer: str
    build: Callable[[], object]
    fetch: Callable[[object], tuple]
    check: Callable[[pd.DataFrame], str | None]
    oracle_sql: str | None = None
    digest: Callable[[], str] | None = None


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    setup: dict = field(default_factory=dict)  # per-layer setup measurements


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def disagreement(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """tools/check.py's rule: EXACT and CLOSE pass, FAIL fails."""
    verdict = compare(got, want)
    return None if verdict.split()[0] in ("EXACT", "CLOSE") else verdict


def grade(con, sql: str) -> Callable[[pd.DataFrame], str | None]:
    return lambda pdf: disagreement(pdf, con.execute(sql).fetchdf())


def _to_pandas(df) -> tuple:
    return df.toPandas(), {}


def _us(s: pd.Series) -> pd.Series:
    return pd.to_datetime(s).astype("datetime64[us]").astype("int64")


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


class Workload:
    name = ""
    # Unmeasured passes over `ops` after set-up. Each fresh plan makes new
    # generated classes and the JIT is still compiling Spark's own code,
    # so the first passes cost up to twice the later ones (CPU time and
    # wall time); these passes take each workload past the steepest part.
    warm_passes = 1
    ops: list[Op]

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.setup_times: list[float] = []  # one per set-up round

    def setup(self, warm: Callable[[list[Op]], None]) -> None:
        """Make the inputs and `self.ops`, timing each set-up round into
        `self.setup_times`; `warm(ops)` runs one unmeasured pass over
        `ops` (its results are graded too)."""
        raise NotImplementedError

    def guard(self) -> str | None:
        """A setup invariant the run must hold, or None."""
        return None

    def cleanup(self) -> str | None:
        """Undo what setup published; an error message if anything is left."""
        return None


class Olap(Workload):
    name = "olap"
    warm_passes = 4

    def _ops(self) -> list[Op]:
        spark = self.ctx.spark
        ops = []
        for posture, sf_dir in (("cold", self.cold), ("staged", self.staged)):
            for name, fn in bench.BENCH_QUERIES.items():
                sql = sparkflow.ORACLES[_ORACLE_KEY[name]]
                ops.append(Op(
                    name=f"{posture}.{name}", layer=f"olap.{posture}",
                    build=(lambda fn=fn, d=sf_dir: fn(spark, d)),
                    fetch=_to_pandas, check=grade(self.con, sql), oracle_sql=sql,
                    digest=(lambda d=sf_dir, t=QUERY_TABLES[name]:
                            staging.corpus_digest(d, t)),
                ))
        return ops

    def setup(self, warm) -> None:
        spark, ctx = self.ctx.spark, self.ctx
        # Set-up runs once: a second round of the seven publishers would
        # add 5-9 s to every run, which the time budget for all runs of the
        # benchmark does not leave.
        t0 = time.perf_counter()
        self.cold = os.path.join(ctx.work, "corpus_cold")
        self.staged = os.path.join(ctx.work, "corpus_staged")
        corpus.generate(self.cold, ctx.seed, OLAP_SF)
        # same bytes, fresh mtimes: a distinct staging digest per copy
        os.makedirs(self.staged)
        for f in sorted(os.listdir(self.cold)):
            shutil.copyfile(os.path.join(self.cold, f), os.path.join(self.staged, f))
        self.con = duck(self.cold)  # both copies hold the same rows
        self.ops = self._ops()
        t1 = time.perf_counter()
        # One pass over the cold half, before the publish, pays the
        # first-use costs (JIT, codegen, file caches) that a long-lived
        # driver has long paid, so the postures are written by a warm JVM.
        warm(self.ops[:len(bench.BENCH_QUERIES)])
        t2 = time.perf_counter()
        for key in POSTURE_KEYS:
            sparkflow.QUERIES[key](spark, self.staged).toPandas()
        t3 = time.perf_counter()
        self.setup_times.append((t1 - t0) + (t3 - t2))
        ctx.setup["staging.publish_s"] = t3 - t2
        ctx.setup["staging.bytes"] = _tree_bytes(staging.SHARED_ROOT)
        self.postures = {
            "cold": bench.staged_postures(self.cold),
            "staged": bench.staged_postures(self.staged),
        }
        staged_hits = sum(v != "cold" for v in self.postures["staged"].values())
        ctx.setup["staging.hits"] = staged_hits
        ctx.setup["staging.misses"] = len(bench.BENCH_QUERIES) - staged_hits
        ctx.setup["staging.cold_hits"] = sum(
            v != "cold" for v in self.postures["cold"].values())

    def guard(self) -> str | None:
        cold = [k for k, v in self.postures["cold"].items() if v != "cold"]
        staged = sum(v != "cold" for v in self.postures["staged"].values())
        if cold:
            return f"staged posture on the cold corpus: {cold}"
        if staged < len(bench.BENCH_QUERIES) - 1:
            return f"only {staged}/8 queries staged: {self.postures['staged']}"
        return None

    def cleanup(self) -> str | None:
        _clean_postures(self.cold)
        _clean_postures(self.staged)
        left = []
        for root, _dirs, files in os.walk(staging.SHARED_ROOT):
            if staging._MANIFEST in files:
                with open(os.path.join(root, staging._MANIFEST), encoding="utf-8") as fh:
                    if json.load(fh).get("sf_dir") in (self.cold, self.staged):
                        left.append(os.path.relpath(root, staging.SHARED_ROOT))
        return f"published artifacts left: {left}" if left else None


class Pipelines(Workload):
    name = "pipelines"

    def setup(self, warm) -> None:
        spark, ctx = self.ctx.spark, self.ctx
        split = []
        # Set-up runs PIPELINES_SETUPS times: generate the corpus, split its
        # events into the replay files. Only the last one is kept.
        for i in range(PIPELINES_SETUPS):
            t0 = time.perf_counter()
            sf = os.path.join(ctx.work, f"pipelines-{i}", "corpus")
            corpus.generate(sf, ctx.seed, PIPELINES_SF, n_docs=PIPELINES_DOCS)
            t1 = time.perf_counter()
            files = stateful.split_events_to_files(
                spark, sf, os.path.join(os.path.dirname(sf), "stream_split"),
                n_files=STREAM_FILES)
            t2 = time.perf_counter()
            self.setup_times.append(t2 - t0)
            split.append(t2 - t1)
            if i < PIPELINES_SETUPS - 1:
                shutil.rmtree(os.path.dirname(sf))
        ctx.setup["stream.split_s"] = statistics.median(split)
        self.con = duck(sf)
        self._n = 0
        self.ops = self._stream_ops(sf, files) + self._llm_ops(sf)

    def _stream_ops(self, sf: str, files) -> list[Op]:
        spark = self.ctx.spark
        pattern = (
            CepPattern.begin("view", etype="view")
            .followed_by("click", etype="click").optional()
            .followed_by("purchase", etype="purchase")
            .within("36 hours")
        )
        twins = {
            "tumbling_append": lambda: stateful.tumbling_append_stream(spark, files, sf),
            "cep_compiled_optional":
                lambda: pattern.compile_stream(spark, files, sf),
        }
        checks = _stream_checks(spark, sf, pattern)
        return [
            Op(name=name, layer="stream", build=mk, fetch=self._replay,
               check=checks[name],
               oracle_sql=sparkflow.ORACLES.get(STREAM_ORACLES.get(name, "")))
            for name, mk in twins.items()
        ]

    def _llm_ops(self, sf: str) -> list[Op]:
        spark = self.ctx.spark

        def check_rows(sql):
            graded = grade(self.con, sql)
            return lambda pdf: "no rows" if len(pdf) == 0 else graded(pdf)

        return [
            Op(name=key, layer="llm",
               build=(lambda key=key: sparkflow.QUERIES[key](spark, sf)),
               fetch=_to_pandas, check=check_rows(sparkflow.ORACLES[key]),
               oracle_sql=sparkflow.ORACLES[key])
            for key in LLM_KEYS
        ]

    def _replay(self, sdf) -> tuple:
        """availableNow replay into a memory sink; returns the sink rows
        and every micro-batch's progress."""
        self._n += 1
        name = f"perfbench_stream_{self._n}"
        progress = stateful.run_to_memory_progress(sdf, name)
        spark = self.ctx.spark
        pdf = spark.table(name).toPandas()
        spark.catalog.dropTempView(name)
        return pdf, {"progress": progress}


def _stream_checks(spark, sf: str, pattern) -> dict:
    """Each twin against its batch analog, as the streaming tests do."""
    q = sparkflow.QUERIES

    def tumbling(got):
        want = q["stream_tumbling"](spark, sf).toPandas()[
            ["hour_start", "event_type", "n_events"]]
        merged = got.merge(want, on=["hour_start", "event_type"],
                           suffixes=("_got", "_want"))
        if len(got) == 0:
            return "no window closed"
        if len(merged) != len(got) or not (
                merged["n_events_got"] == merged["n_events_want"]).all():
            return "closed windows disagree with the complete-mode analog"
        return None

    def compiled(got):
        want = pattern.compile(table(spark, sf, "events")).toPandas()
        if len(want) == 0:
            return "batch compile matched nothing"
        want = want.assign(match_us=_us(want["match_ts"]), start_us=_us(want["start_ts"]))
        cols = ["user_id", "match_id", "match_us", "start_us", "with_click"]
        return _frames_equal(
            got[cols].sort_values("match_id").reset_index(drop=True),
            want[cols].sort_values("match_id").reset_index(drop=True))

    return {"tumbling_append": tumbling, "cep_compiled_optional": compiled}


WORKLOADS = {w.name: w for w in (Olap, Pipelines)}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)
