"""The engine's benchmark: the reference's retention DAG and a query mix.

Usage (from the repository root)::

    python3 perfbench/run.py --workload dag|mix_sf0.001 --seed N \\
        --seconds S --trace 0|1

Each workload is one closed-loop client on ``local[nproc]``: a call is
issued only after the previous one returns. A *round* is one DAG run
(``dag``) or one pass over the query list (``mix_sf0.001``); a *call* is
one pipeline entry point or one query. Set-up ends with a cold round
that checks the outputs and warms the JVM; then rounds repeat until at
least ``MIN_ROUNDS`` ran and ``--seconds`` passed. Wall times are reported
without the share the hypervisor stole (``probes.Stopwatch``); the raw
wall and steal of each round are in the provenance line.

- ``dag`` runs ``pipeline.run_all`` over one warehouse on CSVs derived
  from a seeded sf0.01-sized corpus; the seed picks the increment cut
  and the refunded orders. It is the only workload that writes, so the
  ``sources`` and ``operators`` layers do its work.
- ``mix_sf0.001`` runs ``MIX_QUERIES`` against a seeded sf0.001-sized
  corpus, like ``bench.py``: a fresh RAW plan per query, the ``noop``
  sink, and the cache cleared between queries; the seed permutes the
  order of each pass. At this size plan construction costs about as
  much as execution, so plan-side changes move it most.

Outputs are checked outside the timed section. Each query is compared
once with its DuckDB oracle (``tools/oracle_check.compare_frames``) and
every timed call must then return the verified row count. Each DAG
stage's output table must keep its first row count, the staging counts
must match the CSVs, and every mart's (rows, xxhash64) fingerprint must
be a fixed point across runs. A call that raises or returns a wrong
count is failed: it is counted in ``failed``, its latency counts as
infinite, and the run exits 1. A verification mismatch exits 1 with no
result line.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``); the line before it records provenance. A traced run
also writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench"
DERIVED = ROOT / ".cache" / "derived"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import corpus, probes  # noqa: E402

#: A heap well below the host's RAM (the session default is 24g).
DRIVER_MEM = "4g"
MIN_ROUNDS = 1
CORPUS_SEED = 42

#: Eight queries from eight ``plans`` modules, chosen for what ROADMAP
#: targets: driver loops that fire jobs while their plans are built
#: (``bfs_copurchase_distances``, ``linreg_quality_train``), Python
#: workers (``chunk_documents_udtf``, ``pandas_trimmed_mean_price``) and
#: a stream start-up (``streaming_windowed_counts``), next to the
#: flagship retention query and two plain SQL shapes. The list is short
#: because each run pays a cold oracle pass before it times one.
MIX_QUERIES = (
    "retention_compact",
    "tpch_q9_product_profit",
    "window_frames_customer_orders",
    "chunk_documents_udtf",
    "bfs_copurchase_distances",
    "linreg_quality_train",
    "pandas_trimmed_mean_price",
    "streaming_windowed_counts",
)
PLAN_MODULES = ("testdata", "tpch", "relational", "llm", "warehouse", "mlops", "analytics",
                "streamq")
#: pipeline entry point -> the layer it belongs to and the table it writes
DAG_STAGES = {
    "load_snapshot": ("sources", "staging/user_order_log"),
    "load_increment": ("sources", "staging/user_order_log_inc"),
    "refresh_marts": ("operators", "mart/f_sales_v2"),
    "build_retention_mart": ("operators", "mart/retention_compact"),
}
WAREHOUSE_TABLES = ["staging/user_order_log", "staging/user_order_log_inc"] + [
    f"mart/{m}" for m in ("d_calendar", "d_customer", "d_item", "f_sales", "f_sales_v2",
                          "d_calendar_weeks", "retention_compact", "f_customer_retention")]

E2E_UNITS = {
    "setup_s": "s",
    "round_s": "s",
    "call_p50_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "setup.verify_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    **{f"plans.{m}.{k}_s": "s" for m in PLAN_MODULES for k in ("build", "exec")},
    "sources.load_snapshot_s": "s",
    "sources.load_increment_s": "s",
    "sources.jobs": "count",
    "sources.bytes_written": "bytes",
    "sources.bytes_written_ratio": "ratio",
    "operators.refresh_marts_s": "s",
    "operators.build_retention_mart_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "pipeline.self_s": "s",
    "jvm.cpu_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "python_worker.cpu_s": "s",
    "driver.cpu_s": "s",
    "host.cpu_utilization": "ratio",
    "host.steal_s": "s",
    "host.peak_rss_mb": "MB",
    "artifacts.built": "count",
    "artifacts.bytes": "bytes",
    "artifacts.setup_built": "count",
    "artifacts.setup_bytes": "bytes",
}


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "dag" or "mix"
    scale: str
    queries: tuple[str, ...] = ()


WORKLOADS = {w.name: w for w in (
    Workload("dag", "dag", "sf0.01"),
    Workload("mix_sf0.001", "mix", "sf0.001", MIX_QUERIES),
)}


class VerificationError(Exception):
    """An output differed from its oracle or from its verified value."""


@dataclass
class Call:
    name: str
    seconds: float  # unstolen wall time (see ``probes.Stopwatch``)
    ok: bool
    error: str | None = None


@dataclass
class Round:
    seconds: float = 0.0  # unstolen wall time
    wall_s: float = 0.0
    steal_s: float = 0.0
    calls: list[Call] = field(default_factory=list)

    def stop(self, watch: probes.Stopwatch) -> Round:
        self.wall_s, self.seconds, self.steal_s = watch.stop()
        return self

    @property
    def ok(self) -> bool:
        return all(c.ok for c in self.calls)


def pin_environment(work: Path) -> dict[str, str]:
    """Fix what the session reads from the environment before it starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    old_path = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + ([old_path] if old_path else [])),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # fixed JIT compiler threads: one that exits would take its CPU out
        # of the per-thread sum that ``jvm.jit_s`` reads
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def load_engine():
    """Import the engine's public entry points from the checkout."""
    import __spark_entry__  # noqa: F401  (registers every query)
    from de_project_sprint_etl_spark import pipeline
    from de_project_sprint_etl_spark.plans import registry
    from de_project_sprint_etl_spark.session import get_spark

    if not Path(pipeline.__file__).resolve().is_relative_to(ROOT):
        raise ImportError(f"the engine was imported from {pipeline.__file__}, not the checkout")
    path = ROOT / "tools" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    if spec is None or not path.exists():
        raise ImportError(f"no {path}")
    oracle_check = importlib.util.module_from_spec(spec)
    saved = list(sys.path)  # the module prepends a fixed path of its own
    try:
        spec.loader.exec_module(oracle_check)
    finally:
        sys.path[:] = saved
    return pipeline, registry, get_spark, oracle_check


def _dir_entries(path: Path, prefix: str = "") -> dict[str, int]:
    """Top-level entries of ``path`` whose names start with ``prefix``,
    with their total size in bytes."""
    if not path.is_dir():
        return {}
    return {e.name: _tree_bytes(Path(e.path)) for e in os.scandir(path)
            if e.name.startswith(prefix)}


def artifact_prefix(work: Path) -> str:
    """Name prefix of the derived artifacts built from inputs under ``work``.

    The engine names an artifact after its corpus path with ``/`` turned
    into ``_`` (``plans/testdata.py``, ``plans/llm.py``), so this prefix
    picks out the run's own artifacts and leaves alone those of anything
    else that uses the checkout's cache at the same time, such as a test
    session."""
    return str(work).strip("/").replace("/", "_") + "_"


def _tree_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Bench:
    """One benchmark run: set-up, the checked cold round, the timed rounds."""

    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool,
                 work: Path, queries: dict | None = None, oracles: dict | None = None):
        self.wl, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.pipeline, self.registry, get_spark, self.oracle_check = load_engine()
        self.queries = queries or {n: self.registry.RAW_QUERIES[n] for n in workload.queries}
        self.oracles = oracles or {n: self.registry.ORACLES[n] for n in workload.queries}
        self.tracer = probes.Tracer(trace, run_id=f"{workload.name}-{seed}-{os.getpid()}")
        self.artifacts_own = artifact_prefix(work)
        self.artifacts_before = _dir_entries(DERIVED, self.artifacts_own)
        with self.tracer.span("session"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench",
                                   extra_conf={"spark.ui.showConsoleProgress": "false"})
            self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = probes.Jvm(self.spark)
        self.tree = probes.ProcessTree(self.jvm.pid)
        self.tracer.attach(self.spark.sparkContext, self.tree, self.jvm)
        self.data = work / "data"
        self.setup_split: dict[str, float] = {}
        self.verified: dict[str, int] = {}
        self.rounds: list[Round] = []

    # ---- shared -----------------------------------------------------------

    @contextmanager
    def _phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup_split[name] = time.perf_counter() - t0

    def run(self, process_start: float) -> dict:
        setup_watch = probes.Stopwatch()
        with self._phase("setup.inputs"):
            self._inputs()
        with self._phase("setup.verify"):
            self._verify()
        self.spark.sparkContext._jvm.System.gc()
        wall, unstolen, _ = setup_watch.stop()
        self.setup_wall_s = time.time() - process_start
        self.setup_s = self.setup_wall_s * unstolen / wall
        self.artifacts_setup = _dir_entries(DERIVED, self.artifacts_own)
        cpu0, gc0 = self.tree.cpu(), self.jvm.gc_s()
        timed_watch = probes.Stopwatch()
        with self.tracer.span("timed"):
            while len(self.rounds) < MIN_ROUNDS or timed_watch.stop()[0] < self.seconds:
                rnd = self._round(1 + len(self.rounds))
                self.rounds.append(rnd)
                self._check_round(rnd)
        self.timed_s, _, timed_steal = timed_watch.stop()
        cpu1 = self.tree.cpu()
        self.timed_counters = {
            "steal_s": timed_steal,
            "gc_s": self.jvm.gc_s() - gc0,
            **{f"{k}_cpu_s": cpu1[k] - cpu0[k] for k in cpu1},
        }
        self.artifacts_timed = {k: v for k, v in _dir_entries(DERIVED, self.artifacts_own).items()
                                if k not in self.artifacts_setup}
        with self.tracer.span("verify.final"):
            self._final_check()
        self.peak_rss_mb = self.tree.peak_rss_mb()
        return self.result()

    def _round(self, index: int) -> Round:
        return self._dag_round() if self.wl.kind == "dag" else self._mix_pass(index)

    def _check_round(self, rnd: Round) -> None:
        if self.wl.kind == "dag" and rnd.ok:
            self._check_dag_counts(rnd)

    def _final_check(self) -> None:
        # a failed round is already reported; its tables need not match
        if self.wl.kind == "dag" and all(r.ok for r in self.rounds):
            after = self._table_stats(WAREHOUSE_TABLES, fingerprint=True)
            moved = sorted(k for k in after if after[k] != self.fingerprints[k])
            if moved:
                raise VerificationError(f"tables are not a fixed point across runs: {moved}")

    def close(self) -> None:
        """Stop the session and wait until its JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---- dag ----------------------------------------------------------------

    def _inputs(self) -> None:
        if self.wl.kind == "dag":
            corpus.write_tables(str(self.data), self.wl.scale, CORPUS_SEED, corpus.PIPELINE_TABLES)
            self.src = self.work / "src"
            self.csv_counts = corpus.write_pipeline_csvs(str(self.data), str(self.src), self.seed)
            self.csv_bytes = _tree_bytes(self.src)
            self.warehouse = self.work / "warehouse"
        else:
            corpus.write_tables(str(self.data), self.wl.scale, CORPUS_SEED)

    def _dag_round(self) -> Round:
        rnd = Round()
        originals = {name: getattr(self.pipeline, name) for name in DAG_STAGES}

        def timed(name, fn):
            layer = DAG_STAGES[name][0]

            def call(*args, **kwargs):
                watch = probes.Stopwatch()
                try:
                    with self.tracer.span(f"{layer}.{name}", jobs=True):
                        out = fn(*args, **kwargs)
                except Exception as exc:
                    rnd.calls.append(Call(name, watch.stop()[1], False, repr(exc)[:300]))
                    raise
                rnd.calls.append(Call(name, watch.stop()[1], True))
                return out
            return call

        for name, fn in originals.items():
            setattr(self.pipeline, name, timed(name, fn))
        watch = probes.Stopwatch()
        try:
            with self.tracer.span("pipeline.run_all"):
                self.pipeline.run_all(self.spark, str(self.src), str(self.warehouse))
        except Exception as exc:
            if rnd.ok:  # it failed outside the four entry points
                rnd.calls.append(Call("run_all", watch.stop()[1], False, repr(exc)[:300]))
        finally:
            for name, fn in originals.items():
                setattr(self.pipeline, name, fn)
        return rnd.stop(watch)

    def _table_stats(self, rels: list[str], fingerprint: bool) -> dict[str, tuple[int, int]]:
        """(rows, xor of row xxhash64s) of each warehouse table, in one job;
        without ``fingerprint`` the hash is 0."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        frames = []
        for rel in rels:
            df = self.spark.read.parquet(str(self.warehouse / rel))
            h = (F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
                 if fingerprint else F.lit(0).cast("long"))
            frames.append(df.select(F.lit(rel).alias("t"), h.alias("h")))
        rows = functools.reduce(DataFrame.unionByName, frames).groupBy("t").agg(
            F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")).collect()
        found = {r["t"]: (int(r["n"]), int(r["x"])) for r in rows}
        return {rel: found.get(rel, (0, 0)) for rel in rels}

    def _verify(self) -> None:
        if self.wl.kind == "mix":
            self._verify_mix()
            return
        # the first DAG run is the cold run; its outputs are the reference
        rnd = self._dag_round()
        if not rnd.ok or len(rnd.calls) != len(DAG_STAGES):
            raise VerificationError(f"the first DAG run failed: {[c.error for c in rnd.calls]}")
        self.fingerprints = self._table_stats(WAREHOUSE_TABLES, fingerprint=True)
        c = self.csv_counts
        expected = {
            "load_snapshot": c["user_order_log"],
            "load_increment": c["user_order_log_inc"],
            "refresh_marts": c["user_order_log"] + c["user_order_log_inc"],
        }
        for name, (_, rel) in DAG_STAGES.items():
            got = self.fingerprints[rel][0]
            if name in expected and got != expected[name]:
                raise VerificationError(f"{rel}: {got} rows, the CSVs hold {expected[name]}")
            self.verified[name] = got

    def _check_dag_counts(self, rnd: Round) -> None:
        counts = self._table_stats([rel for _, rel in DAG_STAGES.values()], fingerprint=False)
        for call in rnd.calls:
            got = counts[DAG_STAGES[call.name][1]][0]
            if got != self.verified[call.name]:
                call.ok = False
                call.error = f"{got} rows, verified {self.verified[call.name]}"

    # ---- mix ----------------------------------------------------------------

    def _verify_mix(self) -> None:
        import duckdb

        from de_project_sprint_etl_spark.schemas import TESTDATA_TABLES

        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data / (t + '.parquet')}')")
            for name, fn in self.queries.items():
                with self.tracer.span(f"verify.{name}"):
                    try:
                        sdf = fn(self.spark, str(self.data)).toPandas()
                    finally:
                        self.spark.catalog.clearCache()
                    odf = con.execute(self.oracles[name]).df()
                verdict = self.oracle_check.compare_frames(sdf, odf)
                if verdict["err"]:
                    raise VerificationError(f"{name}: {verdict['err']}")
                self.verified[name] = len(sdf)
        finally:
            con.close()

    def _mix_pass(self, index: int) -> Round:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        order = list(self.queries)
        random.Random(self.seed * 1_000_003 + index).shuffle(order)
        rnd = Round()
        pass_watch = probes.Stopwatch()
        with self.tracer.span("pass"):
            for name in order:
                fn = self.queries[name]
                module = fn.__module__.rsplit(".", 1)[-1]
                watch = probes.Stopwatch()
                ok, error = True, None
                try:
                    with self.tracer.span(f"call.{name}"):
                        with self.tracer.span(f"plans.{module}.build", jobs=True):
                            df = fn(self.spark, str(self.data))
                        obs = Observation(f"perfbench_{index}_{name}")
                        with self.tracer.span(f"plans.{module}.exec", jobs=True):
                            (df.observe(obs, F.count(F.lit(1)).alias("n"))
                             .write.format("noop").mode("overwrite").save())
                        rows = obs.get["n"]
                    if rows != self.verified[name]:
                        ok, error = False, f"{rows} rows, verified {self.verified[name]}"
                except Exception as exc:
                    ok, error = False, repr(exc)[:300]
                rnd.calls.append(Call(name, watch.stop()[1], ok, error))
                self.spark.catalog.clearCache()
        return rnd.stop(pass_watch)

    # ---- results -------------------------------------------------------------

    def result(self) -> dict:
        calls = [c for r in self.rounds for c in r.calls]
        failed = [c for c in calls if not c.ok]
        inf = float("inf")
        e2e = {
            "setup_s": self.setup_s,
            "round_s": statistics.median(r.seconds if r.ok else inf for r in self.rounds),
            "call_p50_s": statistics.median(c.seconds if c.ok else inf for c in calls),
        }
        out = {
            "correct": not failed,
            "attempted": len(calls),
            "failed": len(failed),
            "errors": [f"{c.name}: {c.error}" for c in failed][:20],
            "e2e": e2e,
            "rounds": [{"unstolen_s": round(r.seconds, 4), "wall_s": round(r.wall_s, 4),
                        "steal_s": round(r.steal_s, 2)} for r in self.rounds],
            "setup_wall_s": round(self.setup_wall_s, 3),
            "calls": {n: [round(c.seconds, 4) for c in calls if c.name == n]
                      for n in dict.fromkeys(c.name for c in calls)},
        }
        if self.tracer.enabled:
            out["layers"] = self.layers()
            out["self_times"] = self.tracer.self_times()
        return out

    def layers(self) -> dict[str, float]:
        """Per-layer metrics of the timed section, per round."""
        n = len(self.rounds)
        spans = self.tracer.spans
        start = next(i for i, s in enumerate(spans) if s.name == "timed")
        child_s = [0.0] * len(spans)
        for s in spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out = {k: 0.0 for k in LAYER_UNITS}

        def add(key, value):
            out[key] += value / n

        for i, s in enumerate(spans[start + 1:], start + 1):
            dur = s.end - s.start
            parts = s.name.split(".")
            if parts[0] == "plans" and len(parts) == 3:
                add(f"plans.{parts[2]}_s" if parts[2] == "build" else "exec.s", dur)
                if f"plans.{parts[1]}.{parts[2]}_s" in out:
                    add(f"plans.{parts[1]}.{parts[2]}_s", dur)
                if parts[2] == "build":
                    add("plans.build_jobs", s.counters.get("jobs", 0))
                else:
                    for k in ("jobs", "stages", "tasks", "failed_tasks"):
                        add(f"exec.{k}", s.counters.get(k, 0))
            elif parts[0] in ("sources", "operators"):
                add(f"{parts[0]}.{parts[1]}_s", dur)
                add(f"{parts[0]}.jobs", s.counters.get("jobs", 0))
                if parts[0] == "operators":
                    add("operators.stages", s.counters.get("stages", 0))
                    add("operators.tasks", s.counters.get("tasks", 0))
            elif s.name == "pipeline.run_all":
                add("pipeline.self_s", dur - child_s[i])
        busy = out["plans.build_s"] + out["exec.s"]
        out["plans.build_share"] = out["plans.build_s"] / busy if busy else 0.0
        if self.wl.kind == "dag":
            staging = _tree_bytes(self.warehouse / "staging")
            out["sources.bytes_written"] = staging
            out["sources.bytes_written_ratio"] = _tree_bytes(self.warehouse) / self.csv_bytes
        tc = self.timed_counters
        for key, counter in (("jvm.cpu_s", "jvm_cpu_s"), ("jvm.jit_s", "jit_cpu_s"),
                             ("jvm.gc_s", "gc_s"), ("python_worker.cpu_s", "python_worker_cpu_s"),
                             ("driver.cpu_s", "driver_cpu_s")):
            out[key] = tc[counter] / n
        cpu = tc["jvm_cpu_s"] + tc["python_worker_cpu_s"] + tc["driver_cpu_s"]
        out["host.cpu_utilization"] = cpu / (self.timed_s * len(os.sched_getaffinity(0)))
        out["host.steal_s"] = tc["steal_s"]
        out["host.peak_rss_mb"] = self.peak_rss_mb
        out["artifacts.built"] = len(self.artifacts_timed)
        out["artifacts.bytes"] = sum(self.artifacts_timed.values())
        setup_new = {k: v for k, v in self.artifacts_setup.items() if k not in self.artifacts_before}
        out["artifacts.setup_built"] = len(setup_new)
        out["artifacts.setup_bytes"] = sum(setup_new.values())
        out["session.start_s"] = self.session_s
        for phase in ("setup.inputs", "setup.verify"):
            out[f"{phase}_s"] = self.setup_split[phase]
        return out


def source_digest() -> str:
    """sha256 over the engine's Python sources (the checkout may not be a
    git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    for path in sorted((ROOT / "de_project_sprint_etl_spark").rglob("*.py")):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def run(workload: Workload, seed: int, seconds: float, trace: bool,
        queries: dict | None = None, oracles: dict | None = None) -> dict:
    """Run one workload in a scratch directory under the checkout; returns
    the result dict (see ``Bench.result``) plus provenance."""
    process_start = time.time() - probes.process_age_s()
    work = WORK_ROOT / f"{workload.name}-{os.getpid()}-{seed}"
    env = pin_environment(work)
    bench = None
    try:
        bench = Bench(workload, seed, seconds, trace, work, queries, oracles)
        result = bench.run(process_start)
        steal_run = bench.timed_counters["steal_s"]
        if trace:
            traces = WORK_ROOT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            record = {"workload": workload.name, "seed": seed, "rounds": result["rounds"],
                      "self_times": result["self_times"],
                      "spans": bench.tracer.to_json(bench.tracer.spans[0].start)}
            (traces / f"{workload.name}-seed{seed}.json").write_text(json.dumps(record))
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        for name in _dir_entries(DERIVED, artifact_prefix(work)):
            shutil.rmtree(DERIVED / name, ignore_errors=True)
    result["provenance"] = {
        "workload": workload.name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "nproc": len(os.sched_getaffinity(0)), "commit": git_commit(),
        "source_digest": source_digest(), "steal_s": steal_run,
        "setup_split": {k: round(v, 3) for k, v in bench.setup_split.items()},
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }
    return result


def result_line(result: dict, trace: bool) -> dict:
    """The result line: the end-to-end or the per-layer metrics."""
    values = result["layers"] if trace else result["e2e"]
    units = LAYER_UNITS if trace else E2E_UNITS
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k] if values[k] != float("inf") else None,
                        "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    except VerificationError as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        return 1
    for err in result["errors"]:
        print(f"perfbench: failed call {err}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("provenance", "setup_wall_s", "rounds", "calls")}))
    print(json.dumps(result_line(result, bool(args.trace))))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
