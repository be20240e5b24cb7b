"""Tests of the benchmark itself, at a tiny size.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The Spark tests start one JVM each (about a minute in all on 4 cores).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import corpus, probes
from perfbench import run as bench

ROOT = Path(bench.__file__).resolve().parents[1]


def test_benchmark_json_names_every_metric_the_harness_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.LAYER_UNITS


def test_mix_queries_cover_the_listed_plan_modules():
    from de_project_sprint_etl_spark.plans import registry

    import __spark_entry__  # noqa: F401

    modules = {registry.RAW_QUERIES[n].__module__.rsplit(".", 1)[-1]
               for n in bench.MIX_QUERIES}
    assert modules == set(bench.PLAN_MODULES)
    assert all(n in registry.ORACLES for n in bench.MIX_QUERIES)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = corpus.write_tables(str(tmp_path / "a"), "sf0.001", 7, corpus.PIPELINE_TABLES)
    b = corpus.write_tables(str(tmp_path / "b"), "sf0.001", 7, corpus.PIPELINE_TABLES)
    assert a == b
    for t in corpus.PIPELINE_TABLES:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    cuts = {
        seed: corpus.write_pipeline_csvs(str(tmp_path / "a"), str(tmp_path / f"src{seed}"), seed)
        for seed in (1, 2, 1)
    }
    assert cuts[1] == corpus.write_pipeline_csvs(str(tmp_path / "a"), str(tmp_path / "again"), 1)
    assert (tmp_path / "src1" / "user_order_log_inc.csv").read_bytes() != (
        tmp_path / "src2" / "user_order_log_inc.csv").read_bytes()


def test_self_times_add_up_to_the_root_span():
    tracer = probes.Tracer(True, "t")
    with tracer.span("root"):
        with tracer.span("child"):
            with tracer.span("leaf"):
                sum(range(10_000))
        with tracer.span("child"):
            pass
    root = tracer.spans[0]
    assert sum(tracer.self_times().values()) == pytest.approx(root.end - root.start)
    assert [s.parent for s in tracer.spans] == [None, 0, 1, 0]


def test_cleanup_takes_only_the_runs_own_artifacts(tmp_path):
    from de_project_sprint_etl_spark.plans import llm

    work = tmp_path / "mix-1-5"
    corpora = [work / "data", tmp_path / "mix-1-50" / "data", tmp_path / "tests"]
    for corpus_dir in corpora:
        corpus_dir.mkdir(parents=True)
        (corpus_dir / "documents.parquet").write_bytes(b"")
    own = bench.artifact_prefix(work)
    names = [llm._artifact_path(str(c), "docs").parent.name for c in corpora]
    assert names[0].startswith(own)
    assert not any(n.startswith(own) for n in names[1:])


def test_a_checkout_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "results", "tests"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dag", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={"PATH": "/usr/bin:/bin"},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def _assert_prints_every_metric(result, trace):
    line = json.loads(json.dumps(bench.result_line(result, trace)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    units = bench.LAYER_UNITS if trace else bench.E2E_UNITS
    assert {k: v["unit"] for k, v in line["metrics"].items()} == units
    return line


def test_dag_at_a_tiny_size_prints_every_metric():
    result = bench.run(bench.Workload("dag", "dag", "sf0.001"), seed=3, seconds=0, trace=True)
    e2e = _assert_prints_every_metric(result, trace=False)
    layers = _assert_prints_every_metric(result, trace=True)
    assert e2e["correct"] and e2e["failed"] == 0 and e2e["attempted"] == 4 * bench.MIN_ROUNDS
    assert all(v["value"] > 0 for v in e2e["metrics"].values())
    m = {k: v["value"] for k, v in layers["metrics"].items()}
    assert m["sources.jobs"] > 0 and m["operators.jobs"] > 0 and m["artifacts.built"] == 0
    assert 0 < m["sources.bytes_written_ratio"]


def _flaky(rows_later: int | None):
    """A query that returns 3 rows the first time; later it either raises
    (``rows_later`` None) or returns ``rows_later`` rows."""
    calls = {"n": 0}

    def query(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            return spark.range(3)
        if rows_later is None:
            raise RuntimeError("injected failure")
        return spark.range(rows_later)

    return query


def test_injected_failures_are_counted_not_hidden():
    from de_project_sprint_etl_spark.plans import registry

    import __spark_entry__  # noqa: F401

    good = "window_frames_customer_orders"
    oracle = "SELECT range AS id FROM range(3)"
    queries = {good: registry.RAW_QUERIES[good], "raises": _flaky(None), "wrong_rows": _flaky(4)}
    oracles = {good: registry.ORACLES[good], "raises": oracle, "wrong_rows": oracle}
    result = bench.run(bench.Workload("mix_test", "mix", "sf0.001"), seed=1, seconds=0,
                       trace=False, queries=queries, oracles=oracles)
    line = _assert_prints_every_metric(result, trace=False)
    rounds = bench.MIN_ROUNDS
    assert line["attempted"] == 3 * rounds
    assert line["failed"] == 2 * rounds and not line["correct"]
    assert any("injected failure" in e for e in result["errors"])
    assert any(e.startswith("wrong_rows: 4 rows, verified 3") for e in result["errors"])
    # every pass failed, so no pass time is reported as if it had succeeded
    assert line["metrics"]["round_s"]["value"] is None


def test_an_oracle_mismatch_stops_the_run():
    oracle = "SELECT range AS id FROM range(2)"
    with pytest.raises(bench.VerificationError, match="rowcount"):
        bench.run(bench.Workload("mix_test", "mix", "sf0.001"), seed=1, seconds=0, trace=False,
                  queries={"three_rows": lambda spark, sf_dir: spark.range(3)},
                  oracles={"three_rows": oracle})
