"""Record traced runs of the benchmark next to untraced ones.

Usage (from the repository root)::

    python3 perfbench/record.py [--pairs N] [--seed S] [workload ...]

For each workload this makes ``N`` pairs of runs, untraced then traced,
on seeds ``S``, ``S+1``, ... and writes ``perfbench/results/<workload>.json``
with the end-to-end metrics of the untraced runs, the per-layer metrics
of the traced runs, the tracing overhead (traced over untraced median
unstolen round time, per pair) and the last traced run's self time per layer,
which together with the process's unspanned start-up and shut-down
account for its whole wall time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import WORK_ROOT, WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    lines = out.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"wall_s": time.time() - t0, "rounds": detail["rounds"],
            "provenance": detail["provenance"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def _layer_group(name: str) -> str:
    head, _, rest = name.partition(".")
    if head in ("verify", "call") and rest != "final":
        return f"{head}.<query>"
    return name


def record(workload: str, pairs: int, seed: int, seconds: int) -> dict:
    runs = []
    for i in range(pairs):
        untraced = _run(workload, seed + i, seconds, 0)
        traced = _run(workload, seed + i, seconds, 1)
        rounds = [statistics.median(r["unstolen_s"] for r in run["rounds"])
                  for run in (untraced, traced)]
        runs.append({"seed": seed + i, "untraced": untraced, "traced": traced,
                     "overhead": rounds[1] / rounds[0] - 1})
    last = runs[-1]
    trace = json.loads((WORK_ROOT / "traces" / f"{workload}-seed{last['seed']}.json").read_text())
    self_times: dict[str, float] = {}
    for name, secs in trace["self_times"].items():
        group = _layer_group(name)
        self_times[group] = self_times.get(group, 0.0) + secs
    spanned = sum(s["end"] - s["start"] for s in trace["spans"] if s["parent"] is None)
    return {
        "workload": workload,
        "tracing_overhead": statistics.median(r["overhead"] for r in runs),
        "runs": runs,
        "last_traced_run": {
            "process_wall_s": last["traced"]["wall_s"],
            "spanned_s": spanned,
            "unspanned_s": last["traced"]["wall_s"] - spanned,
            "self_times_s": dict(sorted(self_times.items(), key=lambda kv: -kv[1])),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=json.loads(
        (ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    args = ap.parse_args()
    out_dir = HERE / "results"
    out_dir.mkdir(exist_ok=True)
    for workload in args.workloads:
        rec = record(workload, args.pairs, args.seed, args.seconds)
        (out_dir / f"{workload}.json").write_text(json.dumps(rec, indent=1) + "\n")
        print(f"{workload}: tracing overhead {rec['tracing_overhead']:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
