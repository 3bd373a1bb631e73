"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke_test.py
    python3 -m pytest perfbench/smoke_test.py

Runs every workload named in BENCHMARK.json with ``--size tiny`` (an
sf0.001 table set, a 50-node NetGameSim pair), untraced and traced. Each
run must exit 0, report ``correct`` with no failed operation, and print
exactly the metric names BENCHMARK.json lists for its mode. In the
traced runs every layer the workload calls must have run Spark jobs
inside its spans, and the part of the op wall that no span covers must
stay below ``MAX_UNCOVERED`` of it: a span that timed only plan building
would leave its jobs to ``pipeline.py``'s own checkpoints, outside every
span. Last, a directory holding only
BENCHMARK.json and the benchmark's own files must make the benchmark
exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

#: layers each workload calls, whose spans must contain Spark jobs
LAYERS = {
    "mitm_ngs": ["sources", "walks", "simrank", "walk_simrank", "matching", "stats"],
    "graph_queries": ["sources", "graphalg"],
}
#: largest share of the traced op wall that may lie outside every span
MAX_UNCOVERED = 0.25


def run(workload: str, trace: int, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def check_workload(workload: str) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        rc, lines = run(workload, trace)
        assert lines, f"{workload} trace={trace}: no output (rc={rc})"
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        assert rc == 0, f"{workload} trace={trace}: rc={rc} {detail['errors']}"
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and detail["error_rate"] == 0
        names = {m["name"] for m in SPEC[key]}
        assert set(res["metrics"]) == names, set(res["metrics"]) ^ names
        for m in SPEC[key]:
            assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        if trace:
            mt = {k: v["value"] for k, v in res["metrics"].items()}
            for layer in LAYERS[workload]:
                assert mt[f"spark.{layer}.jobs"] > 0, f"{workload}: no jobs in {layer} spans"
            assert mt["trace.uncovered_s"] < MAX_UNCOVERED * mt["trace.op_wall_s"], (
                workload, mt["trace.uncovered_s"], mt["trace.op_wall_s"])


def test_mitm_ngs() -> None:
    check_workload("mitm_ngs")


def test_graph_queries() -> None:
    check_workload("graph_queries")


def test_all_workloads_covered() -> None:
    assert {w["name"] for w in SPEC["workloads"]} == {"mitm_ngs", "graph_queries"}


def test_fails_without_engine() -> None:
    work = ROOT / ".perfbench_work"
    work.mkdir(exist_ok=True)
    bare = Path(tempfile.mkdtemp(prefix="bare-", dir=work))
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        assert rc != 0
        assert not any(line.startswith('{"correct"') for line in lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for t in (test_all_workloads_covered, test_fails_without_engine,
              test_mitm_ngs, test_graph_queries):
        t()
        print(f"ok {t.__name__}", flush=True)
