"""Tiny-scale self-test of the benchmark.

    python3 -m pytest perfbench/test_selftest.py -q

Runs every workload on the first 200 documents, untraced and traced, and
checks that each run names every metric of ``BENCHMARK.json`` with its unit
and checks its answers; that a shape that raises on every execution is
counted as failed and not hidden; and that the benchmark fails without the
engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from workload import SHAPES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
TINY = ["--docs", "200", "--seconds", "0"]
# runs the benchmark with every sloppy phrase raising the engine's own
# budget error, as a seeded 3-term sloppy phrase can on a big index
FAILING_SLOPPY = f"""
import sys
sys.path[:0] = [{ROOT!r}, {HERE!r}]
from lucene_spark.search import SparkSearcher
from lucene_spark.search.phrase import PhraseQueueBudgetExceeded
import run

execute = SparkSearcher.execute

def failing(self, q, *a, **kw):
    if getattr(q, "slop", 0):
        raise PhraseQueueBudgetExceeded("raised by the self-test")
    return execute(self, q, *a, **kw)

SparkSearcher.execute = failing
sys.exit(run.main(sys.argv[1:]))
"""


def _run(cwd: str, workload: str, trace: int, program=("perfbench/run.py",)
         ) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *program, "--workload", workload,
         "--seed", "7", "--trace", str(trace), *TINY],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_named_with_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    # each metric is also printed with its sample count
    for m in want:
        assert any(line.startswith(f"# {m['name']} = ") and "(n=" in line for line in lines)
    # the answer check ran on every shape
    assert any(line.startswith(f"# answers checked: {len(SHAPES)} distinct queries")
               for line in lines)


@pytest.mark.parametrize("trace", [0, 1])
def test_failing_shape_is_counted(trace):
    proc = _run(ROOT, "query_exact", trace, ("-c", FAILING_SLOPPY))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    rounds = 2 if trace else 1
    assert result["attempted"] == len(SHAPES) * rounds and result["failed"] == rounds
    assert "PhraseQueueBudgetExceeded" in proc.stdout
    want = {m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    if trace:
        # the traced round had no q_sloppy3 sample: its metrics are left out
        # and the run is not correct
        left_out = {m for m in want if m.endswith(".q_sloppy3")}
        assert left_out and set(result["metrics"]) == want - left_out
        assert not result["correct"]
        assert any(line.startswith("# not measured") for line in lines)
    else:
        assert set(result["metrics"]) == want and result["correct"]
    assert any(f"failed_op_ratio {1 / len(SHAPES):.6f}" in line for line in lines)


def test_fails_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(bare, SPEC["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
