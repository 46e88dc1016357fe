"""Smoke mode runs every workload once at sf0.001 and prints every metric
named in BENCHMARK.json; without the program the benchmark fails cleanly."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--smoke", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    printed = {line.split()[1] for line in p.stdout.splitlines() if line.startswith("metric ")}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert m["name"] in printed
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    value = {k: v["value"] for k, v in result["metrics"].items()}
    # the layers each gated workload is there to measure are not left at 0
    for name in MOVES_ON[workload]:
        assert value[name] > 0, name


MOVES_ON = {
    "explore": [m["name"] for m in SPEC["per_layer"] if m["name"].startswith("slots.")] + [
        "plan.scans", "plan.exchanges", "plan.python_nodes", "plans.result_rows",
        "operators.histogram.call_s", "operators.stats.call_s", "viz.to_pandas_s",
        "operators.similarity.topk_s", "sources.sinks.index_write_s", "sources.sinks.index_load_s",
    ],
    "curate_10x": [
        "plan.scans", "plan.exchanges", "plan.codegen_stages", "plans.result_rows",
        "pipeline.curate_s", "sources.sinks.shard_write_s", "sources.sinks.written_mb",
        "spark.shuffle_write_mb",
    ],
}


def test_without_the_program_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
