"""Smoke test of the benchmark at sf0.001 (about 4 minutes on 4 cores).

    python3 -m pytest perfbench/tests -q

Runs every workload untraced and traced through the real command line and
checks the output contract: every metric named in BENCHMARK.json appears
with its unit, the per-iteration output checks pass, and the traced run
emits a span for every layer the workload calls.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

LAYERS = {
    "cli_partitions": {
        "io.scan", "engine.row_violations", "fused.conv_scoped_violations", "fused.plan",
        "io.write_violations", "presets.verdicts_from_metadata", "validate.main",
        "checkpoint.save_manifest", "checkpoint.load_manifest",
        "drift.sketch_by_partition", "drift.drift_verdicts",
    },
    "profile_drift": {
        "io.scan", "stats.column_stats", "stats.length_histogram", "stats.hll_sketches",
        "drift.sketch_by_partition", "drift.drift_verdicts",
    },
}


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "5", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_workloads_and_layers_cover_each_other():
    assert {w["name"] for w in BENCH["workloads"]} == set(LAYERS)
    per_layer = {m["name"] for m in BENCH["per_layer"]}
    for layer in set().union(*LAYERS.values()) - {"validate.main"}:
        assert f"{layer}_s" in per_layer


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_run(workload, trace):
    proc = bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 3

    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))

    assert lines[-2].startswith("raw ")
    with open(os.path.join(ROOT, json.loads(lines[-2][4:])["file"])) as f:
        raw = json.load(f)
    assert len(raw["iteration_s"]) == res["attempted"]
    assert raw["nproc"] >= 1 and raw["input_turns"] > 0
    if trace:
        spans = raw["spans"]
        assert LAYERS[workload] <= {s["name"] for s in spans}
        ids = {s["id"] for s in spans}
        for s in spans:
            assert s["parent"] is None or s["parent"] in ids
            assert s["end_s"] >= s["start_s"] and s["self_s"] >= -1e-6
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_program():
    """Only BENCHMARK.json and the benchmark's own files: no result, non-zero exit."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("cli_partitions", 0, cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
