"""The benchmark's own tests: a tiny-input run of every workload, traced
and untraced, prints every metric named in BENCHMARK.json with its unit
and passes its output checks; a corrupted output is counted as failed;
without the engine package the benchmark refuses to run.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session (about 20-40 s on 4 cores).
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
    SPEC = json.load(f)
# dem_tiles runs from the same command but is not in BENCHMARK.json's
# list (see perfbench/LAYERS.md)
WORKLOADS = ["dem_tiles"] + [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = list(SPEC["command"]) + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny", *extra,
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_and_passes_checks(workload, trace):
    res = _result(_run(workload, trace))
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], float)
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    if not trace:
        assert res["metrics"]["ok_frac"]["value"] == 1.0
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_separates_layers():
    """The range exchange of engine.tiling only runs on strips_dem; the
    other layers report their own stages."""
    m = {k: v["value"] for k, v in _result(_run("dem_tiles", 1))["metrics"].items()}
    assert m["tiling.shuffle_write_bytes"] == 0 and m["tiling.shuffle_read_bytes"] == 0
    assert m["tin_stage.tasks"] > 0 and m["tin_stage.to_python_bytes"] > 0
    assert m["sources.scan_passes"] == 1.0


def test_corrupted_output_is_counted():
    res = _result(_run("dem_tiles", 0, "--corrupt-one-output"))
    assert res["failed"] >= 1 and res["correct"] is False
    assert res["metrics"]["ok_frac"]["value"] < 1.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("dem_tiles", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
