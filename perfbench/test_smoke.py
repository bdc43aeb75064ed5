"""The benchmark's own tests.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs in smoke mode (sf0.001 inputs, a few operations),
untraced and traced. Each run must pass every correctness gate, fail no
operation, and print every metric of BENCHMARK.json by name with its
unit. The benchmark must also refuse to run without the repository.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import CHAIN, E2E_UNITS, LAYER_UNITS, WORKLOADS, _nested_shapes  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

GATES = {
    "reshape_mix": {f"reshape_mix.shape{i}" for i in range(len(_nested_shapes()))}
    | {"reshape_mix.avro_roundtrip", "reshape_mix.apply_batch1", "reshape_mix.apply_batch64"},
    "operator_chain": {f"operator_chain.{name}" for name in CHAIN},
}


def _run(args, cwd, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def test_catalogue_matches_benchmark_json():
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == LAYER_UNITS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(workload, trace):
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
                cwd=ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in expected}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    gates = dict(line[len("# gate "):].rsplit(": ", 1) for line in lines if line.startswith("# gate "))
    assert set(gates) == GATES[workload]
    assert set(gates.values()) == {"pass"}


def test_refuses_without_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "reshape_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
