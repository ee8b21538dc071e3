"""Smoke test of the benchmark itself (two to three minutes on 4 cores).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs at a hundredth of the default input size (sf0.001
row counts) and reports every metric ``BENCHMARK.json`` names; a
deliberately corrupted output is flagged by the checker; the inputs at
full size have the shape measured on the sf0.1 reference data; and
without the engine package the command fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "3",
           "--seconds", "1", "--scale", "0.01", *extra]
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def _names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


# one traced and one untraced run; the corrupted run below is untraced too
@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], i % 2 == 0) for i, w in enumerate(SPEC["workloads"])],
)
def test_workload_runs_clean(workload, trace):
    code, res = _run("--workload", workload, "--trace", str(int(trace)))
    assert code == 0 and res is not None
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = _names("per_layer" if trace else "end_to_end")
    assert set(res["metrics"]) == want
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name]
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_checker_flags_corrupted_output():
    code, res = _run("--workload", SPEC["workloads"][0]["name"], "--trace", "0", "--corrupt")
    assert code == 0 and res is not None
    assert not res["correct"] and res["failed"] == 1


def test_generated_inputs_follow_sf01_shape(tmp_path):
    sys.path.insert(0, HERE)
    import gen
    import shape

    gen.generate("batch_session", 1, str(tmp_path))
    assert shape.differences(shape.shape(str(tmp_path))) == []


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = _run("--workload", SPEC["workloads"][0]["name"], "--trace", "0",
                     cwd=str(tmp_path))
    assert code != 0 and res is None
