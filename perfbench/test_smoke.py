"""Smoke tests of the benchmark itself: a tiny run of each workload, the
traced run's schema, and the correctness gate.

    python3 -m pytest perfbench/test_smoke.py -q

Each Spark run launches its own JVM (about a minute apiece on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from flows import Checks  # noqa: E402


def _session_pids() -> set[int]:
    """Live processes in this process's session: what a run starts and
    leaves behind stays in it, even once reparented."""
    sid, out = os.getsid(0), set()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z" and int(fields[3]) == sid:
                out.add(int(name))
    return out


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    # stdout goes to a file, not a pipe: reading a pipe to its end would
    # wait for any process that inherited it, hiding a leftover
    before = _session_pids()
    with tempfile.TemporaryFile("w+") as out:
        p = subprocess.run(
            [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
            cwd=cwd, stdout=out, stderr=subprocess.DEVNULL, text=True, timeout=600,
        )
        left = _session_pids() - before
        assert not left, f"the run left processes running: {sorted(left)}"
        out.seek(0)
        lines = out.read().strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except ValueError:
        return p.returncode, None


def _assert_schema(res: dict, expected: dict[str, str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(expected)
    for name, m in res["metrics"].items():
        assert m["unit"] == expected[name]
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_passes_the_gate(workload):
    rc, res = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--turns", "600")
    assert rc == 0
    _assert_schema(res, run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_run_reports_every_layer():
    rc, res = _bench("--workload", "markup_batch", "--seed", "4", "--seconds", "1",
                     "--trace", "1", "--turns", "600")
    assert rc == 0
    _assert_schema(res, run.PER_LAYER)
    assert res["metrics"]["checkpoint.resume_reruns"]["value"] == 0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_wrong_outputs_fail_their_operation():
    ck = Checks()
    ck.expect("counts", {"a": 1, "b": 2}, {"a": 1, "b": 2})
    ck.expect("counts", {"a": 1, "b": 3, "c": 1}, {"a": 1, "b": 2})
    ck.expect("reruns", 1, 0)
    assert (ck.attempted, ck.failed, ck.parity_errors) == (3, 2, 3)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = _bench("--workload", "markup_batch", "--seed", "1", "--seconds", "1",
                     cwd=str(tmp_path))
    assert rc != 0 and res is None
