#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, at
a tiny corpus scale, prints every metric BENCHMARK.json names with
``failed == 0``; and a directory holding only the benchmark (no
tokseq) makes it exit non-zero without a result.

    python3 perfbench/smoke_test.py      # or: python3 -m pytest perfbench/smoke_test.py

Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    cmd[0] = sys.executable
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_every_workload_prints_every_metric():
    for wl in (w["name"] for w in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, wl, trace)
            assert p.returncode == 0, p.stderr[-4000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, (wl, trace, res)
            assert res["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (wl, trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float))
                       for v in res["metrics"].values())


def test_refuses_without_the_program():
    bare = ROOT / ".perfbench_work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        p = _run(bare, SPEC["workloads"][0]["name"], 0)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.parent.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    test_refuses_without_the_program()
    test_every_workload_prints_every_metric()
    print("perfbench smoke test: ok")
