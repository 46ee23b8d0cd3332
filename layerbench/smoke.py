"""Self-check of the benchmark, run from the repository root:

    python3 layerbench/smoke.py

Runs every workload once untraced and once traced at a tiny size and
asserts that the result line follows the contract: exactly the keys
``correct``, ``attempted``, ``failed``, ``metrics``; every metric that
BENCHMARK.json names for that mode, with its unit; a correct run with no
failed op; and a record showing that every output check ran. Finally runs
the benchmark in a directory holding only BENCHMARK.json and the benchmark
files, where it must fail without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TINY = {"video_e2e": ["--video-files", "200"], "queries": []}


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAIL: {msg}")


def run(root: str, workload: str, trace: int, spec: dict) -> None:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd + TINY[workload], cwd=root, capture_output=True, text=True, timeout=600)
    check(proc.returncode == 0, f"{workload} trace {trace} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    check(sorted(result) == ["attempted", "correct", "failed", "metrics"], f"result keys {sorted(result)}")
    check(result["correct"] is True and result["failed"] == 0, f"{workload}: {result} {proc.stderr[-2000:]}")
    check(isinstance(result["attempted"], int) and result["attempted"] >= 1, "attempted")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{workload} trace {trace}: metrics {sorted(got.items())} != {sorted(want.items())}")
    for name, m in result["metrics"].items():
        check(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), f"{name} value {m['value']}")
    rec_path = re.search(r"layerbench: record (\S+)", proc.stderr).group(1)
    with open(os.path.join(root, rec_path)) as fh:
        checks = json.load(fh)["result"]["checks"]
    if workload == "video_e2e":
        check(checks["shards_read_back"] == 1 and checks["ops_count_checked"] == result["attempted"], f"{checks}")
    else:
        check(checks["oracle_queries"] == 13, f"{checks}")
    print(f"smoke: ok {workload} trace {trace}: {len(got)} metrics, attempted {result['attempted']}")


def bare_dir(root: str, spec: dict) -> None:
    bare = os.path.join(root, ".layerbench_work", "smoke_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(root, path), os.path.join(bare, path), ignore=shutil.ignore_patterns("__pycache__"))
    cmd = spec["command"] + ["--workload", "queries", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare)
    check(proc.returncode != 0 and not proc.stdout.strip(), f"bare directory run: {proc.returncode} {proc.stdout!r}")
    print("smoke: ok bare directory fails without a result")


def main() -> int:
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bare_dir(root, spec)
    for workload in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            run(root, workload, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
