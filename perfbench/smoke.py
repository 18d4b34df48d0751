"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Checks that BENCHMARK.json declares exactly the metrics the worker emits,
then runs every workload untraced and traced (its fixed operations) and
checks that the result line carries every declared metric with its unit,
that the outputs were correct, and that a directory holding only the
benchmark (no package) makes the command fail without a result. Exits
non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from worker import END_TO_END, per_layer_units  # noqa: E402


def check(ok: bool, what: str, detail: str = "") -> None:
    if not ok:
        sys.exit(f"FAIL: {what}\n{detail}")
    print(f"ok: {what}")


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=200,
    )


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    check(declared[0] == END_TO_END, "end-to-end metrics match the worker's")
    check(declared[1] == per_layer_units(), "per-layer metrics match the worker's")

    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            p = run(ROOT, w, trace)
            check(p.returncode == 0, f"{w} trace={trace} exits 0", p.stderr[-2000:])
            result = json.loads(p.stdout.strip().splitlines()[-1])
            check(
                set(result) == {"correct", "attempted", "failed", "metrics"}
                and result["correct"] and result["failed"] == 0
                and result["attempted"] >= 1,
                f"{w} trace={trace} result is correct",
            )
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == declared[trace], f"{w} trace={trace} emits every metric with its unit")
            if trace == 0:
                check(
                    all(v["value"] > 0 for v in result["metrics"].values()),
                    f"{w} end-to-end metrics are non-zero",
                )

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(bare, bench["workloads"][0]["name"], 0)
        check(p.returncode != 0 and not p.stdout.strip(),
              "without the package the command fails and prints no result")
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    main()
