"""Self-test of the benchmark: a tiny run of every workload, traced and
untraced, must print every metric BENCHMARK.json names, with its unit,
and pass its own output checks; and outside a checkout the benchmark
must fail without printing a result.

    python3 perfbench/selftest.py      # from the root of a checkout; ~3 min
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_output(spec: dict, workload: str, trace: int, proc) -> list[str]:
    problems = []
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit code {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{where}: checks failed: {proc.stdout[-3000:]}")
    want = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    if got != want:
        problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                        f"missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}, "
                        f"units {sorted((k, got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k])}")
    for name, m in result["metrics"].items():
        if not isinstance(m["value"], (int, float)):
            problems.append(f"{where}: {name} is not a number")
    return problems


def check_outside_checkout(root: str, workload: str) -> list[str]:
    """A directory with only BENCHMARK.json and the benchmark's files."""
    bare = os.path.join(root, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(root, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_bench(bare, workload, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"outside a checkout: exit {proc.returncode}, stdout {proc.stdout!r}"]
    return []


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = check_outside_checkout(root, spec["workloads"][0]["name"])
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            found = check_output(spec, workload, trace, run_bench(root, workload, trace))
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for problem in problems:
        print(problem, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
