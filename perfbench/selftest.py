"""Tiny-size self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload at ``--size tiny``, untraced and traced, and checks
each result line against the contract: exactly the keys
correct/attempted/failed/metrics, no failed operation, and every metric
BENCHMARK.json declares present with its declared unit (workloads it
lists report nothing else).  It also checks that the benchmark refuses
to run (non-zero exit, no result line) in a directory holding only
BENCHMARK.json and the benchmark's own files.  Exits non-zero if any
check fails.  Takes a few minutes: each run starts a Spark session, and
the stream's first micro-batch is a cold start.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from run import ROOT, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def result_line(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def check_run(bench: dict, workload: str, trace: int, listed: bool) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    res = result_line(p.stdout)
    if res is None:
        return ["last stdout line is not JSON"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                        f"failed={res.get('failed')}: {p.stderr[-2000:]}")
    declared = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = res.get("metrics", {})
    missing, extra = set(declared) - set(got), set(got) - set(declared)
    if missing or (listed and extra):
        problems.append(f"metrics differ: missing {sorted(missing)}, extra {sorted(extra)}")
    for name, unit in declared.items():
        m = got.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: {m}")
        elif not trace and m["value"] <= 0:
            problems.append(f"{name} is not positive: {m['value']}")
    return problems


def check_refuses_alone(bench: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail cleanly."""
    alone = os.path.join(ROOT, ".bench_work", "selftest-alone")
    shutil.rmtree(alone, ignore_errors=True)
    os.makedirs(alone)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(alone, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(bench["command"] + ["--workload", bench["workloads"][0]["name"],
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=alone, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or result_line(p.stdout) is not None:
            return [f"ran without the package: rc={p.returncode} stdout={p.stdout[-300:]!r}"]
        return []
    finally:
        shutil.rmtree(alone, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = 0
    problems = check_refuses_alone(bench)
    print(f"{'FAIL' if problems else 'ok'} refuses to run without the package", *problems, sep="\n  ")
    failures += bool(problems)
    listed = {w["name"] for w in bench["workloads"]}
    for name in WORKLOADS:
        for trace in (0, 1):
            problems = check_run(bench, name, trace, name in listed)
            print(f"{'FAIL' if problems else 'ok'} {name} --trace {trace}", *problems, sep="\n  ")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
