#!/usr/bin/env python3
"""Self-check of the benchmark, run from the root of a checkout:

    python3 perfbench/smoke.py

Runs every workload untraced and traced at the quick ``smoke`` size (sf0.001
tables, a 6,000-line corpus) and checks that each run exits 0, passes its
own correctness checks, prints the workload row with every end-to-end metric
and its unit, and ends with a JSON line holding exactly the metrics that
``BENCHMARK.json`` names, each with the unit given there. Last, it copies
only ``BENCHMARK.json`` and the benchmark's own files into an empty
directory and checks that the benchmark refuses to run there.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_run(spec: dict, workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        raise SystemExit(f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{where}: outputs not correct: {lines[-1][:300]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise SystemExit(f"{where}: missing {missing}, extra {extra}, wrong units {wrong}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise SystemExit(f"{where}: {k} is not a number: {v}")
    row = next(line for line in lines if line.startswith(f"workload={workload} "))
    for name in (m["name"] for m in spec["end_to_end"]):
        if f" {name}=" not in row:
            raise SystemExit(f"{where}: row lacks {name}: {row}")
    if " failed_frac=" not in row:
        raise SystemExit(f"{where}: row lacks failed_frac: {row}")
    print(f"ok  {where}: {len(got)} metrics, {result['attempted']} jobs checked")


def check_refuses_without_engine(workload: str) -> None:
    bare = os.path.join(HERE, "_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
        proc = run(bare, workload, 0)
        last = (proc.stdout.strip().splitlines() or [""])[-1]
        if proc.returncode == 0 or last.startswith("{"):
            raise SystemExit(f"bare directory: exit {proc.returncode}, last line {last!r}")
        print(f"ok  bare directory: exit {proc.returncode}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    for workload in names:
        for trace in (0, 1):
            check_run(spec, workload, trace)
    check_refuses_without_engine(names[0])


if __name__ == "__main__":
    main()
