#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload once at the "tiny" scale (an sf0.001-sized lineitem and a
~100-document tokens table) with and without tracing, and checks that:

* the last stdout line is the result object, with exactly the metrics
  BENCHMARK.json lists for that mode, each with its unit;
* every metric is also printed on its own ``metric <name> = <value> <unit>``
  line;
* a deliberately corrupted oracle drives the failed-op count above 0 on a
  workload whose ops otherwise all pass;
* outside a checkout (no ``ddsketch_spark/``) the command exits non-zero
  without printing a result.

Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


def _check_output(out: str, wanted: dict[str, str], label: str) -> dict:
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: result keys {sorted(result)}")
    if result["attempted"] < 1:
        raise AssertionError(f"{label}: nothing attempted")
    got = result["metrics"]
    if set(got) != set(wanted):
        raise AssertionError(f"{label}: metrics differ: {sorted(set(got) ^ set(wanted))}")
    for name, unit in wanted.items():
        if got[name]["unit"] != unit:
            raise AssertionError(f"{label}: {name} unit {got[name]['unit']!r}, want {unit!r}")
        prefix = f"metric {name} = "
        if not any(line.startswith(prefix) and line.split()[-1] == unit for line in lines):
            raise AssertionError(f"{label}: no '{prefix}... {unit}' line")
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    modes = {
        "0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    base = ["--seed", "7", "--seconds", "1", "--scale", "tiny"]

    for w in bench["workloads"]:
        for trace, wanted in modes.items():
            label = f"{w['name']} trace={trace}"
            proc = _run(["--workload", w["name"], "--trace", trace, *base])
            if proc.returncode != 0:
                raise AssertionError(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            result = _check_output(proc.stdout, wanted, label)
            print(f"ok  {label}: {result['attempted']} ops, {result['failed']} failed", flush=True)

    proc = _run(["--workload", "many-groups", "--trace", "0", "--corrupt-oracle", *base])
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if proc.returncode != 0 or result["failed"] == 0 or result["correct"]:
        raise AssertionError(f"corrupted oracle not detected: {result}")
    print(f"ok  corrupted oracle: {result['failed']}/{result['attempted']} ops failed")

    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=work)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "many-groups", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    finally:
        shutil.rmtree(bare)
    if proc.returncode == 0 or proc.stdout.strip():
        raise AssertionError(f"bare directory: exit {proc.returncode}, stdout {proc.stdout!r}")
    print(f"ok  outside a checkout: exit {proc.returncode}, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
