#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at sf0.001, untraced and
traced. Asserts the result line's shape, that every metric BENCHMARK.json
declares for the mode prints with its unit, and that every output check
passed.

    python3 perfbench/smoke_test.py        # from the repository root
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def check(workload, trace, result, spec):
    where = f"{workload} --trace {trace}"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {sorted(result)}"
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {result['failed']} checks failed"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{where}: nothing attempted"
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}, f"{where}: metric names differ"
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{where}: {m['name']} in {got['unit']}, declared {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} is not a number"
        if not trace:
            assert got["value"] > 0, f"{where}: {m['name']} reads {got['value']}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, run(w["name"], trace), spec)
            print(f"ok  {w['name']} --trace {trace}")


if __name__ == "__main__":
    main()
