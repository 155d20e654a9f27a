#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at tiny size (sf0.001
tables, a 2k-device inventory, 50 ms simulated latency), untraced and
traced. Checks that each run is correct and that it reports exactly the
metrics BENCHMARK.json names, each a finite number with its unit.

    python3 perfbench/selftest.py
"""
import json
import math
import os
import sys

import run

SECONDS = 2


def check(workload, trace, spec):
    result, report = run.run(workload, seed=7, seconds=SECONDS, trace=trace, tiny=True)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"correct={result['correct']} attempted={result['attempted']} "
                      f"failed={result['failed']} flags={report['flags']}")
    if set(got) != set(want):
        errors.append(f"metrics missing {sorted(set(want) - set(got))} "
                      f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            errors.append(f"{name} = {m['value']}")
        if name in want and m["unit"] != want[name]:
            errors.append(f"{name} unit {m['unit']} != {want[name]}")
    if not trace:
        errors += [f"{n} = 0" for n, m in got.items() if m["value"] <= 0]
    print(f"{'ok  ' if not errors else 'FAIL'} {workload} trace={int(trace)} "
          f"attempted={result['attempted']}" + "".join(f"\n     {e}" for e in errors))
    return not errors


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = all([check(w["name"], t, spec) for w in spec["workloads"] for t in (False, True)])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
