#!/usr/bin/env python3
"""The benchmark's own tests, run from the root of a checkout:

    python3 perfbench/run.py --selftest

1. Ledger determinism: one append to a fresh table, three times, yields
   the same filesystem-op and Spark job/task counts (perfbench.SelfTest).
2. Every workload's correctness checks pass with the ledger off
   (--trace 0) and on (--trace 1).
3. Two traced runs with one seed report identical count metrics
   (jobs, stages, tasks, filesystem op counts, versions, fragments).

Exits non-zero if any of them fails.
"""
import json

import run

WORKLOADS = ["vector-serve", "ingest-cdc"]
SEED = 7
SECONDS = 2


def is_count(name):
    return (name.startswith("engine.jobs") or name in ("engine.tasks", "engine.stages")
            or (name.startswith("fs.") and name != "fs.bytes_written")
            or name in ("format.versions", "format.fragments"))


def workload(name, trace):
    code, lines = run.jvm("perfbench.Main", ["--workload", name, "--seed", str(SEED),
                                            "--seconds", str(SECONDS), "--trace", str(trace)])
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return code, result


def main():
    failures = []
    code, lines = run.jvm("perfbench.SelfTest", [])
    print("\n".join(lines))
    if code != 0:
        failures.append("ledger determinism (perfbench.SelfTest)")
    for name in WORKLOADS:
        traced = []
        for trace in (0, 1, 1):
            code, result = workload(name, trace)
            ok = code == 0 and result is not None and result["correct"] and result["failed"] == 0
            print(f"[selftest] {name} --trace {trace}: exit {code}, "
                  f"{'checks pass' if ok else 'FAILED'}")
            if not ok:
                failures.append(f"{name} --trace {trace}")
            elif trace == 1:
                traced.append({k: v["value"] for k, v in result["metrics"].items() if is_count(k)})
        if len(traced) == 2:
            diff = sorted(k for k in traced[0] if traced[0][k] != traced[1].get(k))
            print(f"[selftest] {name}: traced count metrics "
                  f"{'identical' if not diff else 'DIFFER: ' + ', '.join(diff)}")
            if diff:
                failures.append(f"{name} traced counts differ")
    for f in failures:
        print(f"[selftest] FAIL: {f}")
    print("[selftest] PASS" if not failures else "[selftest] FAILED")
    return 0 if not failures else 1
