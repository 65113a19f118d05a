#!/usr/bin/env python3
"""Fast self-test of the benchmark: runs every workload of BENCHMARK.json
at the tiny size (sf0.001 corpus, a 5k-record backlog, one live rate),
untraced and traced, and checks that each run passes its own correctness
checks and prints exactly the metric names and units BENCHMARK.json
declares for that mode.

Usage (from the root of a checkout): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(workload, trace, declared):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "2",
           "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr.strip()[-600:]}"]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"keys {sorted(line)}")
    if line.get("correct") is not True or line.get("failed") != 0:
        errs.append(f"correct={line.get('correct')} failed={line.get('failed')}: "
                    f"{p.stderr.strip()[-600:]}")
    if not isinstance(line.get("attempted"), int) or line["attempted"] < 1:
        errs.append(f"attempted={line.get('attempted')}")
    got = {k: v.get("unit") for k, v in line.get("metrics", {}).items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        errs.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}, units "
                    f"{sorted(k for k in want if k in got and got[k] != want[k])}")
    bad = [k for k, v in line.get("metrics", {}).items()
           if not isinstance(v.get("value"), (int, float))]
    if bad:
        errs.append(f"non-numeric values {bad}")
    return errs


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = 0
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            errs = check(w["name"], trace, bench[key])
            failures += bool(errs)
            print(f"{'FAIL' if errs else 'ok  '} {w['name']} trace={trace}"
                  + "".join(f"\n     {e}" for e in errs), flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
