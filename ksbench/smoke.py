#!/usr/bin/env python3
"""Smoke run: every workload at sf0.001, untraced and traced, must print
every metric of BENCHMARK.json by name with its unit (every end-to-end one
above 0), and pass its output checks. Takes about five minutes. Run from the root of a checkout:

    python3 ksbench/smoke.py
"""
import json
import os
import subprocess
import sys


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            # the full run length: shorter runs break the percentile rule
            cmd = bench["command"] + ["--sf", "0.001", "--workload", w, "--seed", "1",
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(trace)]
            res = subprocess.run(cmd, capture_output=True, text=True)
            if res.returncode != 0:
                problems.append(f"{w} trace {trace}: exit {res.returncode}: {res.stderr[-500:]}")
                continue
            lines = res.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                why = [l for l in lines if l.startswith("failed:")]
                problems.append(f"{w} trace {trace}: output checks failed: {why}")
            wanted = {m["name"]: m["unit"] for m in bench[key]}
            extra = set(out["metrics"]) - set(wanted)
            if extra:
                problems.append(f"{w} trace {trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
            for name, unit in wanted.items():
                got = out["metrics"].get(name)
                if got is None or got.get("unit") != unit or not isinstance(got.get("value"), float):
                    problems.append(f"{w} trace {trace}: {name} missing or not in {unit}")
                elif key == "end_to_end" and got["value"] <= 0:
                    problems.append(f"{w} trace {trace}: {name} is {got['value']}")
                elif not any(l.split()[:1] == [name] and l.split()[-1] == unit for l in lines):
                    problems.append(f"{w} trace {trace}: {name} not printed by name")
            print(f"{w} trace {trace}: {len(out['metrics'])} metrics, "
                  f"attempted {out['attempted']} failed {out['failed']}")
    for p in problems:
        print("PROBLEM", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
