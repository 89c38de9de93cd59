#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload at a small fraction of
its size, untraced and traced, and checks that each run is correct and
emits exactly the metrics BENCHMARK.json names, each with its unit.

    python3 perfbench/selftest.py [--scale 0.05] [--seconds 1]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="0.05")
    ap.add_argument("--seconds", default="1")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[group]}
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w["name"], "--seed", "7", "--seconds", a.seconds,
                                "--trace", str(trace), "--scale", a.scale],
                               cwd=ROOT, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            got = res["metrics"]
            bad = [f"missing {n}" for n in want if n not in got]
            bad += [f"unexpected {n}" for n in got if n not in want]
            bad += [f"{n} unit {got[n].get('unit')} != {u}" for n, u in want.items()
                    if n in got and got[n].get("unit") != u]
            bad += [f"{n} value {got[n].get('value')!r}" for n in want
                    if n in got and not isinstance(got[n].get("value"), (int, float))]
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"correct={res['correct']} attempted={res['attempted']} "
                           f"failed={res['failed']}: " +
                           "; ".join(l for l in lines if l.startswith("# error")))
            print(f"{tag}: {'ok' if not bad else 'FAIL'} ({len(got)} metrics)", flush=True)
            problems += [f"{tag}: {b}" for b in bad]
    for p in problems:
        print(p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
