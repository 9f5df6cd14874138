#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound from BENCHMARK.json.

    python3 bench/steadiness.py --workload reference_hw --seeds 1-10
    python3 bench/steadiness.py --from runs.jsonl   (re-analyse saved lines)

Each run's result line is appended to --save (default none), so a set of
runs can be analysed again without re-running.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def report(lines, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':<18}{'median':>12}{'spread':>9}{'bound':>8}  n")
    for name in bounds:
        vals = [l["metrics"][name]["value"] for l in lines if name in l["metrics"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:<18}{med:>12.4f}{(q3 - q1) / med:>9.3f}{bounds[name]:>8.2f}  {len(vals)}")
    bad = [l for l in lines if not l["correct"]]
    print(f"incorrect runs: {len(bad)} of {len(lines)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--save")
    ap.add_argument("--from", dest="src")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lines = []
    if a.src:
        with open(a.src) as f:
            lines = [json.loads(l) for l in f if l.strip()]
    else:
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, "bench/run.py", "--workload", a.workload,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-2000:])
                continue
            line = p.stdout.strip().splitlines()[-1]
            lines.append(json.loads(line))
            if a.save:
                with open(a.save, "a") as f:
                    f.write(line + "\n")
    report(lines, bench)


if __name__ == "__main__":
    main()
