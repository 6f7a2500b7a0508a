#!/usr/bin/env python3
"""Runs one workload N times, one seed per run, and summarises each metric.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]
        [--seconds <s>] [--trace 0|1] [--out <file.json>]

Run from the checkout root. For every metric it prints the median, the
quartiles (statistics.quantiles(values, n=4)), min, max and the spread:
the distance between the quartiles as a share of the median. Untraced
spreads are what the end-to-end bounds in BENCHMARK.json are set
against: each bound should be at least three times the spread seen here.
With --out, the runs and the summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        done = subprocess.run(cmd, capture_output=True, text=True)
        lines = done.stdout.strip().splitlines()
        rec = json.loads(lines[-1]) if lines else None
        runs.append({"seed": seed, "exit": done.returncode, "record": rec})
        status = "ok" if done.returncode == 0 else f"exit {done.returncode}: {done.stderr.strip()[-300:]}"
        print(f"seed {seed}: {status}", file=sys.stderr)

    good = [r["record"] for r in runs if r["record"]]
    summary = {}
    for name in (good[0]["metrics"] if good else {}):
        summary[name] = summarise([g["metrics"][name]["value"] for g in good])
        summary[name]["unit"] = good[0]["metrics"][name]["unit"]
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} {'max':>12} {'spread':>7} bound")
    for name, s in summary.items():
        spread = "-" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{name:44} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} {s['min']:12.5g} "
              f"{s['max']:12.5g} {spread:>7} {bounds.get(name, '')}")
    print(f"runs: {len(runs)}, failed runs: {sum(r['exit'] != 0 for r in runs)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "trace": args.trace,
                       "seeds": [r["seed"] for r in runs], "summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")
    sys.exit(0 if all(r["exit"] == 0 for r in runs) else 1)


if __name__ == "__main__":
    main()
