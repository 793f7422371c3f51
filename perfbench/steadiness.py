#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs back to back.

    python3 perfbench/steadiness.py [--runs 10] [--workloads a,b] [--out file.json]

Run from the root of a checkout. For every workload in BENCHMARK.json, each
set makes --runs runs of the benchmark command with --trace 0, each with its
own --seed (set A: 1..runs, set B: 101..100+runs). For each end-to-end metric
it prints each set's median and quartiles (statistics.quantiles, n=4), the
spread (q3 - q1) / median of each set, and whether set B's median is within
the metric's bound of set A's in the worse direction. It also checks that
every run was correct and that the share of failed operations is the same in
both sets. Exit status 0 when every check holds.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(spec, workload, seed):
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workloads:
        names = [n for n in names if n in args.workloads.split(",")]

    report, ok = {}, True
    for w in names:
        sets = {}
        for label, base in (("A", 1), ("B", 101)):
            sets[label] = [run(spec, w, base + i) for i in range(args.runs)]
        rows = {}
        for m in spec["end_to_end"]:
            a = summary([r["metrics"][m["name"]]["value"] for r in sets["A"]])
            b = summary([r["metrics"][m["name"]]["value"] for r in sets["B"]])
            change = (b["median"] - a["median"]) / a["median"]
            worse = change if m["better"] == "lower" else -change
            within = worse <= m["bound"]
            steady = a["spread"] <= m["bound"] and b["spread"] <= m["bound"]
            ok = ok and within and steady
            rows[m["name"]] = {"A": a, "B": b, "change": change, "bound": m["bound"],
                               "medians_agree": within, "spread_within_bound": steady}
            print(f"{w:16s} {m['name']:18s} A {a['median']:.6g} [{a['q1']:.6g}, {a['q3']:.6g}] "
                  f"spread {a['spread']:.3f} | B {b['median']:.6g} [{b['q1']:.6g}, {b['q3']:.6g}] "
                  f"spread {b['spread']:.3f} | change {change:+.3f} bound {m['bound']} "
                  f"{'ok' if within and steady else 'NOT OK'}")
        shares = {k: sum(r["failed"] for r in v) / sum(r["attempted"] for r in v) for k, v in sets.items()}
        correct = all(r["correct"] for v in sets.values() for r in v)
        ok = ok and correct and shares["A"] == shares["B"]
        print(f"{w:16s} correct={correct} failed share A={shares['A']} B={shares['B']}")
        report[w] = {"metrics": rows, "correct": correct, "failed_share": shares,
                     "runs": {k: [r["metrics"] for r in v] for k, v in sets.items()}}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
