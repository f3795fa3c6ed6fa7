#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and report, for
every end-to-end metric, the median, quartiles and spread (interquartile
distance over median) against the bound BENCHMARK.json fixes.

Run from the root of a checkout:

    python3 perfbench/steady.py --runs 10 [--workloads small_files,query_mix] [--out FILE.json] [--md FILE.md]

A metric is steady when its spread is under a third of its bound (setup_s
is reported but has no spread limit). Runs go one after another.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
    return p.returncode, wall, result


def main():
    a = argparse.ArgumentParser()
    a.add_argument("--runs", type=int, default=10)
    a.add_argument("--first-seed", type=int, default=1)
    a.add_argument("--workloads", default="")
    a.add_argument("--out", default="")
    a.add_argument("--md", default="", help="also write the table as markdown")
    args = a.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    report = {}
    for w in workloads:
        values, walls, bad = {}, [], 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            rc, wall, res = run(w, seed, bench["run_seconds"])
            walls.append(wall)
            ok = rc == 0 and res.get("correct") and res.get("failed") == 0
            bad += not ok
            for k, v in res.get("metrics", {}).items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: rc={rc} correct={res.get('correct')} wall={wall:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
        rows = {}
        for m in bench["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                               "bound": m["bound"], "steady": spread < m["bound"] / 3,
                               "values": xs}
            print(f"  {m['name']:14s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={spread:.4f} bound={m['bound']} limit={m['bound'] / 3:.4f} "
                  f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}", flush=True)
        report[w] = {"runs": args.runs, "failed_runs": bad, "wall_s": walls, "metrics": rows}
        print(f"  wall median {statistics.median(walls):.1f}s, max {max(walls):.1f}s; failed runs {bad}",
              flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    if args.md:
        with open(args.md, "w") as fh:
            fh.write(markdown(report, args))


def markdown(report, args):
    out = [f"Seeds {args.first_seed}..{args.first_seed + args.runs - 1}, one run each, "
           "`python3 perfbench/steady.py`.", "",
           "| workload | metric | median | q1 | q3 | spread | bound | bound / 3 | steady |",
           "|---|---|---|---|---|---|---|---|---|"]
    for w, r in report.items():
        for m, x in r["metrics"].items():
            out.append(f"| {w} | {m} | {x['median']:.4g} | {x['q1']:.4g} | {x['q3']:.4g} | "
                       f"{x['spread']:.4f} | {x['bound']} | {x['bound'] / 3:.4f} | "
                       f"{'n/a' if m == 'setup_s' else 'yes' if x['steady'] else 'NO'} |")
    out.append("")
    for w, r in report.items():
        walls = r["wall_s"]
        out.append(f"- {w}: {r['runs']} runs, {r['failed_runs']} failed; wall per run median "
                   f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s.")
    out.append("")
    for w, r in report.items():
        for m, x in r["metrics"].items():
            out.append(f"- {w} {m}: " + ", ".join(f"{v:.4g}" for v in x["values"]))
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    main()
