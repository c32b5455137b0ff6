#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on several seeds per workload and
reports, per end-to-end metric, the median, the quartiles and the spread
(interquartile range over median) against the metric's bound.

Usage (from the root of a checkout):

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--trace 0]
        [--out perfbench/evidence/<name>.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    metrics = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]
    report = {"run_seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                if p.returncode == 3:
                    sys.exit("build failed")
                runs.append({"seed": seed, "wall_s": wall, "error": p.returncode})
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}", file=sys.stderr)
        summary = {}
        for m in metrics:
            vals = [r["metrics"][m["name"]] for r in runs if "metrics" in r]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                  "bound": m.get("bound")}
            flag = ""
            if m.get("bound") is not None and m["name"] != "setup_s":
                flag = "ok" if spread < m["bound"] / 3 else (
                    "within bound" if spread <= m["bound"] else "TOO WIDE")
            print(f"  {w:16s} {m['name']:28s} median={med:.6g} spread={spread:.3f} {flag}",
                  file=sys.stderr)
        report["workloads"][w] = {"runs": runs, "summary": summary,
                                  "wall_s_mean": statistics.mean(r["wall_s"] for r in runs)}
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
