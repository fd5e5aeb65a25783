#!/usr/bin/env python3
"""Paired A/B runs of the benchmark over two graft checkouts.

    python3 perfbench/ab.py --base ../parent --change . [--pairs 10]

Both sides run this checkout's benchmark code (`run.py --graft-root`), so
only the graft sources differ; each side is built once into its own
classpath. Pair i runs every workload of BENCHMARK.json on both sides with
seed `SEED0 + i` for `run_seconds`, the base first in even pairs and the
change first in odd ones. For each workload and end-to-end metric it
prints both medians with quartiles, the pairs the change won (ties count
for neither side) and a verdict:

  failed      more of the change's query executions failed than the base's;
              its timings are not comparable;
  win         the change won at least 9 of every 10 pairs and the medians
              differ by more than the base's interquartile range;
  regression  the change's median is worse than the base's by more than
              the metric's bound;
  unresolved  the base's interquartile range exceeds the bound, and not
              every change run beats every base run;
  flat        otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import HERE, ROOT, WORK, quartiles

SEED0 = 1000


def run_side(root, workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                        "--graft-root", root],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed for {root} {workload} seed {seed}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def spread(xs):
    q1, q3 = quartiles(xs)
    return q1, statistics.median(xs), q3


def verdict(metric, base, change, failed):
    """Judge one metric of one workload from paired samples."""
    sign = 1 if metric["better"] == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    bq1, bmed, bq3 = spread(base)
    _, cmed, _ = spread(change)
    if failed["change"] > failed["base"]:
        v = "failed"
    elif wins >= 0.9 * len(base) and abs(cmed - bmed) > bq3 - bq1 and sign * (bmed - cmed) > 0:
        v = "win"
    elif sign * (cmed - bmed) > metric["bound"] * bmed:
        v = "regression"
    elif (bq3 - bq1) > metric["bound"] * bmed and not (
            max(change) < min(base) if sign > 0 else min(change) > max(base)):
        v = "unresolved"
    else:
        v = "flat"
    return wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    if args.pairs < 10:
        ap.error("--pairs must be at least 10: a win needs 9 of every 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sides = {"base": os.path.realpath(args.base), "change": os.path.realpath(args.change)}

    samples = {w: {s: [] for s in sides} for w in workloads}
    for i in range(args.pairs):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        for w in workloads:
            for side in order:
                res = run_side(sides[side], w, SEED0 + i, seconds)
                if not res["correct"]:
                    print(f"pair {i} {w} {side}: {res['failed']} of {res['attempted']} failed",
                          file=sys.stderr)
                samples[w][side].append(res)
        print(f"pair {i + 1}/{args.pairs} done", file=sys.stderr, flush=True)

    report = {"base": sides["base"], "change": sides["change"], "pairs": args.pairs,
              "seconds": seconds, "time": time.strftime("%Y-%m-%dT%H:%M:%S"), "rows": []}
    for w in workloads:
        failed = {s: sum(r["failed"] for r in samples[w][s]) for s in sides}
        row = {"workload": w, "failed": failed, "metrics": {}}
        for m in bench["end_to_end"]:
            base = [r["metrics"][m["name"]]["value"] for r in samples[w]["base"]]
            change = [r["metrics"][m["name"]]["value"] for r in samples[w]["change"]]
            wins, v = verdict(m, base, change, failed)
            row["metrics"][m["name"]] = {"unit": m["unit"], "base": spread(base),
                                         "change": spread(change), "wins": wins, "verdict": v}
        report["rows"].append(row)
        cells = "  ".join(
            f"{k} {d['base'][1]:.4g}->{d['change'][1]:.4g}{d['unit']} "
            f"[{d['base'][0]:.4g},{d['base'][2]:.4g}] won {d['wins']}/{args.pairs} {d['verdict']}"
            for k, d in row["metrics"].items())
        print(f"{w}: failed {row['failed']['base']}->{row['failed']['change']}  {cells}")
    os.makedirs(os.path.join(WORK, "ab"), exist_ok=True)
    out = os.path.join(WORK, "ab", f"ab-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {out}")


if __name__ == "__main__":
    main()
