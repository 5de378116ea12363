#!/usr/bin/env python3
"""Alternating same-host benchmark pairs of two checkouts, with a verdict.

Usage (from anywhere):

    python3 tools/bench_pairs.py --parent /path/to/parent --change /path/to/change \\
        --workload tree_subset --seeds 901-910 [--metric wall_s] [--seconds 10] \\
        [--warmup-seed 900] [--out pairs.json]

Each checkout is a full source tree with its own perfbench/ (for example
`git archive <commit> | tar -x -C DIR`). For every seed the two
checkouts run `python3 perfbench/run.py --workload W --seed S --seconds N
--trace 0` one after the other; the side that runs first alternates from
pair to pair, so a drift in the host's speed lands on both sides. With
--warmup-seed, each checkout first runs that seed once and the result
is dropped: the first run in a checkout builds it and records its
class-data-sharing archive.

Printed: one line per pair (seed, which side ran first, both sides'
value of every end-to-end metric and the change's share of the
parent's), then for
every end-to-end metric of BENCHMARK.json each side's median, q1 and q3
and the number of pairs the change won, and last the verdict on the
claimed metric. The change is better when it wins at least 9 of every 10
pairs (ceil(0.9 * n)) and the medians differ, in its favour, by more
than the parent's interquartile range. With --metric none no gain is
claimed. The other end-to-end metrics are
checked against their BENCHMARK.json bound: the change's median may be
worse than the parent's by at most that fraction; where the parent's
IQR is wider than the bound, the metric is reported as unresolved unless
every change run beats every parent run. Quartiles interpolate
linearly between order statistics (`statistics.quantiles`,
method="inclusive"). Any failed or incorrect run fails the verdict.

Exit status: 0 if the verdict holds, 1 if it does not, 2 on bad usage.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        part = part.strip()
        if "-" in part:
            lo, hi = part.split("-", 1)
            seeds += list(range(int(lo), int(hi) + 1))
        elif part:
            seeds.append(int(part))
    return seeds


def run(checkout, workload, seed, seconds):
    """One untraced perfbench run; returns its last output line, parsed."""
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "failed": 1, "metrics": {}, "exit": p.returncode}
    last["exit"] = p.returncode
    return last


def value(result, metric):
    m = result.get("metrics", {}).get(metric)
    return None if m is None else m["value"]


def fmt(v):
    return "n/a" if v is None else f"{v:.3f}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 901-910 or 1,5,9")
    ap.add_argument("--metric", default="wall_s",
                    help="the end-to-end metric claimed to improve; 'none' checks every metric against its bound")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--warmup-seed", type=int, help="one discarded run per checkout first")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for name, path in sides.items():
        if not os.path.isfile(os.path.join(path, "perfbench", "run.py")):
            print(f"bench_pairs: no perfbench/run.py in the {name} checkout {path}", file=sys.stderr)
            sys.exit(2)
    seeds = parse_seeds(args.seeds)
    if not seeds:
        print("bench_pairs: no seeds", file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end = {m["name"]: m for m in spec["end_to_end"]}
    if args.metric != "none" and args.metric not in end_to_end:
        print(f"bench_pairs: {args.metric} is not an end-to-end metric of BENCHMARK.json", file=sys.stderr)
        sys.exit(2)
    lower = {n: m.get("better", "lower") == "lower" for n, m in end_to_end.items()}

    if args.warmup_seed is not None:
        for name, path in sides.items():
            r = run(path, args.workload, args.warmup_seed, args.seconds)
            print(f"warm-up {name}: seed {args.warmup_seed}, correct {r.get('correct')}", flush=True)

    pairs = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        res = {name: run(sides[name], args.workload, seed, args.seconds) for name in order}
        pairs.append({"seed": seed, "first": order[0], **res})
        ok = all(res[s].get("correct") and not res[s].get("failed") for s in sides)
        shown = []
        for metric in end_to_end:
            p, c = value(res["parent"], metric), value(res["change"], metric)
            share = f"{c / p:.3f}" if p and c is not None else "n/a"
            shown.append(f"{metric} parent {fmt(p)} change {fmt(c)} (change/parent {share})")
        print(f"pair {i + 1:2d} seed {seed}: {order[0]} first, " + ", ".join(shown)
              + ("" if ok else ", A RUN FAILED"), flush=True)

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(pairs, fh, indent=1)

    failed = [(pr["seed"], s) for pr in pairs for s in sides
              if not pr[s].get("correct") or pr[s].get("failed")]
    verdict = not failed
    need = math.ceil(0.9 * len(pairs))
    for metric in end_to_end:
        vals = {s: [value(pr[s], metric) for pr in pairs] for s in sides}
        if any(v is None for s in sides for v in vals[s]):
            print(f"{metric}: missing in some runs")
            verdict = verdict and metric != args.metric
            continue
        med = {s: statistics.median(vals[s]) for s in sides}
        q = {s: quartiles(vals[s]) for s in sides}
        sign = 1 if lower[metric] else -1
        wins = sum(1 for a, b in zip(vals["parent"], vals["change"]) if sign * (a - b) > 0)
        iqr = q["parent"][1] - q["parent"][0]
        gain = sign * (med["parent"] - med["change"])
        print(f"{metric}: parent median {med['parent']:.3f} (q1 {q['parent'][0]:.3f}, q3 {q['parent'][1]:.3f}, "
              f"IQR {iqr:.3f}); change median {med['change']:.3f} (q1 {q['change'][0]:.3f}, "
              f"q3 {q['change'][1]:.3f}); change better in {wins} of {len(pairs)}; "
              f"median gain {gain:.3f} ({gain / med['parent'] * 100 if med['parent'] else 0:+.1f}%)")
        if metric == args.metric:
            claimed = wins >= need and gain > iqr
            print(f"claim on {metric}: {'HOLDS' if claimed else 'DOES NOT HOLD'} "
                  f"(needs {need} of {len(pairs)} wins and a median gain above the parent IQR {iqr:.3f})")
            verdict = verdict and claimed
        else:
            bound = end_to_end[metric].get("bound")
            if bound is not None and med["parent"]:
                worse = -gain / med["parent"]
                within = worse <= bound
                # a spread wider than the bound cannot show the bound held,
                # unless every change run beats every parent run
                spread = iqr / med["parent"]
                apart = all(sign * (a - b) > 0 for a in vals["parent"] for b in vals["change"])
                state = ("OUTSIDE" if not within else
                         "unresolved, the parent's spread exceeds" if spread > bound and not apart else "within")
                print(f"bound on {metric}: change {state} {bound} "
                      f"(worse by {worse * 100:+.1f}%, parent IQR {spread * 100:.1f}% of its median)")
                verdict = verdict and within
    if failed:
        print("failed runs: " + ", ".join(f"seed {s} {side}" for s, side in failed))
    print(f"verdict: {'PASS' if verdict else 'FAIL'}")
    sys.exit(0 if verdict else 1)


if __name__ == "__main__":
    main()
