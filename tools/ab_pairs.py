#!/usr/bin/env python3
"""Alternated A/B pairs of the benchmark on two checkouts.

    python3 tools/ab_pairs.py --base ../parent --change . \\
        --workload shot_access --pairs 10 --seeds 1,7,13 [--seconds 16] [--trace 0]

Runs `perfbench/run.py` once on each checkout per pair, alternating which
side runs first (the base goes first in even pairs), and reads the JSON
line each run ends with. Pair i uses seed seeds[i % len(seeds)] on both
sides. Prints, for every metric, each side's median and quartiles and how
many pairs the change wins (ties count for neither side), then whether the
rule for claiming a gain holds: the change wins at least nine tenths of
the pairs and the medians differ by more than the base's interquartile
range. For every end-to-end metric it also prints the no-regression
verdict: "ok" when the change's median is no worse than the base's by more
than the metric's bound, "WORSE" when it is, and "unresolved" when the
base's own spread (interquartile range over median) exceeds the bound and
not every change run beats every base run. A metric's direction and bound
come from the base checkout's BENCHMARK.json.
Each run's JSON line is appended to --log (default ab_pairs.jsonl in the
current directory) as it finishes. Neither checkout is modified apart
from the build and run state `perfbench/run.py` itself keeps there.
"""
import argparse
import json
import os
import subprocess
import sys

RUN_TIMEOUT_S = 1200  # covers a first run that builds with sbt


def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def metric_specs(checkout):
    """Metric name -> {"better": "lower"|"higher", "bound": relative bound or
    None}, from BENCHMARK.json; only end-to-end metrics have a bound."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        bench = json.load(f)
    return {m["name"]: {"better": m["better"], "bound": m.get("bound")}
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run_once(checkout, args, seed):
    """One benchmark run; returns its parsed JSON line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit("run failed in %s (seed %d, exit %d)" % (checkout, seed, p.returncode))
    return json.loads(lines[-1])


def verdict(base, change, lower, bound):
    """No-regression verdict of one metric: "unresolved" when the base's
    interquartile range over its median exceeds `bound` and not every
    change run beats every base run, else "WORSE" when the change's median
    is worse than the base's by more than `bound` of it, else "ok"."""
    med = quantile(base, 0.5)
    spread = (quantile(base, 0.75) - quantile(base, 0.25)) / abs(med) if med else float("inf")
    beats_all = all((c < b if lower else c > b) for c in change for b in base)
    if spread > bound and not beats_all:
        return "unresolved"
    worse = quantile(change, 0.5) - med if lower else med - quantile(change, 0.5)
    return "WORSE" if worse > bound * abs(med) else "ok"


def summary(pairs, specs):
    """Printable rows: metric, unit, base and change values, change wins,
    pairs, whether the gain rule holds, and the no-regression verdict
    (None for a metric without a bound)."""
    names = sorted(set().union(*(set(b["metrics"]) & set(c["metrics"]) for b, c in pairs)))
    out = []
    for name in names:
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in pairs
               if name in b["metrics"] and name in c["metrics"]]
        base = [b for b, _ in got]
        change = [c for _, c in got]
        spec = specs.get(name, {})
        lower = spec.get("better", "lower") == "lower"
        wins = sum(1 for b, c in got if (c < b if lower else c > b))
        iqr = quantile(base, 0.75) - quantile(base, 0.25)
        gap = quantile(base, 0.5) - quantile(change, 0.5)
        claim = wins >= 0.9 * len(got) and (gap if lower else -gap) > iqr
        bound = spec.get("bound")
        judged = verdict(base, change, lower, bound) if bound is not None else None
        unit = pairs[0][0]["metrics"][name]["unit"]
        out.append((name, unit, base, change, wins, len(got), claim, judged))
    return out


def fmt(xs):
    return "%.4g [%.4g, %.4g]" % (quantile(xs, 0.5), quantile(xs, 0.25), quantile(xs, 0.75))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", default="1", help="comma-separated seeds, cycled over the pairs")
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--log", default="ab_pairs.jsonl")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}

    pairs = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        got = {}
        for side in order:
            got[side] = run_once(sides[side], args, seed)
            with open(args.log, "a") as f:
                f.write(json.dumps({"pair": i, "side": side, "seed": seed,
                                    "workload": args.workload, "trace": args.trace,
                                    **got[side]}) + "\n")
            print("pair %d seed %d %s: correct=%s failed=%d/%d" % (
                i, seed, side, got[side]["correct"], got[side]["failed"], got[side]["attempted"]),
                file=sys.stderr, flush=True)
        pairs.append((got["base"], got["change"]))

    print("workload %s, %d pairs, seeds %s, --seconds %g, --trace %d" % (
        args.workload, len(pairs), args.seeds, args.seconds, args.trace))
    print("correct: base %d/%d, change %d/%d; failed operations: base %d, change %d" % (
        sum(b["correct"] for b, _ in pairs), len(pairs), sum(c["correct"] for _, c in pairs),
        len(pairs), sum(b["failed"] for b, _ in pairs), sum(c["failed"] for _, c in pairs)))
    print("%-36s %-6s %-30s %-30s %-11s %s" % ("metric", "unit", "base median [q1, q3]",
                                                "change median [q1, q3]", "change wins",
                                                "verdict"))
    for name, unit, base, change, wins, n, claim, judged in summary(
            pairs, metric_specs(sides["base"])):
        print("%-36s %-6s %-30s %-30s %-11s %s%s" % (
            name, unit, fmt(base), fmt(change), "%d/%d" % (wins, n), judged or "",
            "  gain holds" if claim else ""))


if __name__ == "__main__":
    main()
