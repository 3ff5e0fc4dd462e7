#!/usr/bin/env python3
"""Compare two checkouts on one benchmark workload in alternating pairs.

    python3 tools/ab_pairs.py --parent <checkout> --workload <w> --seeds <a-b> [--seconds 12]

Runs `perfbench/run.py --trace 0` once in the parent checkout and once in
this working tree per seed, flipping which side goes first from pair to
pair, and stops at the first run whose result is not `correct`. Each run
builds in its own checkout's `.bench_build/` (CARGO_TARGET_DIR is unset
for the runs, so the two sides never share a build).

For every end-to-end metric of BENCHMARK.json it then prints each side's
median and quartiles, the pairs the change won (ties count for neither)
and the verdict of the gain rule: a gain needs wins in at least nine
tenths of the pairs and a median gap, in the better direction, larger
than the distance between the parent's quartiles. A change median worse
than the parent's by more than the metric's bound (a fraction of the
parent median) reads `worse`; one worse by less reads `unresolved`. With `--log <file>` every run's result
line is appended to the file as `{"side", "seed", "result"}`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(checkout, workload, seed, seconds):
    env = dict(os.environ)
    env.pop("CARGO_TARGET_DIR", None)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{checkout} seed {seed}: run.py exited {out.returncode}")
    result = json.loads(lines[-1])
    if result.get("correct") is not True:
        raise SystemExit(f"{checkout} seed {seed}: result not correct: {lines[-1]}")
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def spread(xs):
    q1, q3 = quartiles(xs)
    return f"{statistics.median(xs):.4g} [{q1:.4g}, {q3:.4g}]"


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    wins = sum(1 for p, c in zip(parent, change) if (c < p if lower else c > p))
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    gap = (pm - cm) if lower else (cm - pm)
    n = len(parent)
    if wins * 10 >= 9 * n and gap > q3 - q1:
        word = "gain"
    elif -gap > metric["bound"] * abs(pm):
        word = "worse"
    elif gap <= 0:
        word = "unresolved"
    else:
        word = "no gain shown"
    return wins, gap, q3 - q1, word


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range a-b, one pair per seed")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--log", help="append each run's result line to this file")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": ROOT}
    values = {"parent": {m["name"]: [] for m in metrics}, "change": {m["name"]: [] for m in metrics}}
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            result = run(sides[side], args.workload, seed, args.seconds)
            for m in metrics:
                values[side][m["name"]].append(result["metrics"][m["name"]]["value"])
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "result": result}) + "\n")
            print(f"seed {seed} {side}: " + ", ".join(
                f"{m['name']}={values[side][m['name']][-1]}" for m in metrics),
                file=sys.stderr, flush=True)
    n = hi - lo + 1
    print(f"{args.workload}, {n} pairs, seeds {lo}-{hi}, --seconds {args.seconds}")
    print(f"{'metric':<11} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30}"
          f" {'wins':>6} {'gap':>9} {'parent IQR':>10}  verdict")
    for m in metrics:
        p, c = values["parent"][m["name"]], values["change"][m["name"]]
        wins, gap, iqr, word = verdict(m, p, c)
        print(f"{m['name']:<11} {spread(p):<30} {spread(c):<30} {wins:>3}/{n:<2}"
              f" {gap:>9.4g} {iqr:>10.4g}  {word}")


if __name__ == "__main__":
    main()
