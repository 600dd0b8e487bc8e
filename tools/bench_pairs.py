#!/usr/bin/env python3
"""Alternating benchmark pairs: a parent checkout against a change checkout.

    python3 tools/bench_pairs.py <parent_checkout> <change_checkout> \
        --workload transe --seeds 41-48 [--trace] [--seconds 10]

For each seed it runs `python3 graftbench/run.py` once in each checkout,
alternating which side goes first, and reports each run's end-to-end metrics
on stderr as it finishes. Then it prints one row per metric: the
parent's median with its interquartile range, the change's median with its
move against the parent's, and in how many pairs the change was better (the
direction comes from the change checkout's BENCHMARK.json). Exits 1 if any
run reads "correct": false or prints no result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a-b, inclusive")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    names_e2e = {m["name"] for m in spec["end_to_end"]}
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    ok = True
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
            good = r is not None and r.get("correct") is True
            ok &= good
            e2e = " ".join(f"{n}={m['value']:.6g}" for n, m in r["metrics"].items()
                           if n in names_e2e) if r else ""
            print(f"seed {seed} {side}: " + (f"correct={r['correct']} failed={r['failed']} {e2e}"
                  if r else "no result line"), file=sys.stderr, flush=True)
            runs[side].append(r["metrics"] if r else {})
    names = [n for n in runs["change"][0] if all(n in m for m in runs["parent"] + runs["change"])]
    print(f"| metric | parent median (IQR) | change median | better | ({a.workload}, "
          f"seeds {a.seeds}, {'traced' if a.trace else 'untraced'})")
    print("| --- | --- | --- | --- |")
    for n in names:
        p = [m[n]["value"] for m in runs["parent"]]
        c = [m[n]["value"] for m in runs["change"]]
        if not any(p + c):
            continue  # a layer this workload does not run
        q1, pm, q3 = quartiles(p)
        cm = statistics.median(c)
        sign = 1 if better.get(n, "lower") == "higher" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        move = f" ({(cm - pm) / pm * 100:+.1f}%)" if pm else ""
        print(f"| {n} | {pm:.6g} ({q3 - q1:.3g}) | {cm:.6g}{move} | {wins}/{len(p)} |")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
