#!/usr/bin/env python3
"""Paired benchmark comparison of two graft checkouts.

    python3 tools/perf_pairs.py <baseline checkout> <change checkout> \\
        [--seeds 1-6] [--workloads inmem-heaps,durable-zipf] [--seconds 8] [--trace 0]

For each workload and seed, runs `perfbench/run.py` once in the baseline
checkout and once in the change checkout, alternating which side goes first
from seed to seed, so slow drift of the machine lands on both sides. Each
checkout builds and caches its own benchmark classpath on its first run.

Prints, per workload and metric: each side's median, the baseline's
interquartile range (a gain is told apart from noise only when the medians
differ by more than it), the median of the per-seed ratios change/baseline,
and how many seeds the change won (by the metric's `better` direction in the
change checkout's BENCHMARK.json). A run
that fails or reports `correct: false` is listed and left out of its pair.
Each run's JSON line is appended to --log (default: none).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """`1-6` or `1,3,5` -> list of ints."""
    if "-" in text:
        lo, hi = text.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: its result dict, or None on failure."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def directions(checkout, trace):
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["better"] for m in spec["per_layer" if trace else "end_to_end"]}


def report(workload, pairs, better):
    print(f"== {workload}: {len(pairs)} pairs ==")
    print(f"{'metric':32} {'base median':>14} {'base IQR':>12} {'change median':>14} "
          f"{'ratio median':>13} {'wins':>6}")
    for name in sorted(better):
        base = [b["metrics"][name]["value"] for b, _ in pairs if name in b["metrics"]]
        new = [c["metrics"][name]["value"] for _, c in pairs if name in c["metrics"]]
        if not base or len(base) != len(new):
            continue
        ratios = [n / b for b, n in zip(base, new) if b != 0]
        sign = 1 if better[name] == "higher" else -1
        wins = sum(1 for b, n in zip(base, new) if sign * (n - b) > 0)
        ratio = f"{statistics.median(ratios):.3f}" if ratios else "-"
        q = statistics.quantiles(base, n=4) if len(base) > 1 else [base[0]] * 3
        print(f"{name:32} {statistics.median(base):14.6g} {q[2] - q[0]:12.4g} "
              f"{statistics.median(new):14.6g} {ratio:>13} {wins:>3}/{len(base)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("baseline")
    ap.add_argument("change")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-6"))
    ap.add_argument("--workloads", default="inmem-heaps,durable-zipf")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append every run's JSON line to this file")
    a = ap.parse_args()
    sides = {"baseline": os.path.abspath(a.baseline), "change": os.path.abspath(a.change)}
    better = directions(sides["change"], a.trace)

    for workload in a.workloads.split(","):
        pairs = []
        for i, seed in enumerate(a.seeds):
            order = ["baseline", "change"] if i % 2 == 0 else ["change", "baseline"]
            got = {}
            for side in order:
                r = run_one(sides[side], workload, seed, a.seconds, a.trace)
                ok = r is not None and r.get("correct") is True
                print(f"[pairs] {workload} seed={seed} {side}: "
                      f"{'ok' if ok else 'FAILED or incorrect'}", file=sys.stderr, flush=True)
                if a.log and r is not None:
                    with open(a.log, "a") as fh:
                        fh.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                             "result": r}) + "\n")
                if ok:
                    got[side] = r
            if len(got) == 2:
                pairs.append((got["baseline"], got["change"]))
        report(workload, pairs, better)


if __name__ == "__main__":
    main()
