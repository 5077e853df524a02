#!/usr/bin/env python3
"""Paired benchmark comparison of two graft checkouts.

    python3 tools/perf_pairs.py <baseline checkout> <change checkout> \\
        [--seeds 1-6] [--workloads inmem-heaps,durable-zipf] [--seconds 8] [--trace 0]

For each workload and seed, runs `perfbench/run.py` once in the baseline
checkout and once in the change checkout, alternating which side goes first
from seed to seed, so slow drift of the machine lands on both sides. Each
checkout builds and caches its own benchmark classpath on its first run.

Prints, per workload: each side's failed and incorrect run counts, then per
metric each side's median, the baseline's interquartile range (a gain is told
apart from noise only when the medians differ by more than it), the median of
the per-seed ratios change/baseline, how many seeds the change won (by the
metric's `better` direction in the change checkout's BENCHMARK.json) and, for
a metric with a `bound`, a verdict:
  worse       the change's median is worse than the baseline's by more than
              the bound (relative to the baseline's median);
  unresolved  otherwise, when the baseline's IQR/median exceeds the bound,
              unless every change run beats every baseline run;
  not worse   otherwise.
A run that fails or reports `correct: false` is listed and left out of its
pair; the tool then exits 1. Each run's JSON line is appended to --log
(default: none), with the last stderr lines of a run that failed.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys
import tempfile

STDERR_TAIL = 40


def seeds_arg(text):
    """`1-6` or `1,3,5` -> list of ints."""
    if "-" in text:
        lo, hi = text.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: (its result dict or None on failure,
    the last STDERR_TAIL lines of its stderr)."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    with tempfile.TemporaryFile(mode="w+") as err:
        proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
        err.seek(0)
        tail = [ln.rstrip("\n") for ln in collections.deque(err, maxlen=STDERR_TAIL)]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        return None, tail + [f"[perf_pairs] exit status {proc.returncode}"]
    try:
        return json.loads(lines[-1]), tail
    except json.JSONDecodeError:
        return None, tail + [f"[perf_pairs] last stdout line is not JSON: {lines[-1][:200]}"]


def metric_specs(checkout, trace):
    """name -> (better, bound or None) from the checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: (m["better"], m.get("bound")) for m in spec["per_layer" if trace else "end_to_end"]}


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def verdict(base, new, better, bound):
    """The no-regression verdict of one metric over paired runs (see the
    module doc), or '-' when the metric has no bound."""
    if bound is None:
        return "-"
    sign = 1 if better == "higher" else -1
    b, n = statistics.median(base), statistics.median(new)
    # the change's worsening of the median, relative to the baseline's
    loss = sign * (b - n) / abs(b) if b != 0 else (1.0 if sign * (b - n) > 0 else 0.0)
    if loss > bound:
        return "worse"
    q = quartiles(base)
    spread = (q[2] - q[0]) / abs(b) if b != 0 else (0.0 if q[2] == q[0] else float("inf"))
    if spread > bound and not all(sign * (x - y) > 0 for x in new for y in base):
        return "unresolved"
    return "not worse"


def report(workload, pairs, specs, counts=None):
    """Prints the comparison of `pairs` [(baseline result, change result)];
    `counts` maps a side to its (failed, incorrect, runs). Returns the
    verdict per metric."""
    print(f"== {workload}: {len(pairs)} pairs ==")
    for side, (failed, incorrect, runs) in sorted((counts or {}).items()):
        print(f"{side}: {failed} failed, {incorrect} incorrect of {runs} runs")
    print(f"{'metric':32} {'base median':>14} {'base IQR':>12} {'change median':>14} "
          f"{'ratio median':>13} {'wins':>6}  verdict")
    verdicts = {}
    for name in sorted(specs):
        better, bound = specs[name]
        base = [b["metrics"][name]["value"] for b, _ in pairs if name in b["metrics"]]
        new = [c["metrics"][name]["value"] for _, c in pairs if name in c["metrics"]]
        if not base or len(base) != len(new):
            continue
        ratios = [n / b for b, n in zip(base, new) if b != 0]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for b, n in zip(base, new) if sign * (n - b) > 0)
        ratio = f"{statistics.median(ratios):.3f}" if ratios else "-"
        q = quartiles(base)
        verdicts[name] = verdict(base, new, better, bound)
        print(f"{name:32} {statistics.median(base):14.6g} {q[2] - q[0]:12.4g} "
              f"{statistics.median(new):14.6g} {ratio:>13} {wins:>3}/{len(base)}  {verdicts[name]}")
    return verdicts


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("baseline")
    ap.add_argument("change")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-6"))
    ap.add_argument("--workloads", default="inmem-heaps,durable-zipf")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append every run's JSON line to this file")
    a = ap.parse_args(argv)
    sides = {"baseline": os.path.abspath(a.baseline), "change": os.path.abspath(a.change)}
    specs = metric_specs(sides["change"], a.trace)

    incomplete = 0
    for workload in a.workloads.split(","):
        pairs = []
        counts = {side: [0, 0, 0] for side in sides}
        for i, seed in enumerate(a.seeds):
            order = ["baseline", "change"] if i % 2 == 0 else ["change", "baseline"]
            got = {}
            for side in order:
                r, tail = run_one(sides[side], workload, seed, a.seconds, a.trace)
                ok = r is not None and r.get("correct") is True
                counts[side][2] += 1
                if r is None:
                    counts[side][0] += 1
                elif not ok:
                    counts[side][1] += 1
                print(f"[pairs] {workload} seed={seed} {side}: "
                      f"{'ok' if ok else 'FAILED' if r is None else 'incorrect'}", file=sys.stderr, flush=True)
                if r is None:
                    print("\n".join("    " + ln for ln in tail[-5:]), file=sys.stderr, flush=True)
                if a.log:
                    rec = {"workload": workload, "seed": seed, "side": side, "result": r}
                    if not ok:
                        rec["stderr_tail"] = tail
                    with open(a.log, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
                if ok:
                    got[side] = r
            if len(got) == 2:
                pairs.append((got["baseline"], got["change"]))
            else:
                incomplete += 1
        report(workload, pairs, specs, {s: tuple(c) for s, c in counts.items()})
    if incomplete:
        print(f"[pairs] {incomplete} incomplete pair(s): see the failed and incorrect counts above",
              file=sys.stderr)
    return 1 if incomplete else 0


if __name__ == "__main__":
    sys.exit(main())
