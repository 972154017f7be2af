#!/usr/bin/env python3
"""Paired A/B of one perfbench workload across two checkouts.

    python3 tools/ab.py BASE_DIR CHANGE_DIR --workload q4112_probe --pairs 10

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace R`
in each checkout, one run at a time, alternating which side goes first
(pair 1 runs BASE first, pair 2 CHANGE first, ...). Each checkout builds
its own engine on its first run. The run length T is BENCHMARK.json's
`run_seconds`, and each metric's direction (lower or higher is better)
its `better` (lower when a metric is not listed), both read from
BASE_DIR; the two checkouts' run lengths must agree. Prints, for every
metric of the runs' JSON line (the end-to-end ones with --trace 0, the
per-layer ones with --trace 1): the median [Q1, Q3] of each side, the
per-pair ratios CHANGE / BASE, the pairs CHANGE wins, a two-sided
sign-test p-value and a verdict (see `verdict`) read against the
metric's BENCHMARK.json `bound`.

Exits 1 when any run fails or when the two sides disagree on the run
record's `chosen_plan` or `fail_ratio` (the planner's decision and the
share of passes that missed the oracle), 0 otherwise.
"""
import argparse
import glob
import json
import math
import os
import statistics
import subprocess
import sys


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def run_once(tree, a, seconds):
    """One perfbench run in `tree`: (metrics, record), or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(seconds), "--trace", str(a.trace)]
    p = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = p.communicate()
    lines = out.strip().splitlines()
    # exit 1 with a JSON line: a pass missed its oracle, which fail_ratio shows
    if p.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        log(f"run failed in {tree} (exit {p.returncode}):\n{err[-3000:]}")
        return None
    metrics = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    # run.py names its record after its own pid
    pattern = os.path.join(tree, "perfbench", ".runs", "records",
                           f"*-{a.workload}-s{a.seed}-t{a.trace}-{p.pid}.json")
    found = glob.glob(pattern)
    if len(found) != 1:
        log(f"no single run record matches {pattern}")
        return None
    with open(found[0]) as f:
        rec = json.load(f)
    return metrics, {k: rec.get(k) for k in ("chosen_plan", "fail_ratio", "steal_share")}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def sign_test(wins, losses):
    """Two-sided exact sign test over the pairs that are not ties."""
    n = wins + losses
    if n == 0:
        return 1.0
    k = min(wins, losses)
    tail = sum(math.comb(n, i) for i in range(k + 1)) / 2 ** n
    return min(1.0, 2 * tail)


def verdict(base, change, lower, bound):
    """One metric's reading over paired runs `base` and `change`:
    `gain` when the change wins at least 9/10 of the pairs and its median
    is better than the base's by more than the base's IQR; else, for a
    metric with a `bound` (a fraction of the base median), `worse` when
    the change's median is worse by more than the bound, `unresolved`
    when the base's IQR / median exceeds the bound, `within bound`
    otherwise; a metric without a bound reads `no bound`."""
    wins = sum(1 for x, y in zip(base, change) if (y < x if lower else y > x))
    mb, mc = statistics.median(base), statistics.median(change)
    _, q1, q3 = quartiles(base)
    better_by = mb - mc if lower else mc - mb
    if wins >= 0.9 * len(base) and better_by > q3 - q1:
        return "gain"
    if bound is None:
        return "no bound"

    def share(x):
        return x / abs(mb) if mb else (math.inf if x > 0 else 0.0)

    if share(-better_by) > bound:
        return "worse"
    if share(q3 - q1) > bound:
        return "unresolved"
    return "within bound"


def fmt(x, digits):
    return "n/a" if x is None else f"{x:.{digits}f}"


def benchmark(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    trees = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    bench = benchmark(trees["base"])
    seconds = bench["run_seconds"]
    if benchmark(trees["change"]).get("run_seconds") != seconds:
        sys.exit("[ab] the two checkouts' BENCHMARK.json disagree on run_seconds")
    metrics = bench.get("end_to_end", []) + bench.get("per_layer", [])
    better = {m["name"]: m.get("better", "lower") for m in metrics}
    bound = {m["name"]: m.get("bound") for m in metrics}

    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            log(f"pair {i + 1}/{a.pairs}: {side}")
            r = run_once(trees[side], a, seconds)
            if r is None:
                sys.exit(1)
            runs[side].append(r)
            log(f"  {side}: {json.dumps(r[0])} {json.dumps(r[1])}")

    names = [m for m in runs["base"][0][0] if all(m in r[0] for s in runs for r in runs[s])]
    print(f"workload {a.workload}, {a.pairs} pairs, seed {a.seed}, --seconds {seconds}, "
          f"--trace {a.trace}; ratio = change / base")
    print("| metric | base median [Q1, Q3] | change median [Q1, Q3] | median ratio "
          "| change wins | sign p | per-pair ratios | verdict |")
    print("|---|---|---|---|---|---|---|---|")
    for m in names:
        b = [r[0][m] for r in runs["base"]]
        c = [r[0][m] for r in runs["change"]]
        # a ratio over a zero base (a count or size that reads 0) is n/a
        ratios = [y / x if x else None for x, y in zip(b, c)]
        known = [r for r in ratios if r is not None]
        lower = better.get(m, "lower") == "lower"
        wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        losses = sum(1 for x, y in zip(b, c) if (y > x if lower else y < x))
        bq, cq = quartiles(b), quartiles(c)
        print(f"| {m} | {bq[0]:.3f} [{bq[1]:.3f}, {bq[2]:.3f}] | {cq[0]:.3f} [{cq[1]:.3f}, "
              f"{cq[2]:.3f}] | {fmt(statistics.median(known) if known else None, 3)} "
              f"| {wins}/{a.pairs} | {sign_test(wins, losses):.3g} "
              f"| {' '.join(fmt(r, 2) for r in ratios)} "
              f"| {verdict(b, c, lower, bound.get(m))} |")

    ok = True
    for field in ("chosen_plan", "fail_ratio"):
        seen = {s: sorted({json.dumps(r[1][field]) for r in runs[s]}) for s in runs}
        print(f"{field}: base {', '.join(seen['base'])}; change {', '.join(seen['change'])}")
        ok &= seen["base"] == seen["change"]
    if not ok:
        log("the two sides disagree on chosen_plan or fail_ratio")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
