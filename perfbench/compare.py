"""A/B comparison of two checkouts on the benchmark.

    python3 perfbench/compare.py --base ../parent --head . [--pairs 10]

Runs the end-to-end benchmark (--trace 0) of each checkout in pairs,
alternating which side runs first, on the same seeds, for every workload
of BENCHMARK.json (or --workload). Both checkouts must carry the same
benchmark: a change that claims a gain may not edit it.

For each workload and end-to-end metric it prints one row: the median and
quartiles of each side, the share of pairs the head won (ties count for
neither side), and a verdict:

* ``gain``: the head won at least nine tenths of the pairs, the medians
  differ by more than the base's own spread (its interquartile distance),
  and the head failed no more runs than the base;
* ``regression``: the head's median is worse than the base's by more than
  the metric's bound;
* ``unresolved``: the base's spread is wider than the bound, unless every
  head run reads better than every base run;
* ``within bound``: none of the above.

Set-up time is a metric like the others, so work moved into set-up shows.
Failed runs and failed output checks are counted per side.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def bench_digest(root, paths):
    h = hashlib.sha256()
    for p in paths:
        for d, dirs, files in sorted(os.walk(os.path.join(root, p))):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                full = os.path.join(d, f)
                h.update(os.path.relpath(full, root).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(root, "BENCHMARK.json"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def run(root, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return result if p.returncode == 0 and result.get("correct") else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, head, metric, more_failures):
    lower = metric["better"] == "lower"
    b1, bm, b3 = quartiles(base)
    _, hm, _ = quartiles(head)
    wins = sum((h < b) if lower else (h > b) for b, h in zip(base, head))
    share = wins / len(base)
    worse = (hm - bm) / bm if lower else (bm - hm) / bm
    all_better = (max(head) < min(base)) if lower else (min(head) > max(base))
    if share >= 0.9 and abs(hm - bm) > (b3 - b1) and not more_failures:
        word = "gain"
    elif worse > metric["bound"]:
        word = "regression"
    elif (b3 - b1) / bm > metric["bound"] and not all_better:
        word = "unresolved"
    else:
        word = "within bound"
    return share, word


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--head", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--workload", action="append", help="limit to these workloads")
    a = ap.parse_args()

    with open(os.path.join(a.head, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if bench_digest(a.base, spec["paths"]) != bench_digest(a.head, spec["paths"]):
        sys.exit("compare: the two checkouts carry different benchmarks")
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    print("%-10s %-32s %-30s %-30s %6s  %s" % (
        "workload", "metric", "base q1/median/q3", "head q1/median/q3", "won", "verdict"))
    for w in workloads:
        results = {"base": [], "head": []}
        failed = {"base": 0, "head": 0}
        for i in range(a.pairs):
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            pair = {}
            for side in order:
                pair[side] = run(getattr(a, side), spec, w, a.seed + i)
                failed[side] += pair[side] is None
            if pair["base"] and pair["head"]:
                for side in pair:
                    results[side].append(pair[side]["metrics"])
        if not results["base"]:
            print("%-10s no pair completed (failed runs: base %d, head %d)" % (
                w, failed["base"], failed["head"]))
            continue
        for m in spec["end_to_end"]:
            base = [r[m["name"]]["value"] for r in results["base"]]
            head = [r[m["name"]]["value"] for r in results["head"]]
            share, word = verdict(base, head, m, failed["head"] > failed["base"])
            fmt = lambda xs: "%.4g/%.4g/%.4g" % quartiles(xs)
            print("%-10s %-32s %-30s %-30s %5.0f%%  %s" % (
                w, m["name"], fmt(base), fmt(head), 100 * share, word))
        print("%-10s pairs %d, failed runs: base %d, head %d" % (
            w, len(results["base"]), failed["base"], failed["head"]))


if __name__ == "__main__":
    main()
