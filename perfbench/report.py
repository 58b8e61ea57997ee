#!/usr/bin/env python3
"""Noise report over the artifacts of untraced benchmark runs.

    python3 perfbench/report.py 'A_GLOB' ['B_GLOB']

Each glob selects the artifacts (`.bench_build/perfbench/artifacts/*.json`)
of one set of runs, normally ten seeds per workload. Per workload and
end-to-end metric it prints the set's median, the spread between runs
(IQR/median over the runs, as the regression check computes it), the
spread within a JVM (IQR/median over one run's timed ops, median over the
runs) and, given a second set, the gap between the two medians. It also
prints the seed spread of the exact counts (pairs out) and the ops'
executor busy fraction.
"""
import glob
import json
import statistics
import sys


def spread(values):
    """IQR/median, with quartiles as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def delta(op, k):
    return op["after"][k] - op["before"][k]


def load(pattern):
    by_workload = {}
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            a = json.load(f)
        if a["trace"] == 0:
            by_workload.setdefault(a["workload"], []).append(a)
    return by_workload


def per_op(a):
    """Per timed op: the values each end-to-end metric summarises."""
    nproc = a["host"]["nproc"]
    ops = [o for o in a["ops"] if o["timed"]]
    return {
        "op_s": [o["wall_s"] for o in ops],
        "cpu_s": [delta(o, "cpu_ns") / 1e9 for o in ops],
        "busy_frac": [delta(o, "run_ms") / 1e3 / (nproc * o["wall_s"]) for o in ops],
    }


def summary(runs):
    out = {}
    for m in runs[0]["metrics"]:
        vals = [a["metrics"][m]["value"] for a in runs]
        out[m] = (statistics.median(vals), spread(vals))
    return out


def main():
    sets = [load(p) for p in sys.argv[1:3]]
    if not sets or not sets[0]:
        raise SystemExit(__doc__)
    for w, runs in sorted(sets[0].items()):
        failed = sum(a["failed"] for a in runs)
        attempted = sum(a["attempted"] for a in runs)
        print(f"{w}: {len(runs)} runs, {failed} of {attempted} ops failed, "
              f"{len({a['inputs']['digest'] for a in runs})} distinct inputs")
        a_sum = summary(runs)
        b_sum = summary(sets[1][w]) if len(sets) > 1 and w in sets[1] else None
        ops = [per_op(a) for a in runs]
        print(f"  {'metric':12s} {'median':>9s} {'between':>8s} {'within':>7s}" +
              (f" {'median B':>9s} {'between B':>9s} {'gap':>7s}" if b_sum else ""))
        for m, (med, sp) in a_sum.items():
            within = (f"{statistics.median(spread(o[m]) for o in ops):7.3f}" if m in ops[0]
                      else f"{'-':>7s}")
            line = f"  {m:12s} {med:9.4f} {sp:8.3f} {within}"
            if b_sum:
                b_med, b_sp = b_sum[m]
                line += f" {b_med:9.4f} {b_sp:9.3f} {b_med / med - 1:+7.3f}"
            print(line)
        busy = [statistics.median(o["busy_frac"]) for o in ops]
        print(f"  op busy_frac median {statistics.median(busy):.3f} "
              f"(runs {min(busy):.3f}-{max(busy):.3f})")
        pairs = [sum(v[0] for k, v in a["expected"].items() if not k.endswith(".eval")
                     and k != "l_indexing") for a in runs]
        print(f"  pairs out per op: median {statistics.median(pairs)}, "
              f"seed spread {spread(pairs):.3f} (range {min(pairs)}-{max(pairs)})")


if __name__ == "__main__":
    main()
