"""Compares two sets of benchmark runs.

Usage: python3 perfbench/run.py compare <dir A> <dir B>

Each directory holds result files written by run.py (one per workload,
seed and trace setting). For every workload x metric of BENCHMARK.json it
prints the median and quartiles of each set, the pair wins over seeds run
in both sets (B better / A better / tie), the change of B's median against
A's, and whether that change stays within the metric's bound (end-to-end
metrics only; per-layer metrics have none).
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    """{(workload, trace): {seed: {metric: value}}}"""
    runs = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        key = (r["workload"], int(r["trace"]))
        runs.setdefault(key, {})[r["seed"]] = {
            k: m["value"] for k, m in r["metrics"].items()}
    return runs


def quartiles(xs):
    """(q1, median, q3), as statistics.quantiles gives them."""
    return tuple(statistics.quantiles(xs, n=4)) if len(xs) > 1 else (xs[0],) * 3


def fmt(q):
    return f"{q[1]:.5g} [{q[0]:.5g}, {q[2]:.5g}]"


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    a, b = load(argv[0]), load(argv[1])
    specs = [(m, 0) for m in bench["end_to_end"]] + [(m, 1) for m in bench["per_layer"]]
    print(f"A = {argv[0]}\nB = {argv[1]}")
    print(f"{'workload':12} {'metric':36} {'A median [q1, q3]':>32} "
          f"{'B median [q1, q3]':>32} {'change':>8} {'wins B/A/=':>10}  verdict")
    worse = 0
    for w in [x["name"] for x in bench["workloads"]]:
        for spec, trace in specs:
            name = spec["name"]
            ra, rb = a.get((w, trace), {}), b.get((w, trace), {})
            va = [m[name] for m in ra.values() if name in m]
            vb = [m[name] for m in rb.values() if name in m]
            if not va or not vb:
                continue
            qa, qb = quartiles(va), quartiles(vb)
            lower = spec["better"] == "lower"
            sign = 1 if lower else -1
            bw = aw = tie = 0
            for seed in set(ra) & set(rb):
                x, y = ra[seed].get(name), rb[seed].get(name)
                if x is None or y is None:
                    continue
                d = sign * (y - x)
                bw, aw, tie = bw + (d < 0), aw + (d > 0), tie + (d == 0)
            change = (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
            if "bound" in spec:
                ok = sign * change <= spec["bound"]
                verdict = "within bound" if ok else f"WORSE than bound {spec['bound']}"
                worse += not ok
            else:
                verdict = "-"
            print(f"{w:12} {name:36} {fmt(qa):>32} {fmt(qb):>32} "
                  f"{change:>+8.1%} {f'{bw}/{aw}/{tie}':>10}  {verdict}")
    print(f"{worse} end-to-end metric(s) worse than their bound")
    return 1 if worse else 0
