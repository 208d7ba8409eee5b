"""Paired comparison and spread check for the spatial benchmark.

Compare a parent checkout with a change, same benchmark code on both sides:

    python3 spatialbench/compare.py pairs --parent ../parent --change . \\
        --workload layer-serve --workload graph-loop --pairs 10

Each pair runs both sides on the same seed (seeds 1000, 1001, ...), alternating
which side runs first, for BENCHMARK.json's run_seconds,
with this checkout's benchmark code on both sides (run.py --source points it at
each side's library). For every end-to-end metric in BENCHMARK.json it prints
each side's median and quartiles, the share of pairs the change wins (ties
count for neither), and a verdict: "unresolved" when either side's quartile
spread is wider than the metric's bound (unless every change run reads better
than every parent run), "regression" when the change's median is worse by more
than the bound, "gain" when the change wins at least 9 of 10 pairs and the
medians differ by more than the parent's own quartile spread, else "no change".

Check that one checkout's figures are steady across seeds:

    python3 spatialbench/compare.py spread --workload layer-edit --seeds 10

prints, per metric, the quartile spread of the runs as a share of their median
against the metric's bound.

A run that fails or reports a wrong result (correct=false) stops the script.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED0 = 1000


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b, {m["name"]: m for m in b["end_to_end"]}


def run(source, workload, seed, seconds):
    """One benchmark run of `source`'s library; returns its result object.
    Exits if the run fails or its result is wrong: its timings do not count."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0", "--source", source]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    if p.returncode != 0 or not res.get("correct"):
        what = "wrong result (correct=false)" if res else f"failed with exit code {p.returncode}"
        sys.exit(f"stopping: {workload} seed {seed} on {source}: {what}\n  {' '.join(cmd)}")
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def worse(a, b, better):
    """How much worse `a` is than `b`, as a share of `b` (negative: better)."""
    return (a - b) / b if better == "lower" else (b - a) / b


def cmd_pairs(a):
    bench, metrics = spec()
    for w in a.workload:
        parent, change = {m: [] for m in metrics}, {m: [] for m in metrics}
        for i in range(a.pairs):
            seed = SEED0 + i
            order = [(a.parent, parent), (a.change, change)]
            if i % 2:
                order.reverse()
            for src, acc in order:
                res = run(os.path.abspath(src), w, seed, bench["run_seconds"])
                for m in metrics:
                    acc[m].append(res["metrics"][m]["value"])
            print(f"  {w} pair {i + 1}/{a.pairs} (seed {seed}) done", file=sys.stderr)
        print(f"\n{w}: {a.pairs} pairs")
        print(f"  {'metric':<14} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6}  verdict")
        for m, spec_m in metrics.items():
            p, c = parent[m], change[m]
            wins = sum(1 for x, y in zip(p, c) if worse(y, x, spec_m["better"]) < 0)
            pq, cq = quartiles(p), quartiles(c)
            bound = spec_m["bound"]
            all_better = all(worse(y, x, spec_m["better"]) < 0 for y in c for x in p)
            if max(spread(p), spread(c)) > bound:
                verdict = "gain (every change run better)" if all_better else "unresolved"
            elif worse(cq[1], pq[1], spec_m["better"]) > bound:
                verdict = "regression"
            elif wins >= 0.9 * len(p) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "gain"
            else:
                verdict = "no change"
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
            print(f"  {m:<14} {fmt(pq):>30} {fmt(cq):>30} {wins:>3}/{len(p):<2}  {verdict}")


def cmd_spread(a):
    bench, metrics = spec()
    for w in a.workload:
        vals = {m: [] for m in metrics}
        for i in range(a.seeds):
            res = run(os.path.abspath(a.source), w, SEED0 + i, bench["run_seconds"])
            for m in metrics:
                vals[m].append(res["metrics"][m]["value"])
            print(f"  {w} seed {SEED0 + i}: " +
                  " ".join(f"{m}={vals[m][-1]:.4g}" for m in metrics), file=sys.stderr)
        print(f"\n{w}: {a.seeds} seeds from {SEED0}")
        for m, spec_m in metrics.items():
            q1, med, q3 = quartiles(vals[m])
            s = spread(vals[m])
            flag = "" if s <= spec_m["bound"] / 3 else (" (over a third of the bound)" if s <= spec_m["bound"]
                                                        else " (OVER THE BOUND)")
            print(f"  {m:<14} median {med:.4g} {spec_m['unit']}, q1 {q1:.4g}, q3 {q3:.4g}, "
                  f"spread {s:.3f} vs bound {spec_m['bound']}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs", help="alternate parent and change runs")
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", default=ROOT, help="checkout of the change (default: this one)")
    p.add_argument("--pairs", type=int, default=10)
    s = sub.add_parser("spread", help="quartile spread of one checkout over seeds")
    s.add_argument("--source", default=ROOT, help="checkout to measure (default: this one)")
    s.add_argument("--seeds", type=int, default=10)
    for x in (p, s):
        x.add_argument("--workload", action="append", required=True)
    a = ap.parse_args()
    (cmd_pairs if a.cmd == "pairs" else cmd_spread)(a)


if __name__ == "__main__":
    main()
