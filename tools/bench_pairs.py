#!/usr/bin/env python3
"""Pairwise benchmark of two checkouts: the parent commit and a change.

    python3 tools/bench_pairs.py PARENT CHANGE --workload extract_text --seeds 41-50

For each seed in the range it runs ``python3 perfbench/run.py --trace 0`` in
PARENT, then in CHANGE, with the same workload, seed and run length (the
``run_seconds`` of ``BENCHMARK.json`` in PARENT unless ``--seconds`` is
given). It prints each pair's end-to-end metrics as the runs finish, then per
metric each side's median and quartiles and the pairs the change won (a tie
counts for neither side). A metric's direction comes from the
``end_to_end`` list of ``BENCHMARK.json``. The runs write nothing in either
checkout beyond perfbench's own ``.bench_build/``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def run(checkout, workload, seed, seconds):
    """One benchmark run; returns (metrics or None, failed-operation share)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    try:
        out = json.loads(last)
    except json.JSONDecodeError:
        sys.stderr.write(f"run failed in {checkout} (exit {r.returncode}):\n{r.stderr[-2000:]}\n")
        return None, 1.0
    failed = out["failed"] / max(1, out["attempted"])
    if not out["correct"]:
        sys.stderr.write(f"incorrect output in {checkout}, seed {seed}\n")
        return None, 1.0
    return {k: v["value"] for k, v in out["metrics"].items()}, failed


def quartiles(xs):
    """(q1, median, q3); the quartiles of fewer than two samples are the sample."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, help="run length (default: BENCHMARK.json run_seconds)")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    names = [m["name"] for m in bench["end_to_end"]]
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]

    pairs = []
    print(f"workload {a.workload}, {seconds:g} s per run, parent {a.parent}, change {a.change}")
    print("%6s  %-18s %14s %14s" % ("seed", "metric", "parent", "change"))
    for seed in a.seeds:
        p, pf = run(a.parent, a.workload, seed, seconds)
        c, cf = run(a.change, a.workload, seed, seconds)
        pairs.append((seed, p, c, pf, cf))
        for n in names:
            pv = "failed" if p is None else "%.4g" % p[n]
            cv = "failed" if c is None else "%.4g" % c[n]
            print("%6d  %-18s %14s %14s" % (seed, n, pv, cv))
        print("%6d  %-18s %14.4f %14.4f" % (seed, "failed_share", pf, cf), flush=True)

    ok = [(p, c) for _, p, c, _, _ in pairs if p is not None and c is not None]
    print(f"\n{len(ok)} of {len(pairs)} pairs completed on both sides")
    if not ok:
        return 1
    print("%-18s %30s %30s %10s %8s" % ("metric", "parent q1 / median / q3", "change q1 / median / q3",
                                        "median Δ", "won"))
    for n in names:
        ps = [p[n] for p, _ in ok]
        cs = [c[n] for _, c in ok]
        sign = 1 if better[n] == "higher" else -1
        won = sum(1 for pv, cv in zip(ps, cs) if sign * (cv - pv) > 0)
        pq, cq = quartiles(ps), quartiles(cs)
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print("%-18s %30s %30s %+9.1f%% %4d/%-3d" % (
            n, "%.4g / %.4g / %.4g" % pq, "%.4g / %.4g / %.4g" % cq, 100 * delta, won, len(ok)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
