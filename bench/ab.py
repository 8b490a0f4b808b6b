#!/usr/bin/env python3
"""Interleaved A/B of two commits on one perfbench workload.

    python3 bench/ab.py REF_A REF_B --workload crawl_wide --pairs 10 --seed0 11

Exports each ref's committed files (``git archive``) into its own fresh
temporary directory, so neither side sees the other's or the working
tree's files, then runs pair i on seed ``seed0 + i``: the tree's own
BENCHMARK.json command (``perfbench/run.py --workload W --seed S --seconds
<run_seconds>``) once in each tree, A first on even pairs and B first on
odd ones.  ``bench/calibrate.py`` is read before the first pair and after
every pair, so host drift shows next to the pair it disturbed.

Prints, per metric: every pair's two values and B/A, each side's median and
quartiles, the number of pairs B wins (ties count for neither) and a
verdict:
- ``claimed``: B wins at least 9/10 of the pairs run and the medians differ,
  in B's favour, by more than A's interquartile range;
- ``regressed``: B's median is worse than A's by more than the metric's
  bound in BENCHMARK.json;
- ``inside noise``: anything else.
Exit status 1 if any run failed or was not correct.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_SHARE = 0.9


def checkout(ref: str, dest: str) -> str:
    """The committed files of ``ref`` in ``dest``; returns the commit id."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait():
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_bench(tree: str, workload: str, seed: int, seconds: int, trace: int):
    """One perfbench run in ``tree``: its result object, or None if it
    exited non-zero or printed nothing."""
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    cmd += ["--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=1200)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]) if out.returncode == 0 and lines else None


def calibrate() -> dict:
    out = subprocess.run([sys.executable, os.path.join(ROOT, "bench", "calibrate.py")],
                         stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(vals: list) -> tuple:
    """(q1, median, q3); the quartiles are NaN below two values."""
    if len(vals) < 2:
        return float("nan"), statistics.median(vals), float("nan")
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def verdict(a: list, b: list, wins: int, pairs_run: int, higher: bool,
            bound=None) -> str:
    """The verdict for one metric.  ``a``/``b`` hold each side's
    values from the pairs where both ran; ``pairs_run`` counts every pair."""
    q1, med_a, q3 = quartiles(a)
    gain = (statistics.median(b) - med_a) * (1 if higher else -1)
    if wins >= WIN_SHARE * pairs_run and gain > q3 - q1:
        return "claimed"
    if bound is not None and gain < -bound * abs(med_a):
        return "regressed"
    return "inside noise"


def report(pairs: list, metrics: dict, pairs_run: int) -> list:
    """Text lines for every metric both sides reported.  ``pairs`` holds
    ``(seed, first, res_a, res_b)``; ``metrics`` maps a name to its
    BENCHMARK.json entry."""
    lines = []
    names = [n for n in metrics
             if any(ra and rb and n in ra["metrics"] and n in rb["metrics"]
                    for _, _, ra, rb in pairs)]
    for name in names:
        spec = metrics[name]
        higher = spec["better"] == "higher"
        lines.append(f"{name} ({spec['unit']}, {spec['better']} is better, "
                     f"bound {spec.get('bound')})")
        a, b, wins = [], [], 0
        for seed, first, ra, rb in pairs:
            va = ra and ra["metrics"].get(name, {}).get("value")
            vb = rb and rb["metrics"].get(name, {}).get("value")
            if va is None or vb is None:
                lines.append(f"  seed {seed:>3} first {first}  A {va}  B {vb}")
                continue
            a.append(va)
            b.append(vb)
            wins += (vb > va) if higher else (vb < va)
            ratio = vb / va if va else float("nan")
            lines.append(f"  seed {seed:>3} first {first}  A {va:>10.5g}  "
                         f"B {vb:>10.5g}  B/A {ratio:.3f}")
        for side, vals in (("A", a), ("B", b)):
            q1, med, q3 = quartiles(vals)
            lines.append(f"  {side}: median {med:.5g}  quartiles "
                         f"{q1:.5g}-{q3:.5g}  n={len(vals)}")
        lines.append(f"  B wins {wins}/{pairs_run}: "
                     f"{verdict(a, b, wins, pairs_run, higher, spec.get('bound'))}")
    return lines


def main(argv=None, run=run_bench, cal=calibrate) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base = tempfile.mkdtemp(prefix="sparkcrawl-ab-")
    try:
        trees = {}
        for side, ref in (("A", args.ref_a), ("B", args.ref_b)):
            trees[side] = os.path.join(base, side)
            print(f"{side} = {ref} ({checkout(ref, trees[side])})", flush=True)
        print(f"calibrate: {json.dumps(cal())}", flush=True)
        pairs, ok = [], True
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            res = {}
            for side in order:
                res[side] = run(trees[side], args.workload, seed,
                                bench["run_seconds"], args.trace)
                r = res[side]
                ok &= bool(r and r["correct"] and not r["failed"])
                print(f"seed {seed} {side}: " + (
                    f"correct={r['correct']} attempted={r['attempted']} "
                    f"failed={r['failed']}" if r else "no result"), flush=True)
            pairs.append((seed, order[0], res["A"], res["B"]))
            print(f"calibrate: {json.dumps(cal())}", flush=True)
        print(f"workload {args.workload}, {args.pairs} pairs, seeds "
              f"{args.seed0}-{args.seed0 + args.pairs - 1}, "
              f"{bench['run_seconds']} s runs, trace {args.trace}")
        print("\n".join(report(pairs, metrics, args.pairs)))
        return 0 if ok else 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
