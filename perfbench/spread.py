#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, per workload and end-to-end metric.

    python3 perfbench/spread.py --workload web_analytics --seeds 1-10

Runs ``perfbench/run.py`` once per seed (one at a time, from the repository
root, with BENCHMARK.json's ``run_seconds``), then prints, for each
end-to-end metric, the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound.  The
host-speed and CPU-steal readings of each run are printed too, so a wide
spread can be told apart from host drift.  With ``--overhead`` each seed runs untraced
and traced, and the tracing overhead (traced minus untraced
``items_per_s``, medians) is printed.  Exit status 1 if any run failed
its checks.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run each seed untraced and traced")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values, ok = {}, True
    modes = (0, 1) if args.overhead else (args.trace,)
    for seed, trace in [(s, t) for s in args.seeds for t in modes]:
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace",
                                  str(trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True,
                             timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}", flush=True)
            ok = False
            continue
        res = json.loads(lines[-1])
        diag = json.loads(lines[-2])["diagnostics"] if len(lines) > 1 else {}
        ok &= res["correct"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} trace {trace}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
              + f" host_speed_s={diag.get('host_speed_s')}"
              + f" cpu_steal_pct={diag.get('cpu_steal_pct')}", flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    if args.overhead:
        names = ("items_per_s", "trace.items_per_s")
        values = {n: values.get(n, []) for n in names}
        if all(values.values()):
            untraced, traced = (statistics.median(values[n]) for n in names)
            print(f"tracing overhead: traced {traced:.5g} - untraced "
                  f"{untraced:.5g} = {traced - untraced:.5g} items/s "
                  f"({(traced - untraced) / untraced:+.2%})")
    for name, vals in values.items():
        med = statistics.median(vals)
        spread = float("nan")
        if len(vals) >= 2 and med:
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med
        print(f"{name}: n={len(vals)} median={med:.5g} iqr/median={spread:.4f}"
              f" bound={bounds.get(name)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
