"""Self-tests of the benchmark (about 5 minutes on 4 cores):

    python3 -m pytest perfbench -q

The smoke tests run every workload at the tiny shape in both modes and
assert that every metric BENCHMARK.json names is printed, with its unit.
The negative tests assert that a corrupted output counts as a failed
operation without aborting the run.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(workload: str, trace: int, prelude: str = "") -> dict:
    """One tiny run; ``prelude`` is Python run in the process first (used
    to corrupt an output)."""
    argv = ["perfbench/run.py", "--workload", workload, "--seed", "3",
            "--seconds", "1", "--trace", str(trace), "--shape", "tiny"]
    code = (f"import runpy, sys\nsys.path.insert(0, {ROOT!r})\n{prelude}\n"
            f"sys.argv = {argv!r}\n"
            "runpy.run_path('perfbench/run.py', run_name='__main__')\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, text=True,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_its_unit(workload, trace):
    res = run_bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    named = BENCH["end_to_end" if trace == 0 else "per_layer"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in named}
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())


CORRUPT_LEAF = """
from sparkcrawl import registry
_load_all = registry.load_all
def load_all():
    _load_all()
    fn = registry.QUERIES["agg_pricing_summary"]
    registry.QUERIES["agg_pricing_summary"] = lambda s, d: fn(s, d).limit(1)
registry.load_all = load_all
"""

CORRUPT_ROUND = """
from sparkcrawl import rounds
_run_round = rounds.CrawlEngine.run_round
def run_round(self):
    s = _run_round(self)
    s["links_new"] += 1
    return s
rounds.CrawlEngine.run_round = run_round
"""


@pytest.mark.parametrize("workload,prelude", [
    ("web_analytics", CORRUPT_LEAF), ("crawl_wide", CORRUPT_ROUND)])
def test_corrupted_output_counts_as_failure(workload, prelude):
    res = run_bench(workload, 0, prelude)
    assert res["correct"] is False
    assert res["failed"] >= 1 and res["attempted"] >= res["failed"]
    if workload == "crawl_wide":       # every timed round was corrupted
        assert res["failed"] == res["attempted"]
    else:                              # one leaf of the mix, once per pass
        assert res["failed"] < res["attempted"]


def test_round_check_catches_one_changed_counter():
    shape = workloads.CRAWL["tiny"]
    seeds = workloads.crawl_seed_urls(shape, 3)
    model = checks.model_rounds(shape["pages"], shape["fat"], seeds,
                                shape["budget"], shape["rounds"])
    engine = [dict(r) for r in model]
    assert all(checks.round_ok(engine, model))
    engine[-1]["urls_fetched"] += 1
    assert checks.round_ok(engine, model) == [True] * (len(model) - 1) + [False]
    # a round the model never ran
    assert checks.round_ok(engine[:1] * (len(model) + 1), model)[-1] is False


def test_checksum_is_order_insensitive_with_double_tolerance():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    base = checks.checksum(df)
    assert checks.checksum(df.iloc[::-1]) == base
    assert checks.checksum(df[["v", "k"]]) == base
    assert checks.checksum(df.assign(v=df["v"] + 1e-9)) == base
    assert checks.checksum(df.assign(v=df["v"] + 1e-3)) != base
    assert checks.checksum(df.iloc[:2])[0] == 2


def test_checksum_sees_types_and_column_names():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    base = checks.checksum(df)
    # an integer column that became a double
    assert checks.checksum(df.astype({"v": "float64"})) != base
    # the same values under another column name, or two columns swapped
    assert checks.checksum(df.rename(columns={"v": "w"})) != base
    assert checks.checksum(df.rename(columns={"k": "v", "v": "k"})) != base
