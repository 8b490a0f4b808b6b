"""bench/ab.py: pair order and the claimed / regressed / inside-noise
verdict rule (fake runner, no Spark)."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(ROOT, "bench", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

A10 = [100, 101, 102, 103, 104, 105, 106, 107, 108, 109]  # median 104.5, IQR 5.5


@pytest.mark.parametrize("b, wins, higher, bound, want", [
    ([x + 10 for x in A10], 10, True, 0.25, "claimed"),
    ([x + 10 for x in A10], 9, True, 0.25, "claimed"),            # 9/10 is enough
    ([x + 10 for x in A10], 8, True, 0.25, "inside noise"),       # 8/10 is not
    ([x + 5 for x in A10], 10, True, 0.25, "inside noise"),       # gain 5 < IQR 5.5
    ([x + 10 for x in A10], 10, False, 0.25, "inside noise"),     # higher is worse here
    ([x - 10 for x in A10], 10, False, 0.25, "claimed"),
    ([x * 0.7 for x in A10], 0, True, 0.25, "regressed"),         # -30% > bound
    ([x * 0.8 for x in A10], 0, True, 0.25, "inside noise"),      # -20% inside bound
    ([x * 1.3 for x in A10], 0, False, 0.25, "regressed"),
    ([x * 0.7 for x in A10], 0, True, None, "inside noise"),      # no bound, no regression
])
def test_verdict_rule(b, wins, higher, bound, want):
    assert ab.verdict(A10, b, wins, len(A10), higher, bound) == want


def test_a_failed_pair_counts_against_the_claim():
    a, b = A10[:9], [x + 10 for x in A10[:9]]
    assert ab.verdict(a, b, 9, 9, True, 0.25) == "claimed"
    assert ab.verdict(a, b, 9, 10, True, 0.25) == "claimed"
    assert ab.verdict(a[:8], b[:8], 8, 10, True, 0.25) == "inside noise"


def test_main_alternates_order_and_reports(monkeypatch, capsys):
    calls = []

    def fake_run(tree, workload, seed, seconds, trace):
        side = os.path.basename(tree)
        calls.append((seed, side))
        ips = 100 + seed + (20 if side == "B" else 0)
        return {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"items_per_s": {"value": ips, "unit": "1/s"},
                            "setup_s": {"value": 30.0, "unit": "s"}}}

    monkeypatch.setattr(ab, "checkout", lambda ref, dest: os.makedirs(dest) or ref)
    rc = ab.main(["base", "head", "--workload", "crawl_wide", "--pairs", "4",
                  "--seed0", "11"], run=fake_run, cal=lambda: {"hw_efficiency": 1.0})
    out = capsys.readouterr().out
    assert rc == 0
    assert calls == [(11, "A"), (11, "B"), (12, "B"), (12, "A"),
                     (13, "A"), (13, "B"), (14, "B"), (14, "A")]
    assert out.count("calibrate:") == 5
    items = out[out.index("items_per_s ("):out.index("setup_s (")]
    assert "B wins 4/4: claimed" in items
    assert "B wins 0/4: inside noise" in out[out.index("setup_s ("):]
    assert "round_p50_s" not in out  # neither side reported it


def test_main_fails_on_an_incorrect_run(monkeypatch, capsys):
    def fake_run(tree, workload, seed, seconds, trace):
        if os.path.basename(tree) == "B":
            return None
        return {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"items_per_s": {"value": 1.0, "unit": "1/s"}}}

    monkeypatch.setattr(ab, "checkout", lambda ref, dest: os.makedirs(dest) or ref)
    rc = ab.main(["base", "head", "--workload", "web_analytics", "--pairs", "2"],
                 run=fake_run, cal=dict)
    assert rc == 1
    assert "seed 1 B: no result" in capsys.readouterr().out
