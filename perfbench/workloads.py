"""The workloads: set-up (inputs + fixed warm-up) and timed window.

Each workload is a pair of functions ``setup_*`` (untimed, inside
``setup_s``) and ``measure_*`` (the timed window).  The program only sees
the generated inputs: a page corpus written to parquet, or the analytics
tables written by ``tables.py``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from typing import Dict, List

from . import checks, tables

DEFAULT_SEED = 0

# -------------------------------------------------------------- crawl
# crawl_wide: few large rounds over heavy pages (fat=20), so the
# fetch -> husk -> extracted-write path carries a large share of each round.
# "bench" is the shape every run uses, "tiny" the self-test's.  A run makes
# at least ``min_crawls`` whole crawls, so its metrics are medians.
CRAWL = {
    "bench": dict(pages=5_000, fat=20, seeds=1_250, budget=1_700, rounds=2,
                  n_buckets=8, salt_buckets=8, min_crawls=3),
    "tiny": dict(pages=400, fat=2, seeds=100, budget=100, rounds=2,
                 n_buckets=4, salt_buckets=2, min_crawls=1),
}
# fixed-shape warm-up crawl on the workload's own corpus: init + two rounds
# (the second round is the first to probe a non-empty seen state; with one
# round that JIT work lands in the timed window)
WARM_CRAWL = dict(seeds=10, budget=20, rounds=2)


def _mix(seed: int) -> int:
    x = (seed * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & ((1 << 64) - 1)
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    return x ^ (x >> 31)


def crawl_seed_urls(shape: dict, seed: int) -> List[str]:
    """A contiguous block of ``shape["seeds"]`` pages; the default seed
    starts at page 0 (bench.py's seed list), others at a seed-derived
    page."""
    from sparkcrawl import corpus
    n = shape["pages"]
    off = 0 if seed == DEFAULT_SEED else _mix(seed) % n
    return [corpus.page_url((off + i) % n) for i in range(shape["seeds"])]


def setup_crawl(ctx, shape: dict) -> Dict[str, float]:
    """Write the corpus to parquet, then run the fixed warm-up crawl."""
    from sparkcrawl import corpus
    from sparkcrawl.schemas import ROBOTS
    spark = ctx.spark
    t0 = time.perf_counter()
    path = ctx.path("pages")
    corpus.pages_df(spark, shape["pages"], fat=shape["fat"]).write.parquet(path)
    ctx.pages = spark.read.parquet(path)
    ctx.robots = spark.createDataFrame(corpus.robots_rows(), ROBOTS)
    t1 = time.perf_counter()
    eng = _engine(ctx, shape, ctx.path("crawl-warmup"), WARM_CRAWL["budget"])
    eng.init(corpus.seed_urls(shape["pages"], WARM_CRAWL["seeds"]))
    eng.run(WARM_CRAWL["rounds"], stop_when_idle=True)
    return {"setup.inputs_s": t1 - t0,
            "setup.warmup_s": time.perf_counter() - t1}


def _engine(ctx, shape: dict, wd: str, budget: int):
    from sparkcrawl.rounds import CrawlEngine
    os.makedirs(wd)
    return CrawlEngine(ctx.spark, wd, ctx.pages, ctx.robots,
                       budget_per_host=budget, n_buckets=shape["n_buckets"],
                       salt_buckets=shape["salt_buckets"])


def measure_crawl(ctx, shape: dict, seed: int, seconds: float) -> dict:
    """Whole crawls (init, then rounds back to back until idle or the round
    cap), each in a fresh workdir, until ``seconds`` have passed and at
    least ``min_crawls`` were made.  Every crawl has the same inputs, so
    every crawl runs the same rounds."""
    seeds = crawl_seed_urls(shape, seed)
    crawls: List[List[dict]] = []
    crawl_walls: List[float] = []
    round_walls: List[List[float]] = []   # per crawl, per round
    workdirs: List[str] = []
    t_lo = time.time()
    t0 = time.perf_counter()
    while (len(crawls) < shape["min_crawls"]
           or time.perf_counter() - t0 < seconds):
        workdirs.append(ctx.path(f"crawl-timed{len(crawls)}"))
        tc = time.perf_counter()
        eng = _engine(ctx, shape, workdirs[-1], shape["budget"])
        eng.init(seeds)
        done, walls = [], []
        for _ in range(shape["rounds"]):
            tr = time.perf_counter()
            done.append(eng.run_round())
            walls.append(time.perf_counter() - tr)
            if not done[-1]["pending"]:
                break
        crawl_walls.append(time.perf_counter() - tc)
        crawls.append(done)
        round_walls.append(walls)
    t_hi = time.time()
    # reference answers, outside the window
    model = checks.model_rounds(shape["pages"], shape["fat"], seeds,
                                shape["budget"], shape["rounds"])
    ok = [checks.round_ok(c, model) for c in crawls]
    # URLs of rounds that match the model, over the crawl's whole wall
    rates = [sum(s["urls_extracted"] for s, good in zip(c, g) if good) / w
             for c, g, w in zip(crawls, ok, crawl_walls)]
    # each round number's median wall over the crawls, then their mean
    per_round = [statistics.median(w) for w in zip(*round_walls)]
    summaries = [s for c in crawls for s in c]
    return {
        "attempted": len(summaries),
        "failed": sum(not good for g in ok for good in g),
        "items_per_s": statistics.median(rates),
        "round_p50_s": statistics.mean(per_round),
        "t_lo": t_lo, "t_hi": t_hi,
        "summaries": summaries, "workdirs": workdirs,
        "diag": {"crawls": len(crawls), "rounds": len(summaries),
                 "urls_extracted": sum(s["urls_extracted"] for s in summaries),
                 "crawl_walls_s": crawl_walls, "round_walls_s": round_walls},
    }


# ---------------------------------------------------------- analytics
# The timed mix: leaves of bench.py's HEADLINE list, at least one from each
# query module (queries, textops, graphops, crawlq, sources).
MIX_LEAVES = (
    "agg_pricing_summary",                                      # queries
    "text_bpe_token_counts",                                    # textops
    "dedup_cluster_cc",                                         # graphops
    "crawl_extract_text",                                       # crawlq
    "source_warcish_reader",                                    # sources
)
# table scale of the timed passes and of the warm-up pass, and the fewest
# passes a run makes (three, so every leaf's median is a real median);
# "tiny" is the self-test's shape
ANALYTICS = {
    "bench": dict(sf=0.01, warm_sf=0.001, min_passes=3),
    "tiny": dict(sf=0.001, warm_sf=0.001, min_passes=1),
}
DATA_SEED = 42


def mix() -> List[str]:
    from bench import HEADLINE
    return [leaf for leaf in HEADLINE if leaf in MIX_LEAVES]


def setup_analytics(ctx, shape: dict) -> Dict[str, float]:
    """Write the tables at the timed and the warm-up scale, then run one
    pass of the mix at the warm-up scale."""
    t0 = time.perf_counter()
    ctx.sf_dir = ctx.path("tables-timed")
    warm_dir = ctx.path("tables-warm")
    tables.write(ctx.sf_dir, DATA_SEED, shape["sf"])
    tables.write(warm_dir, DATA_SEED, shape["warm_sf"])
    from sparkcrawl.registry import QUERIES, load_all
    load_all()
    t1 = time.perf_counter()
    for leaf in mix():
        QUERIES[leaf](ctx.spark, warm_dir).toPandas()
    return {"setup.inputs_s": t1 - t0,
            "setup.warmup_s": time.perf_counter() - t1}


def measure_analytics(ctx, shape: dict, seed: int, seconds: float) -> dict:
    """Closed loop, one client: whole passes over the mix, each pass in a
    seed-shuffled order, until ``seconds`` have passed (and at least
    ``min_passes``).  Every result is collected; checksums are compared with
    the DuckDB oracles afterwards.  Throughput is the leaves completed (result
    matches its oracle) per pass over the sum of each leaf's median wall, so
    one disturbed pass does not move it."""
    from sparkcrawl.registry import QUERIES
    leaves = mix()
    rng = random.Random(seed)
    results = []   # (leaf, frame or exception)
    spans = []     # (leaf, module, build_s, exec_s)
    pass_walls = []
    t_lo = time.time()
    t0 = time.perf_counter()
    while (len(pass_walls) < shape["min_passes"]
           or time.perf_counter() - t0 < seconds):
        order = list(leaves)
        rng.shuffle(order)
        tp = time.perf_counter()
        for leaf in order:
            fn = QUERIES[leaf]
            tb = time.perf_counter()
            try:
                df = fn(ctx.spark, ctx.sf_dir)
                te = time.perf_counter()
                results.append((leaf, df.toPandas()))
            except Exception as ex:  # counted as a failed operation
                te = time.perf_counter()
                traceback.print_exc()
                results.append((leaf, ex))
            spans.append((leaf, fn.__module__.rsplit(".", 1)[-1],
                          te - tb, time.perf_counter() - te))
        pass_walls.append(time.perf_counter() - tp)
    t_hi = time.time()
    want = checks.oracle_checksums(ctx.sf_dir, leaves)
    bad = [leaf for leaf, out in results
           if isinstance(out, Exception) or checks.checksum(out) != want[leaf]]
    leaf_walls = {}
    for leaf, _, b, e in spans:
        leaf_walls.setdefault(leaf, []).append(b + e)
    completed = (len(results) - len(bad)) / len(pass_walls)
    return {
        "attempted": len(results), "failed": len(bad),
        "items_per_s": completed / sum(statistics.median(w)
                                       for w in leaf_walls.values()),
        "round_p50_s": statistics.median(pass_walls),
        "t_lo": t_lo, "t_hi": t_hi, "spans": spans,
        "diag": {"passes": len(pass_walls), "leaves": len(leaves),
                 "pass_walls_s": pass_walls, "mismatched": sorted(set(bad))},
    }


# ------------------------------------------------------------ kernels
def kernel_rates() -> Dict[str, float]:
    """Single-threaded rates of the extract, canon and bloom kernels on a
    fixed batch (traced run only): the median of three repeats each."""
    import numpy as np
    import pandas as pd
    from sparkcrawl import bloom, canon, corpus, extract
    n = 2_000
    urls = pd.Series([corpus.page_url(i) for i in range(n)])
    html = pd.Series(corpus.page_htmls_batch(range(n), n, fat=20))
    links = pd.Series([u for ls in extract.husk_frame(urls, html)["links"]
                       for u in ls])
    keys = np.arange(200_000, dtype=np.int64) * 0x9E3779B1
    blob = bloom.add_many(bloom.create(1 << 18), keys)

    def rate(work: int, fn) -> float:
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        return work / sorted(walls)[1]

    return {
        "extract.husk_pages_per_s": rate(n, lambda: extract.husk_frame(urls, html)),
        "canon.urls_per_s": rate(len(links), lambda: canon.canonicalize_series(links)),
        "bloom.add_keys_per_s": rate(len(keys), lambda: bloom.add_many(
            bloom.create(1 << 18), keys)),
        "bloom.probe_keys_per_s": rate(len(keys), lambda: bloom.contains_many(
            blob, keys)),
    }


def query_metrics(spans: List[tuple]) -> Dict[str, float]:
    m: Dict[str, float] = {}
    for leaf in MIX_LEAVES:
        m[f"query.{leaf}.build_s"] = 0.0
        m[f"query.{leaf}.exec_s"] = 0.0
    for mod in ("textops", "graphops", "queries", "crawlq", "sources"):
        m[f"{mod}.s"] = 0.0
    for leaf, mod, b, e in spans:
        m[f"query.{leaf}.build_s"] += b
        m[f"query.{leaf}.exec_s"] += e
        m[f"{mod}.s"] += b + e
    return m
