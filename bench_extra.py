"""Round-6 optimization profiling harness (guide §1) — NOT the driver
bench.  bench.py stays frozen; this file exists to
  * time each headline query in isolation via the noop sink (§1.4),
  * dump .explain("formatted") for every headline query to plans/r06/,
  * break the crawl probe down by phase (phase_ms from run_round),
  * micro-time the shared kernels (corpus render, husk pass).

Usage:
  python bench_extra.py queries [names...]   # noop-time + plans
  python bench_extra.py plans [suffix] [names...]  # plans only (no exec)
  python bench_extra.py crawl                # 120k probe with phase_ms
  python bench_extra.py micro                # render / husk kernels
All output to stderr except a final JSON line to stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402  (one frozen list, owned by bench.py)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def session():
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("sparkcrawl-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(2 * int(CPUS), 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_BENCH_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(names):
    spark = session()
    from sparkcrawl.registry import QUERIES, load_all
    load_all()
    os.makedirs("plans/r06", exist_ok=True)
    out = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t_build = time.time() - t0
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t_noop = time.time() - t1
        out[name] = {"build_s": round(t_build, 3), "noop_s": round(t_noop, 3)}
        log(f"{name}: build {t_build:.2f}s noop {t_noop:.2f}s")
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out), flush=True)


def dump_plans(names, suffix="before"):
    spark = session()
    from sparkcrawl.registry import QUERIES, load_all
    load_all()
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        fn = QUERIES[name]
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        with open(f"plans/r06/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        log(f"{name}: plan -> plans/r06/{name}_{suffix}.txt")


def run_crawl():
    spark = session()
    from sparkcrawl import corpus
    from sparkcrawl.rounds import CrawlEngine
    from sparkcrawl.schemas import ROBOTS
    spark.catalog.clearCache()
    os.sync()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    wd = "/tmp/sparkcrawl_bx_120k"
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    t0 = time.time()
    eng = CrawlEngine(
        spark, wd,
        pages=corpus.pages_df(spark, 120000, fat=20),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=40000, n_buckets=32, salt_buckets=8)
    eng.init([corpus.page_url(i) for i in range(30000)])
    t_init = round(time.time() - t0, 3)
    summaries = eng.run(4, stop_when_idle=True)
    secs = round(time.time() - t0, 3)
    extracted = sum(s["urls_extracted"] for s in summaries)
    shutil.rmtree(wd, ignore_errors=True)
    print(json.dumps({
        "wall_s": secs, "init_s": t_init, "extracted": extracted,
        "rounds": [{"round": s["round"], "wall_ms": s["wall_ms"],
                    "phase_ms": s["phase_ms"]} for s in summaries],
    }), flush=True)


def run_micro():
    spark = session()
    from sparkcrawl import corpus
    res = {}
    # 1. full-corpus render (the pages_df mapInPandas pass, per round cost)
    for tag, n, fat in (("render_120k_fat20", 120000, 20),):
        t0 = time.time()
        corpus.pages_df(spark, n, fat=fat).write.format("noop") \
            .mode("overwrite").save()
        res[tag] = round(time.time() - t0, 3)
        log(f"{tag}: {res[tag]}s")
    # 2. render + husk every page (extraction-stage peak)
    from pyspark.sql import functions as F
    from sparkcrawl.frontier import _HUSK_SCHEMA
    from sparkcrawl.extract import husk_frame
    husk_udf = F.pandas_udf(husk_frame, _HUSK_SCHEMA)
    pages = corpus.pages_df(spark, 120000, fat=20)
    t0 = time.time()
    (pages.withColumn("h", husk_udf("url", "html"))
     .select(F.length("h.text"), F.size("h.links"))
     .write.format("noop").mode("overwrite").save())
    res["render_husk_120k"] = round(time.time() - t0, 3)
    log(f"render_husk_120k: {res['render_husk_120k']}s")
    # 3. single-process kernels (no Spark): render and husk 2000 pages
    t0 = time.time()
    rows = [corpus.page_html(i, 120000, fat=20) for i in range(2000)]
    res["py_render_2k_s"] = round(time.time() - t0, 3)
    from sparkcrawl.extract import husk
    t0 = time.time()
    for h in rows:
        husk(h)
    res["py_husk_2k_s"] = round(time.time() - t0, 3)
    # 4. doc-pages render+husk (the graphops edge source at sf0.1)
    from sparkcrawl.crawlq import _doc_pages, _husk_udf
    t0 = time.time()
    (_doc_pages(spark, SF_DIR).withColumn("h", _husk_udf("url", "html"))
     .select(F.length("h.text"), F.size("h.links"))
     .write.format("noop").mode("overwrite").save())
    res["doc_husk_sf_s"] = round(time.time() - t0, 3)
    log(json.dumps(res))
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        run_queries(sys.argv[2:] or HEADLINE)
    elif cmd == "plans":
        rest = sys.argv[2:]
        suffix = rest[0] if rest and rest[0] in ("before", "after") else "before"
        names = [a for a in rest if a not in ("before", "after")]
        dump_plans(names or HEADLINE, suffix)
    elif cmd == "crawl":
        run_crawl()
    elif cmd == "micro":
        run_micro()
    else:
        raise SystemExit(f"unknown cmd {cmd}")
