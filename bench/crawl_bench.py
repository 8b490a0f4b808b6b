"""Crawl throughput bench (SURVEY §6, BASELINE.md protocol).

Runs K crawl rounds of the engine over a seeded synthetic page corpus and
reports urls-extracted-per-second plus an overhead decomposition.  The
corpus parquet is generated once per (n, fat) and reused, so the
two-parallelism runs (local[8] vs local[32]) see byte-identical input.

Usage:
  python bench/crawl_bench.py --master local[32] --n 400000 --fat 60 \
      --seeds 30000 --budget 200000 [--corpus-dir /tmp/sparkcrawl_bench]

Prints one JSON line on stdout; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--n", type=int, default=400_000)
    ap.add_argument("--fat", type=int, default=60)
    ap.add_argument("--seeds", type=int, default=30_000)
    ap.add_argument("--budget", type=int, default=300_000)
    ap.add_argument("--max-rounds", type=int, default=12)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--corpus-dir", default="/tmp/sparkcrawl_bench")
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-aqe", action="store_true")
    ap.add_argument("--tmpfs", action="store_true",
                    help="state + shuffle on /dev/shm (isolates compute "
                         "scaling from the sandbox's single shared disk)")
    args = ap.parse_args()

    cores = int(args.master.split("[")[1].rstrip("]").replace("*", "32"))
    shuffle = args.shuffle_partitions or max(2 * cores, 16)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(args.master)
        .appName(f"crawl-bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", str(not args.no_aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_BENCH_MEM", "48g"))
        .config("spark.local.dir",
                "/dev/shm/spark_local" if args.tmpfs else "/tmp/spark_local")
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sparkcrawl import corpus
    from sparkcrawl.rounds import CrawlEngine
    from sparkcrawl.schemas import ROBOTS

    corpus_path = os.path.join(args.corpus_dir, f"pages_n{args.n}_fat{args.fat}")
    t_gen = 0.0
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        log(f"generating corpus n={args.n} fat={args.fat} -> {corpus_path}")
        t0 = time.time()
        corpus.pages_df(spark, args.n, args.fat).write.mode("overwrite") \
            .parquet(corpus_path)
        t_gen = time.time() - t0
        log(f"corpus generated in {t_gen:.1f}s")

    pages = spark.read.parquet(corpus_path)
    robots = spark.createDataFrame(corpus.robots_rows(), ROBOTS)
    seeds = [corpus.page_url(i) for i in range(args.seeds)]

    base = "/dev/shm" if args.tmpfs else "/tmp"
    workdir = args.workdir or f"{base}/sparkcrawl_bench_wd_{cores}"
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)

    eng = CrawlEngine(spark, workdir, pages, robots,
                      budget_per_host=args.budget,
                      n_buckets=args.n_buckets,
                      salt_buckets=16,
                      bloom_capacity_per_bucket=max(1 << 16, args.n // 8))
    t0 = time.time()
    eng.init(seeds)
    t_init = time.time() - t0

    rounds = []
    t_crawl0 = time.time()
    for _ in range(args.max_rounds):
        s = eng.run_round()
        log(f"round {s['round']}: extracted={s['urls_extracted']} "
            f"new={s['links_new']} pending={s['pending']} wall={s['wall_ms']}ms")
        rounds.append(s)
        if not s["pending"]:
            break
    t_crawl = time.time() - t_crawl0

    extracted = sum(r["urls_extracted"] for r in rounds)
    result = {
        "master": args.master,
        "cores": cores,
        "n_pages": args.n,
        "fat": args.fat,
        "n_rounds": len(rounds),
        "urls_extracted": extracted,
        "links_found": sum(r["links_found"] for r in rounds),
        "crawl_wall_s": round(t_crawl, 2),
        "init_s": round(t_init, 2),
        "gen_s": round(t_gen, 2),
        "urls_per_sec": round(extracted / t_crawl, 1),
        "rounds": [{k: r[k] for k in
                    ("round", "urls_selected", "urls_fetched",
                     "urls_extracted", "links_new", "wall_ms", "pending",
                     "phase_ms")}
                   for r in rounds],
    }
    print(json.dumps(result), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
