"""A17/A18/A19 — crawl-round orchestration, checkpoint/resume, metrics
(SURVEY §2.A, §3.2).

The reference's main loop is a sequential priority-queue pop/fetch/parse
cycle (expected: alcazar/crawler.py — unverified, reference absent).  Here
each round is a Structured-Streaming-style micro-batch [BASELINE.json:6]
run by a deterministic driver loop (the foreachBatch-equivalent): round
number is the event-time analog; rounds are synchronous so no watermarks.

State lives in Icebergish tables under ``workdir``; every round ends with
an atomic checkpoint manifest pinning each table's snapshot id, so a
killed run resumes exactly (tables are rolled back to the last completed
checkpoint before continuing — partial-round garbage is unreachable).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from functools import reduce
from typing import Dict, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import bloom as bloom_mod
from .frontier import (apply_robots, discover_links, drop_seen,
                       fetch_and_husk, probe_seen, seeds_to_frontier,
                       select_topk_per_host, to_extracted)
from .schemas import EXTRACTED, FETCHLOG, FRONTIER, METRICS, SEEN_SET
from .scope import ROWS_PER_SHUFFLE_TASK, capped_conf
from .storage import IcebergishTable


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame,
        robots: DataFrame,
        budget_per_host: int = 100,
        n_buckets: int = 32,
        salt_buckets: int = 8,
        bloom_capacity_per_bucket: int = 1 << 17,
        bloom_fpp: float = 0.01,
        seen_filter: str = "bloom",
        compact_every: int = 0,
        fetcher: str = "join",
        http_opts: Optional[dict] = None,
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.pages = pages
        self.robots = robots
        # The join fetcher scans the pages side EVERY round.  When that
        # side is a derived/generated frame (any Python-eval node in its
        # plan — e.g. the synthetic-web generator), each round would
        # re-run the derivation for the whole corpus; snapshot it once
        # as parquet under the workdir so rounds re-SCAN instead of
        # re-derive (columnar, ~25× smaller than the rendered bytes).
        # A pages table that is already a plain file scan is left alone.
        self._pages_snapshot_bytes = 0
        if fetcher == "join" and pages is not None:
            plan = pages._jdf.queryExecution().sparkPlan().toString()
            if "MapInPandas" in plan or "EvalPython" in plan:
                snap = os.path.join(workdir, "pages_snapshot")
                pages.write.mode("overwrite").parquet(snap)
                self.pages = spark.read.parquet(snap)
                self._pages_snapshot_bytes = sum(
                    os.path.getsize(os.path.join(snap, f))
                    for f in os.listdir(snap) if f.endswith(".parquet"))
        self.budget = budget_per_host
        self.n_buckets = n_buckets
        self.salt_buckets = salt_buckets
        self.bloom_capacity = bloom_capacity_per_bucket
        self.bloom_fpp = bloom_fpp
        # A10 backend: "join" = the sandbox pages-table join;
        # "http" = real wire fetch (fetch_http.fetch_and_husk_http) —
        # same output contract, so every downstream stage is shared.
        if fetcher not in ("join", "http"):
            raise ValueError(f"unknown fetcher {fetcher!r}")
        self.fetcher = fetcher
        self.http_opts = dict(http_opts or {})
        # A4 backend: per-partition Bloom (default) or Cuckoo filters —
        # the north rule names both; cuckoo adds deletion (re-crawl) and
        # better space below ~3% fpp at the 10^10-URL design point.
        if seen_filter == "cuckoo":
            from . import cuckoo as _filter_mod
        elif seen_filter == "bloom":
            _filter_mod = bloom_mod
        else:
            raise ValueError(f"unknown seen_filter {seen_filter!r}")
        self.seen_filter = seen_filter
        self._filter = _filter_mod
        # rewrite the append-only frontier as one snapshot every K rounds
        # (file count and scan task count otherwise grow with history);
        # 0 disables.  Runs before the checkpoint so resume pins the
        # compacted snapshot.
        self.compact_every = compact_every
        self._pending_count = 0

        j = lambda name: os.path.join(workdir, name)  # noqa: E731
        self.frontier = IcebergishTable(j("frontier"), FRONTIER, "host_bucket")
        self.pending = IcebergishTable(j("pending"), FRONTIER, "host_bucket")
        self.fetchlog = IcebergishTable(j("fetchlog"), FETCHLOG)
        self.extracted = IcebergishTable(j("extracted"), EXTRACTED)
        self.seen = IcebergishTable(j("seen"), SEEN_SET)
        self.metrics = IcebergishTable(j("metrics"), METRICS)
        self._tables = {
            "frontier": self.frontier, "pending": self.pending,
            "fetchlog": self.fetchlog, "extracted": self.extracted,
            "seen": self.seen, "metrics": self.metrics,
        }
        self.round = -1

    # ------------------------------------------------------------- checkpoint
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.workdir, "checkpoint.json")

    def _commit_checkpoint(self, round_no: int) -> None:
        ckpt = {
            "round": round_no,
            "snapshots": {n: t.current_snapshot_id() for n, t in self._tables.items()},
            "ts": time.time(),
        }
        fd, tmp = tempfile.mkstemp(dir=self.workdir, suffix=".ckpt.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(ckpt, f)
        os.replace(tmp, self._ckpt_path)

    def read_checkpoint(self) -> Optional[dict]:
        try:
            with open(self._ckpt_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def resume(self) -> int:
        """A18: roll every table back to the last completed checkpoint
        (Iceberg-style rollback — partial appends of an interrupted round
        become unreachable), return the round to continue from.  Filter
        state lives in the ``seen`` table (rolled back with the rest) —
        no driver-side blob state to rebuild."""
        ckpt = self.read_checkpoint()
        if ckpt is None:
            raise FileNotFoundError(f"no checkpoint under {self.workdir}")
        for name, table in self._tables.items():
            sid = ckpt["snapshots"][name]
            if sid >= 0 and table.current_snapshot_id() != sid:
                table._commit(table.manifest_for(sid))
        self.round = ckpt["round"]
        self._pending_count = self.pending.read(self.spark).count()
        return self.round

    # ------------------------------------------------------------------ init
    def init(self, seed_urls: List[str]) -> None:
        """A1: round 0 — seed ingest, initial pending + seen state."""
        with self._round_scope(len(seed_urls)):
            seeds = seeds_to_frontier(self.spark, seed_urls, self.n_buckets)
            self.frontier.append(seeds, 0)
            seeds_back = self.frontier.read(self.spark)
            # pending count rides the replace write via observe() —
            # a separate count() was one extra action per init
            obs = Observation()
            # pending seed-out and seen-filter build both read the
            # committed frontier and write DISTINCT tables, so they are
            # independent and run concurrently (the run_round wave pattern)
            with ThreadPoolExecutor(max_workers=2) as pool:
                waved = [
                    pool.submit(
                        self.pending.replace,
                        seeds_back.observe(obs, F.count(F.lit(1)).alias("n")),
                        0),
                    pool.submit(self._update_blooms, seeds_back, 0),
                ]
                for fut in waved:
                    fut.result()
            self._pending_count = int(obs.get["n"] or 0)
        # metadata-only round-0 snapshots (an empty-DataFrame append was
        # a full Spark write job each — 3 jobs of pure overhead per init)
        self.metrics.commit_empty(0)
        self.extracted.commit_empty(0)
        self.fetchlog.commit_empty(0)
        self.round = 0
        self._commit_checkpoint(0)

    # ------------------------------------------------------------ bloom state
    def _update_blooms(self, new_rows: DataFrame, round_no: int) -> None:
        """A4: per-host_bucket filter state extended EXECUTOR-SIDE in a
        single cogrouped python stage — this round's new url hashes meet
        their bucket's previous blob on the bucket id, and add_many
        extends it in place.  The driver never materializes any blob:
        state flows seen-table → extend → seen-table (round 1 held a
        driver dict of all blobs and broadcast it — ~12 GB of driver
        heap + broadcast at the 10^10-URL design point).

        Cuckoo backend overflow degrades gracefully: a bucket whose
        filter is over capacity is written as a SATURATED marker
        (n_items = -1, empty blob); probe_seen then routes that bucket's
        candidates through the exact anti-join — slower, never wrong —
        instead of killing the run mid-round."""
        cap, fpp = self.bloom_capacity, self.bloom_fpp
        fmod = self._filter

        def build_merge(key, hashes_pdf: pd.DataFrame,
                        prev_pdf: pd.DataFrame) -> pd.DataFrame:
            # one python stage per bucket: build this round's delta from
            # the raw hashes AND extend the previous blob, in place.
            bucket = int(key[0])
            prev_blob = (bytes(prev_pdf["bloom"].iloc[0])
                         if len(prev_pdf) else None)
            prev_saturated = bool(len(prev_pdf)
                                  and int(prev_pdf["n_items"].iloc[0]) < 0)
            if prev_saturated:
                blob, n = b"", -1
            else:
                try:
                    base = prev_blob if prev_blob else fmod.create(cap, fpp)
                    blob = fmod.add_many(base, hashes_pdf["url_hash"].to_numpy())
                    n = fmod.n_items(blob)
                except OverflowError:
                    # graceful saturation (cuckoo): the bucket degrades
                    # to the exact anti-join path instead of aborting
                    blob, n = b"", -1
            return pd.DataFrame({
                "partition_id": [bucket], "round": [round_no],
                "bloom": [blob], "n_items": [n], "fpp": [fpp],
            })

        prev = self.seen.read(self.spark).select(
            F.col("partition_id").alias("host_bucket"),
            "round", "bloom", "n_items", "fpp")
        merged = (new_rows.select("host_bucket", "url_hash")
                  .groupBy("host_bucket")
                  .cogroup(prev.groupBy("host_bucket"))
                  .applyInPandas(build_merge, SEEN_SET))
        self.seen.replace(merged, round_no)
        # saturation recovery: an overflowed bucket, degraded to the exact
        # anti-join above, is rebuilt at 2× geometry so it recovers its
        # fast path.  Only the cuckoo backend can overflow (bloom fpp
        # degrades instead of raising), so the bloom path skips the
        # saturation-scan job — one wasted read+collect per round.
        if self.seen_filter == "cuckoo":
            self._rebuild_saturated(round_no)

    def _rebuild_saturated(self, round_no: int) -> None:
        """Recover saturated buckets' fast path: rebuild each overflowed
        filter from the authoritative frontier keys (seen ≡ frontier keys
        is the engine invariant) at 2× geometry — capacity 2× the
        bucket's current key count, at least 2× the configured capacity.
        Progressive: if the bucket keeps growing past even that, the next
        overflow degrades→rebuilds again at the new 2× size.  Only the
        (rare) saturated bucket ids are collected — never blobs."""
        sat = [int(r["partition_id"]) for r in
               self.seen.read(self.spark)
               .filter(F.col("n_items") < 0)
               .select("partition_id").collect()]
        if not sat:
            return
        cap, fpp = self.bloom_capacity, self.bloom_fpp
        fmod = self._filter

        def rebuild(key, pdf):
            hashes = pdf["url_hash"].to_numpy()
            capacity = max(2 * len(hashes), 2 * cap)
            try:
                blob = fmod.add_many(fmod.create(capacity, fpp), hashes)
                n = fmod.n_items(blob)
            except OverflowError:  # stay on the exact path
                blob, n = b"", -1
            return pd.DataFrame({
                "partition_id": [int(key[0])], "round": [round_no],
                "bloom": [blob], "n_items": [n], "fpp": [fpp],
            })

        # frontier read AFTER this round's append ⇒ includes new rows
        keys = (self.frontier.read(self.spark)
                .filter(F.col("host_bucket").isin(sat))
                .select("host_bucket", "url_hash"))
        rebuilt = keys.groupBy("host_bucket").applyInPandas(rebuild, SEEN_SET)
        kept = (self.seen.read(self.spark)
                .filter(~F.col("partition_id").isin(sat)))
        self.seen.replace(kept.unionByName(rebuilt), round_no)

    def seen_blobs(self) -> Dict[int, bytes]:
        """Driver-side view of the per-bucket blobs (tests/stats only —
        the engine itself never collects them)."""
        rows = self.seen.read(self.spark).collect()
        return {r["partition_id"]: bytes(r["bloom"]) for r in rows}

    def global_bloom(self) -> Optional[bytes]:
        """Tree-merge of all per-partition blobs (checkpoint-stats view;
        collects blobs — stats/debug only, not on the round path).
        Saturated buckets (cuckoo overflow markers) are skipped."""
        blobs = [b for b in self.seen_blobs().values() if b]
        return reduce(self._filter.merge, blobs) if blobs else None

    # ------------------------------------------------------------------ round
    def _round_scope(self, rows: int):
        """State-sized shuffle partitions for one round's jobs.  With AQE
        off (the measured rule for crawl rounds — adaptive re-planning
        latency dominates small shuffles) every round-internal shuffle
        gets the session's static count, sized for corpus-scale scans;
        a round knows its own state size, floored at n_buckets so the
        per-bucket python stages stay fully parallel."""
        return capped_conf(self.spark, "spark.sql.shuffle.partitions",
                           max(self.n_buckets,
                               rows // ROWS_PER_SHUFFLE_TASK + 1))

    def run_round(self) -> dict:
        with self._round_scope(self._pending_count):
            return self._run_round_inner()

    def _run_round_inner(self) -> dict:
        """One micro-batch (SURVEY §3.2 DAG).  Returns the round summary.

        Job discipline (the per-round overhead + memory budget):

        * LIGHT DataFrames (pending/selected/probe-flagged candidates —
          urls + metadata, no payloads) are persisted and shared by their
          consumers, so no Python stage runs twice.
        * The HEAVY path (html → husk UDF → text/links) is materialized
          exactly ONCE, by the extracted-table write; everything that
          needs its results (fetchlog status, link discovery, metrics)
          reads the just-written parquet back column-pruned.  Caching
          multi-GB html/text rows instead measurably caused GC stalls and
          cache-eviction recompute at bench scale."""
        r = self.round + 1
        t0 = time.time()
        spark = self.spark
        phases = {}

        def mark(name, t_start):
            phases[name] = phases.get(name, 0) + int((time.time() - t_start) * 1000)
            return time.time()

        tp = time.time()
        pending = self.pending.read(spark)
        checked = apply_robots(pending, self.robots).persist()
        denied = checked.filter(~F.col("robots_ok")).drop("robots_ok")
        allowed = checked.filter(F.col("robots_ok")).drop("robots_ok")

        # selected feeds three consumers (fetch broadcast, miss anti-join,
        # pending update) — persist or the robots-UDF + double window
        # recompute three times per round
        selected = select_topk_per_host(allowed, self.budget,
                                        self.salt_buckets).persist()

        tp = mark("plan", tp)
        # A10-A15: the one heavy pass — fetch html, husk, write text+links.
        if self.fetcher == "http":
            from .fetch_http import fetch_and_husk_http, with_robots_delay
            # per-host robots Crawl-delay rides along for the pool's
            # per-host pacing (max of it and courtesy_delay_s)
            fetched = fetch_and_husk_http(
                with_robots_delay(selected, self.robots), **self.http_opts)
        else:
            fetched = fetch_and_husk(selected, self.pages)
        # split sizing for the heavy fetch job: the columnar pages snapshot
        # compresses ~25× vs the rendered html, so default split packing
        # would hand the Python-heavy husk stage a handful of huge tasks;
        # a pages table passed in as a regular table keeps its own layout
        snap = self._pages_snapshot_bytes
        split_scope = (capped_conf(
            spark, "spark.sql.files.maxPartitionBytes",
            max(1 << 20, snap // (2 * spark.sparkContext.defaultParallelism)))
            if snap else nullcontext())
        with split_scope:
            ext_sid = self.extracted.append(to_extracted(fetched, r), r)
        # column-pruned INCREMENTAL read-back of just-written files
        # (url_hash/links/n_links only — never text), shared by
        # flog/discovery/metrics; a full table read would list every
        # prior round's files (O(rounds) listing growth)
        ext_r = self.extracted.read_new(spark, ext_sid)
        # successes drive discovery/metrics; all attempts drive fetchlog
        ext_ok = ext_r.filter(F.col("fetched"))
        ext_keys = ext_r.select("url_hash", "http_status", "fetched",
                                "attempts")
        tp = mark("fetch_extract_write", tp)

        # terminal statuses for everything leaving PENDING this round:
        # FETCHED if the husk pass produced a row, ERROR otherwise.
        # http_status rides along from the extracted read-back (real wire
        # status under fetch_http; 200 under the fetch-join); misses are
        # -1 (unreachable), robots-denied 0 (never attempted).
        flog = (
            selected.join(ext_keys.withColumn("_f", F.lit(True)),
                          "url_hash", "left")
            .select("url_hash", "host", "host_bucket",
                    F.lit(r).alias("round"),
                    F.when(F.col("_f") & F.col("fetched"), F.lit("FETCHED"))
                    .otherwise(F.lit("ERROR")).alias("status"),
                    # misses (no extracted row, or a transport failure
                    # that never got a wire status) are the documented -1
                    F.coalesce(F.col("http_status"), F.lit(-1))
                    .cast("int").alias("http_status"),
                    # real attempt counts ride through the extracted
                    # read-back (fetch_http retries); join-mode misses
                    # made exactly one (join) attempt
                    F.coalesce(F.col("attempts"), F.lit(1))
                    .cast("int").alias("attempts"))
            .unionByName(denied.select(
                "url_hash", "host", "host_bucket",
                F.lit(r).alias("round"),
                F.lit("ROBOTS_DENIED").alias("status"),
                F.lit(0).cast("int").alias("http_status"),
                F.lit(0).cast("int").alias("attempts")))
        )
        # discover → dedupe (filter fast-path + exact anti-join).  Per-bucket
        # filter blobs stay in the seen table; candidates meet them
        # bucket-co-partitioned inside probe_seen (no driver state, no
        # full-blob broadcast).  Both branches of drop_seen read the
        # flagged frame, so it is persisted: the Python probe runs once.
        flagged = probe_seen(discover_links(ext_ok, r, self.n_buckets),
                             self.seen.read(spark),
                             contains_fn=self._filter.contains_many).persist()
        new = drop_seen(flagged, self.frontier.read(spark)).persist()

        # Independent jobs run concurrently from driver threads (Spark's
        # scheduler is thread-safe; the targets are distinct tables) —
        # a round's wall is the max of each wave, not the sum.
        with ThreadPoolExecutor(max_workers=2) as pool:
            wave1 = [pool.submit(self.fetchlog.append, flog, r),
                     pool.submit(self.frontier.append, new, r)]
            for f in wave1:
                f.result()
            tp = mark("flog_discover_frontier", tp)

            # next pending = allowed − selected ∪ new (selected is small →
            # broadcast anti-join; no shuffle of the pending side)
            pending_next = (
                allowed.join(F.broadcast(selected.select("url_hash")),
                             "url_hash", "left_anti")
                .unionByName(new)
            )
            wave2 = [pool.submit(self.pending.replace, pending_next, r),
                     pool.submit(self._update_blooms, new, r)]
            for f in wave2:
                f.result()
            tp = mark("pending_blooms_stats", tp)

        # A19: per-bucket counters as one tagged-union aggregate, appended
        # straight to the metrics table; the round totals ride that write
        # via observe(), so the counters never round-trip through the driver
        hb, one = F.col("host_bucket"), F.lit(1).cast("long")
        ext_j = ext_ok.join(selected.select("url_hash", "host_bucket"),
                            "url_hash")
        tagged = (
            selected.select(hb, F.lit("sel").alias("t"), one.alias("v"))
            .unionByName(denied.select(hb, F.lit("den").alias("t"),
                                       one.alias("v")))
            .unionByName(new.select(hb, F.lit("new").alias("t"),
                                    one.alias("v")))
            .unionByName(ext_j.select(hb, F.lit("ext").alias("t"),
                                      one.alias("v")))
            .unionByName(ext_j.select(hb, F.lit("lnk").alias("t"),
                                      F.col("n_links").cast("long")
                                      .alias("v"))))
        per_bucket = tagged.groupBy("host_bucket").agg(
            *[F.sum(F.when(F.col("t") == tag, F.col("v")).otherwise(0))
              .alias(col) for tag, col in (
                  ("sel", "urls_selected"), ("den", "urls_denied"),
                  ("ext", "urls_fetched"), ("lnk", "links_found"),
                  ("new", "links_new"))])
        counters = ("urls_selected", "urls_denied", "urls_fetched",
                    "urls_extracted", "links_found", "links_new")
        wall_ms = int((time.time() - t0) * 1000)
        stats = per_bucket.select(
            F.lit(r).alias("round"), hb.alias("partition_id"),
            *[F.col("urls_fetched" if c == "urls_extracted" else c).alias(c)
              for c in counters],
            F.lit(wall_ms).cast("long").alias("wall_ms"))
        obs = Observation()
        self.metrics.append(stats.observe(
            obs, *[F.sum(c).alias(c) for c in counters]), r)
        summary = {c: int(obs.get[c] or 0) for c in counters}
        tp = mark("metrics", tp)
        for df in (checked, selected, flagged, new):
            df.unpersist()

        if self.compact_every and r % self.compact_every == 0:
            self.frontier.compact(spark, r)
        self.round = r
        self._commit_checkpoint(r)
        self._pending_count += (summary["links_new"] - summary["urls_selected"]
                                - summary["urls_denied"])
        summary.update({"round": r, "wall_ms": int((time.time() - t0) * 1000),
                        "pending": self._pending_count, "phase_ms": phases})
        return summary

    def run(self, max_rounds: int, stop_when_idle: bool = True) -> List[dict]:
        out = []
        for _ in range(max_rounds):
            s = self.run_round()
            out.append(s)
            if stop_when_idle and not s["pending"]:
                break
        return out
