"""Frontier DataFrame transforms — A1 seed ingest, A2/A3 canon+hash,
A5 seen-probe, A6 robots, A7 priority, A8 politeness top-K, A9 skew
salting, A10 fetch, A11-A15 husk, A16 frontier merge (SURVEY §2.A).

All logic is declarative DataFrame ops + vectorized pandas/Arrow UDFs;
ordering decisions are always column expressions with total tie-breaks
(priority asc, url_canon asc) — never partition-iteration order — which is
what makes output invariant across local[8]/local[32] (SURVEY §3.2).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bloom as bloom_mod
from .canon import canonicalize_series, host_series
from .extract import husk_frame
from .robots import allowed_series
from .schemas import EXTRACTED, FRONTIER, SEEDS

# frozen spec: priority = 10*depth + seed_distance (lower fetched first);
# mirrored by model_crawler.py for ordering parity.
PRIORITY_DEPTH_W = 10.0
PRIORITY_SEED_W = 1.0

canonicalize_udf = F.pandas_udf(canonicalize_series, T.StringType())
host_udf = F.pandas_udf(host_series, T.StringType())
robots_allowed_udf = F.pandas_udf(allowed_series, T.BooleanType())

_HUSK_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("links", T.ArrayType(T.StringType())),
])


def priority_expr(depth: Column, seed_distance: Column) -> Column:
    return depth.cast("double") * F.lit(PRIORITY_DEPTH_W) + \
        seed_distance.cast("double") * F.lit(PRIORITY_SEED_W)


def with_canon(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    """A2/A3: canon (Arrow UDF) → host → xxhash64 (JVM-side) → host_bucket."""
    return (
        df.withColumn("url_canon", canonicalize_udf(F.col(url_col)))
        .withColumn("url_hash", F.xxhash64("url_canon"))
        .withColumn("host", host_udf("url_canon"))
        .withColumn("host_bucket",
                    F.pmod(F.xxhash64("host"), F.lit(n_buckets)).cast("int"))
    )


def seeds_to_frontier(spark: SparkSession, seed_urls, n_buckets: int) -> DataFrame:
    """A1: seed list → frontier rows (depth 0, round 0, PENDING)."""
    seeds = spark.createDataFrame([(u, 0.0) for u in seed_urls], SEEDS)
    canon = with_canon(seeds.drop("priority"), n_buckets)
    # seed lists may themselves contain canonical duplicates; the
    # surviving raw-url row must be DETERMINISTIC (min url), matching the
    # min-struct rule discover_links uses — dropDuplicates would keep an
    # arbitrary partition-order survivor.
    deduped = (
        canon.groupBy("url_hash")
        .agg(F.min(F.struct("url_canon", "url", "host", "host_bucket")).alias("u"))
        .select("url_hash", "u.url", "u.url_canon", "u.host", "u.host_bucket")
    )
    return (
        deduped
        .withColumn("depth", F.lit(0))
        .withColumn("seed_distance", F.lit(0))
        .withColumn("priority", priority_expr(F.col("depth"), F.col("seed_distance")))
        .withColumn("discovered_round", F.lit(0))
        .withColumn("status", F.lit("PENDING"))
        .withColumn("lineage_src_url_hash", F.lit(None).cast("long"))
        .select([f.name for f in FRONTIER.fields])
    )


def apply_robots(pending: DataFrame, robots_df: DataFrame) -> DataFrame:
    """A6: broadcast-join tiny robots table on host, evaluate rules
    vectorized → adds boolean ``robots_ok``."""
    rules = F.broadcast(robots_df.select("host", "rules"))
    return (
        pending.join(rules, "host", "left")
        .withColumn("robots_ok", robots_allowed_udf(F.col("rules"), F.col("url_canon")))
        .drop("rules")
    )


def select_topk_per_host(allowed: DataFrame, budget: int,
                         salt_buckets: Optional[int] = 8) -> DataFrame:
    """A8 politeness: ≤``budget`` URLs per host per round, best priority
    first, deterministic total order (priority, url_canon).

    A9 skew: AQE cannot split a skewed *window* partition, so heavy
    fan-in hosts are handled with two-phase top-K — phase 1 ranks within
    (host, salt) keeping ≤budget per salt (bounds any single task at
    ~|host|/S rows), phase 2 ranks the ≤S·budget survivors per host.
    Global top-B ⊆ union of per-salt top-B ⇒ exact.
    """
    order = [F.col("priority").asc(), F.col("url_canon").asc()]
    if salt_buckets and salt_buckets > 1:
        salted = allowed.withColumn(
            "_salt", F.pmod(F.col("url_hash"), F.lit(salt_buckets)).cast("int"))
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        allowed = (
            salted.withColumn("_rk1", F.row_number().over(w1))
            .filter(F.col("_rk1") <= budget)
            .drop("_rk1", "_salt")
        )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        allowed.withColumn("sel_rank", F.row_number().over(w2))
        .filter(F.col("sel_rank") <= budget)
    )


def fetch_and_husk(selected: DataFrame, pages: DataFrame) -> DataFrame:
    """A10 fetch (the pages table IS the web in-sandbox: join on canonical
    url) + A11-A15 husk via one vectorized Arrow UDF.

    Returns selected columns + (fetched:boolean, text, links, lang).

    Join strategy (the scale-critical choice — the pages side carries the
    html payload, which must NEVER be shuffled): a broadcast-hash INNER
    join with the (politeness-bounded) selected set as build side and
    the pages scan streamed map-side — zero shuffle of html, one pages
    scan, and only hit rows cross the Arrow boundary.  Fetch misses
    (dead links) are NOT in the output; the engine derives them as
    selected ∖ extracted from the written table (a broadcast outer join
    is impossible here: Spark cannot broadcast the preserved side, and
    the fallback sort-merge join would shuffle the html).

    The real-web deployment path swaps this join for an async-HTTP
    ``mapInPandas`` with the same output schema.
    """
    pg = pages.select(
        F.col("url").alias("_page_url"),
        F.col("html").alias("_html"),
        F.col("lang").alias("lang"),
    )
    joined = pg.join(F.broadcast(selected),
                     selected["url_canon"] == pg["_page_url"], "inner")

    husk_udf = F.pandas_udf(husk_frame, _HUSK_SCHEMA)
    return (
        joined.withColumn("fetched", F.col("_html").isNotNull())
        .withColumn("_husked", husk_udf(F.col("url_canon"), F.col("_html")))
        .withColumn("text", F.when(F.col("fetched"), F.col("_husked.text")))
        .withColumn("links", F.when(F.col("fetched"), F.col("_husked.links"))
                    .otherwise(F.array().cast("array<string>")))
        # HTTP-layer columns (synthesized here; fetch_http fills them
        # from the wire): the pages table IS the web, so hits are 200
        # with no redirect chain
        .withColumn("http_status",
                    F.when(F.col("fetched"), F.lit(200)).cast("int"))
        .withColumn("final_url",
                    F.when(F.col("fetched"), F.col("url_canon")))
        .withColumn("attempts", F.lit(1).cast("int"))
        .drop("_page_url", "_html", "_husked")
    )


def discover_links(extracted: DataFrame, round_no: int, n_buckets: int) -> DataFrame:
    """A14→A16 front half: explode links, canonicalize+hash, and collapse
    within-round duplicates deterministically (min parent by
    (depth, url_canon) wins and supplies depth/distance/lineage)."""
    parents = extracted.select(
        F.col("url_hash").alias("p_hash"),
        F.col("url_canon").alias("p_canon"),
        F.col("depth").alias("p_depth"),
        F.col("seed_distance").alias("p_dist"),
        F.explode("links").alias("url"),
    )
    cand = with_canon(parents, n_buckets)
    best = F.min(F.struct("p_depth", "p_dist", "p_canon", "p_hash")).alias("b")
    return (
        cand.groupBy("url_hash")
        .agg(
            best,
            F.min(F.struct("url_canon", "url", "host", "host_bucket")).alias("u"),
        )
        .select(
            F.col("u.url").alias("url"),
            F.col("u.url_canon").alias("url_canon"),
            "url_hash",
            F.col("u.host").alias("host"),
            F.col("u.host_bucket").alias("host_bucket"),
            (F.col("b.p_depth") + 1).alias("depth"),
            (F.col("b.p_dist") + 1).alias("seed_distance"),
            F.col("b.p_hash").alias("lineage_src_url_hash"),
        )
        .withColumn("priority", priority_expr(F.col("depth"), F.col("seed_distance")))
        .withColumn("discovered_round", F.lit(round_no))
        .withColumn("status", F.lit("PENDING"))
        .select([f.name for f in FRONTIER.fields])
    )


def probe_seen(candidates: DataFrame, seen_df: DataFrame,
               contains_fn=bloom_mod.contains_many) -> DataFrame:
    """A5 seen probe (SURVEY §2.A A5): the candidates, each flagged
    ``maybe_seen`` by its bucket's filter.  ``drop_seen`` then settles
    the flag exactly.

    ``seen_df`` is the per-bucket filter table (SEEN_SET schema:
    partition_id, bloom, n_items, …).  Candidates meet their bucket's
    blob via a CO-PARTITIONED cogroup on host_bucket — each executor
    task loads only the blobs of the buckets it processes.  (The
    round-1 design broadcast a driver dict of ALL blobs to every
    executor: ~12 GB at the 10^10-URL design point, a driver OOM +
    broadcast storm.  Nothing here scales with the number of buckets on
    any single node.)  ``contains_fn`` is called once per bucket that
    has a filter.

    A bucket with no filter row was never seen (flag False).  A bucket
    whose filter saturated (n_items < 0 marker, cuckoo backend overflow)
    degrades gracefully: every candidate in it is flagged maybe-seen and
    takes the exact anti-join path.

    The result feeds both branches of ``drop_seen``; a caller that
    persists it runs the Python probe once.
    """
    blobs = seen_df.select(
        F.col("partition_id").alias("host_bucket"), "bloom", "n_items")
    schema = T.StructType(candidates.schema.fields +
                          [T.StructField("maybe_seen", T.BooleanType())])

    def probe(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.copy()
        if len(blob_pdf) > 1:
            # the seen table's invariant is ONE row per bucket (replace
            # semantics); silently probing blob[0] would turn a schema/
            # storage bug into bloom false negatives (re-enqueued URLs)
            raise ValueError(
                f"seen table has {len(blob_pdf)} rows for one bucket — "
                "single-row-per-bucket invariant violated")
        if blob_pdf.empty:
            # no filter for this bucket ⇒ nothing from it was ever seen
            out["maybe_seen"] = False
        elif (blob_pdf["n_items"] < 0).any():
            out["maybe_seen"] = True  # saturated ⇒ exact path for all
        else:
            blob = bytes(blob_pdf["bloom"].iloc[0])
            out["maybe_seen"] = contains_fn(
                blob, cand_pdf["url_hash"].to_numpy())
        return out

    return (candidates.groupBy("host_bucket")
            .cogroup(blobs.groupBy("host_bucket"))
            .applyInPandas(lambda key, c, b: probe(c, b), schema))


def drop_seen(flagged: DataFrame, frontier: DataFrame) -> DataFrame:
    """A5 dedupe, exact-with-filter-fast-path, over ``probe_seen``'s
    output:

    * filter NEGATIVE ⇒ definitely unseen ⇒ admitted with NO join.
    * filter POSITIVE ⇒ maybe seen ⇒ exact left_anti join against the
      authoritative frontier (false positives survive; true duplicates
      drop).  At 10^10 scale the anti-join therefore touches only the
      tiny maybe-seen slice instead of every discovered link.
    """
    # anti-join needs no distinct on the build side — a duplicate-free
    # probe result either way, and distinct would re-shuffle the whole
    # frontier every round.
    fresh = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified = maybe.join(frontier.select("url_hash"), "url_hash", "left_anti")
    return fresh.unionByName(verified)


def to_extracted(fetched: DataFrame, round_no: int) -> DataFrame:
    """Every ATTEMPTED row (fetched or failed) becomes a fetch-results
    row; consumers filter on the fetched flag.  Under the broadcast
    fetch-join misses aren't rows at all (inner join), so there the
    table contains successes only."""
    return (
        fetched
        .withColumn("round", F.lit(round_no))
        .withColumn("n_links", F.size("links").cast("int"))
        .select([f.name for f in EXTRACTED.fields])
    )
