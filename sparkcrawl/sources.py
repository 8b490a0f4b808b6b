"""Source/sink format coverage beyond parquet — CSV, JSON Lines, ORC,
text, and a WARC-style binary record reader (the crawl-archive format).

Each operator is a ROUND-TRIP: the engine writes the foreign format from
the canonical parquet table, reads it back through the matching Spark
source, and aggregates; the DuckDB oracle computes the same aggregate
directly on the parquet view.  A hash match therefore proves the values
survived the format boundary bit-exactly (modulo the documented
timestamp-precision caveats), not just that the reader ran.

Scratch files go to ONE dir per (format, sf) under a process-keyed root
— writers use mode=overwrite so in-process reruns reuse the location —
and the root is removed at interpreter exit; within a session the dir
stays in place so the returned (lazy) DataFrame stays re-evaluable, and
concurrent processes (bench alongside pytest) never share scratch.
At scale these writers/readers are the same code path — Spark's
CSV/JSON/ORC/text/binaryFile sources are splittable (JSON Lines, not
multiline) and predicate/partition pruning applies to ORC like parquet.
"""

from __future__ import annotations

import os
import re
import tempfile
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import q, t
from .scope import session_cached


# Keyed by uid+pid: deterministic WITHIN a process (reruns overwrite one
# location instead of minting mkdtemp orphans), but isolated ACROSS
# processes — a bench run next to a pytest run must not share live
# scratch data or have the first exiter delete the other's files.  Each
# process's atexit removes only its own root; a kill -9 can orphan one
# root, bounded by one process's scratch.
_SCRATCH_ROOT = os.path.join(
    tempfile.gettempdir(),
    f"sparkcrawl_scratch_{os.getuid()}_{os.getpid()}")
_CLEANUP_ARMED = False


def _sfslug(sf: str) -> str:
    return re.sub(r"[^A-Za-z0-9_]", "_", sf)


def _scratch(prefix: str) -> str:
    """Deterministic per-prefix scratch dir (writers use mode=overwrite,
    so reruns reuse ONE location instead of minting a fresh mkdtemp per
    invocation and accumulating orphaned lineitem/orders copies in /tmp).
    The whole root is removed at interpreter exit."""
    global _CLEANUP_ARMED
    if not _CLEANUP_ARMED:
        import atexit
        import shutil
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
        _CLEANUP_ARMED = True
    path = os.path.join(_SCRATCH_ROOT, prefix)
    os.makedirs(path, exist_ok=True)
    return path


@q("source_csv_roundtrip", """
SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
FROM nation GROUP BY n_regionkey
""")
def source_csv_roundtrip(spark, sf):
    """nation → CSV (header) → read back with an explicit schema →
    aggregate.  Schema-on-read is explicit (never inferSchema in
    production: one extra full scan and type drift)."""
    path = _scratch(f"csv_{_sfslug(sf)}")
    t(spark, sf, "nation").write.mode("overwrite").option("header", True) \
        .csv(path)
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ])
    back = spark.read.option("header", True).schema(schema).csv(path)
    return (back.groupBy("n_regionkey")
            .agg(F.count("*").alias("n_nations"),
                 F.min("n_name").alias("first_name")))


@q("source_json_roundtrip", """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY 1
""")
def source_json_roundtrip(spark, sf):
    """orders → JSON Lines → read back (explicit schema) → per-year
    rollup.  Doubles round-trip exactly (shortest-repr serialization);
    timestamps round-trip to millisecond precision — the aggregate keys
    on the year, so the documented sub-ms truncation can't bite.  JSON
    Lines (one object per line) keeps the source splittable at 100 TB;
    multiline JSON would not be."""
    path = _scratch(f"json_{_sfslug(sf)}")
    orders = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    orders.write.mode("overwrite").json(path)
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
    ])
    back = spark.read.schema(schema).json(path)
    return (back.groupBy(F.year("o_orderdate").alias("yr"))
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


@q("source_orc_roundtrip", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def source_orc_roundtrip(spark, sf):
    """lineitem → ORC → read back → pricing rollup.  ORC is the other
    columnar production format Spark reads natively (vectorized reader,
    predicate pushdown, column pruning — same scan properties the
    parquet plans are pinned for)."""
    path = _scratch(f"orc_{_sfslug(sf)}")
    t(spark, sf, "lineitem").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (back.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                 F.count("*").alias("n_rows")))


@q("source_text_lines", """
SELECT COUNT(*) AS n_lines,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
FROM documents
""")
def source_text_lines(spark, sf):
    """documents.text → line-oriented text files → read back via the
    text source → corpus totals.  The text source is the raw-corpus
    workhorse (one string column per line, splittable); totals prove
    every line and every byte survived."""
    path = _scratch(f"text_{_sfslug(sf)}")
    t(spark, sf, "documents").select(
        F.coalesce("text", F.lit("")).alias("value")) \
        .write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.size(F.split("value", " "))).alias("n_words"),
        F.sum(F.length("value")).alias("n_chars"))


# ----------------------------------------------------------- WARC-ish

_WARC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("body", T.StringType()),
])


def _parse_warcish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Parse concatenated WARC-style records out of whole-file byte
    blobs: scan for the version line, read headers to the blank line,
    slice the body by Content-Length (robust to anything the body
    contains, including blank lines or literal 'WARC/1.0')."""
    for b in batches:
        ids, uris, bodies = [], [], []
        for blob in b["content"]:
            data = bytes(blob)
            pos = 0
            while True:
                start = data.find(b"WARC/1.0", pos)
                if start < 0:
                    break
                hdr_end = data.find(b"\n\n", start)
                if hdr_end < 0:
                    break
                headers = {}
                for line in data[start:hdr_end].decode("utf-8").split("\n")[1:]:
                    k, _, v = line.partition(":")
                    headers[k.strip().lower()] = v.strip()
                n = int(headers["content-length"])
                body = data[hdr_end + 2: hdr_end + 2 + n]
                ids.append(int(headers["warc-record-id"]))
                uris.append(headers["warc-target-uri"])
                bodies.append(body.decode("utf-8"))
                pos = hdr_end + 2 + n
        yield pd.DataFrame({
            "doc_id": pd.array(ids, dtype="int64"),
            "target_uri": uris, "body": bodies})


@q("source_warcish_reader", """
SELECT doc_id,
       'http://docs' || (doc_id % 10) || '.example/d/' || doc_id AS target_uri,
       md5(text) AS body_md5,
       octet_length(encode(text)) AS n_bytes
FROM documents
""")
def source_warcish_reader(spark, sf):
    """Crawl-archive ingestion: render every document as a WARC-style
    record (version line, Record-ID / Target-URI / Content-Length
    headers, blank line, body), concatenate records into plain files,
    then read them back through the binaryFile source and re-parse with
    a vectorized mapInPandas record splitter.  Output is keyed off the
    parsed HEADERS and the parsed body bytes, so a hash match proves
    the full serialize→concatenate→split→parse cycle is lossless.
    At 100 TB: real WARC is gzip-per-record over the same layout; the
    per-file parse is embarrassingly parallel (binaryFile gives one row
    per archive file, Arrow-batched)."""
    path = _scratch(f"warc_{_sfslug(sf)}")
    d = t(spark, sf, "documents")
    uri = F.concat(F.lit("http://docs"), F.col("doc_id") % 10,
                   F.lit(".example/d/"), F.col("doc_id"))
    record = F.concat(
        F.lit("WARC/1.0\n"),
        F.lit("WARC-Record-ID: "), F.col("doc_id").cast("string"), F.lit("\n"),
        F.lit("WARC-Target-URI: "), uri, F.lit("\n"),
        F.lit("Content-Length: "),
        F.octet_length(F.encode("text", "UTF-8")).cast("string"),
        F.lit("\n\n"), F.col("text"), F.lit("\n"))
    d.select(record.alias("value")).write.mode("overwrite").text(path)
    parsed = (spark.read.format("binaryFile").load(path)
              .select("content").mapInPandas(_parse_warcish, _WARC_SCHEMA))
    return parsed.select(
        "doc_id", "target_uri",
        F.md5(F.encode("body", "UTF-8")).alias("body_md5"),
        F.octet_length(F.encode("body", "UTF-8")).cast("long")
        .alias("n_bytes"))


# ------------------------------------------------- bucketed co-located join

_BUCKETS = 8


def _bucketed_table(spark, sf: str, name: str, key: str) -> str:
    """Write ``name`` as a bucketed+sorted external table (data in a
    scratch dir, metadata in the session catalog) and return the catalog
    name — once per session, since the catalog entry dies with it.
    Bucketing pre-shuffles ONCE at write time; every later join or
    aggregation keyed on ``key`` then runs exchange-free — the pattern
    that amortizes the frontier⋈pages join at 100 TB."""
    return session_cached(spark, ("bucketed", sf, name),
                          lambda: _write_bucketed(spark, sf, name, key))


def _write_bucketed(spark, sf: str, name: str, key: str) -> str:
    # deterministic name: reruns in any process overwrite ONE catalog
    # entry + ONE data dir instead of salting a new copy per process
    sfslug = _sfslug(sf)
    tbl = f"sc_bkt_{name}_{sfslug}"
    (t(spark, sf, name).write.mode("overwrite")
     .bucketBy(_BUCKETS, key).sortBy(key)
     .option("path", _scratch(f"bkt_{name}_{sfslug}"))
     .saveAsTable(tbl))
    return tbl


def bucketed_join_df(spark, sf):
    """The pre-aggregation join of two co-bucketed tables — split out so
    the plan test can assert it contains ZERO Exchange nodes."""
    ot = _bucketed_table(spark, sf, "orders", "o_custkey")
    ct = _bucketed_table(spark, sf, "customer", "c_custkey")
    o = spark.table(ot).select("o_custkey", "o_totalprice")
    c = spark.table(ct).select("c_custkey", "c_mktsegment")
    # merge hint: without it the small side would broadcast at test SF
    # and the co-location property being demonstrated wouldn't exercise
    return o.hint("merge").join(
        c, o["o_custkey"] == c["c_custkey"], "inner")


@q("join_bucketed_colocated", """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def join_bucketed_colocated(spark, sf):
    """Join two tables bucketed+sorted on the join key: the sort-merge
    join needs NO shuffle on either side (pinned by test_plans) because
    both sides' bucketing already satisfies the join's distribution
    requirement.  At 100 TB this converts the biggest recurring join
    from 2 full-data exchanges per run to zero — the write-time bucket
    shuffle is paid once, not per query."""
    j = bucketed_join_df(spark, sf)
    return (j.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


@q("source_hive_partitioned", """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
GROUP BY 1, 2
""")
def source_hive_partitioned(spark, sf):
    """Hive-style partitioned layout (yr=N/ dirs): orders written
    partitionBy(yr), read back with a year predicate that must prune at
    the FILE INDEX — the scan only lists the two matching partition
    dirs (pinned by test_hive_partition_prune).  This is the lake
    layout every 100 TB fact table uses; repartition-by-partition-col
    before the write keeps it to one file per partition per task wave
    (the IcebergishTable._write_snapshot rule)."""
    path = _scratch(f"hivepart_{_sfslug(sf)}")
    o = t(spark, sf, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("int"))
    (o.repartition(F.col("yr")).write.mode("overwrite")
     .partitionBy("yr").parquet(path))
    back = spark.read.parquet(path).filter(F.col("yr").isin(1995, 1996))
    return (back.groupBy("yr", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))
