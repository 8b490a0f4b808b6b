"""Crawl-engine operators exposed through the driver contract.

The crawl engine's native input is a pages table of (url, warc_ts, html,
text, lang) [BASELINE.json:15]; for the DuckDB-oracle gate we render that
table deterministically FROM the driver's ``documents`` parquet
(corpus.render_doc_html), so every crawl-side result — extraction, link
graph, canonicalization, politeness selection, robots — has a closed-form
ANSI-SQL oracle over the same inputs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bloom as bloom_mod
from .corpus import doc_url, render_doc_html
from .extract import husk_frame
from .frontier import canonicalize_udf, select_topk_per_host
from .registry import q, t
from .robots import allowed_series
from .scope import session_cached

_HUSK_SCHEMA = T.StructType([
    T.StructField("text", T.StringType()),
    T.StructField("links", T.ArrayType(T.StringType())),
])
_husk_udf = F.pandas_udf(husk_frame, _HUSK_SCHEMA)
_robots_udf = F.pandas_udf(allowed_series, T.BooleanType())


def doc_count(docs: DataFrame, sf_dir: str) -> int:
    """|documents| of ``sf_dir``, counted once per session: the
    renderer's link-target modulus and the graph leaves' iteration
    constant.  Counts the caller's own scan ``docs``, since a fresh
    parquet read costs one more (schema-inference) job."""
    return session_cached(docs.sparkSession, ("doc_count", sf_dir),
                          docs.count)


def _doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages(url, html) via the deterministic renderer."""
    d = t(spark, sf_dir, "documents")
    n = doc_count(d, sf_dir)

    # the parquet source is a single small file at test SFs, so the scan
    # is 1-2 splits — but every consumer of this frame runs Python work
    # (render here, the husk UDF downstream) whose cost is per ROW, not
    # per byte.  Spread the rows over the session's cores before the
    # Python boundary (guide §4: the scan can't see the downstream UDF
    # cost); size-adaptive: ≥200 rows per task, capped at 2× parallelism
    # so big corpora don't fragment.
    parts = max(1, min(n // 200 + 1, 2 * spark.sparkContext.defaultParallelism))
    if parts > 1:
        d = d.repartition(parts)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "url": [doc_url(int(i)) for i in b["doc_id"]],
                "html": [render_doc_html(int(i), x, n)
                         for i, x in zip(b["doc_id"], b["text"])],
            })

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
    ])
    return d.select("doc_id", "text").mapInPandas(render, schema)


# n / k / j arithmetic must mirror corpus.doc_link_targets exactly.
_TARGETS_SQL = """
  SELECT d.doc_id, j.j,
         (d.doc_id * 31 + 7 * (j.j + 1)) % (SELECT COUNT(*) FROM documents)
           AS target
  FROM documents d
  JOIN (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2) j
    ON j.j < 1 + d.doc_id % 3
"""


@q("crawl_extract_text", """
WITH links AS (
  SELECT doc_id,
         string_agg('d' || CAST(target AS VARCHAR), ' ' ORDER BY j) AS line2
  FROM (""" + _TARGETS_SQL + """)
  GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN TRIM(regexp_replace(COALESCE(d.text, ''), '\\s+', ' ', 'g')) = ''
            THEN l.line2
            ELSE TRIM(regexp_replace(COALESCE(d.text, ''), '\\s+', ' ', 'g'))
                 || chr(10) || l.line2 END AS extracted,
       1 + d.doc_id % 3 AS n_links
FROM documents d JOIN links l USING (doc_id)
""")
def crawl_extract_text(spark, sf):
    """A11/A12 through the full Arrow-UDF path on rendered pages; the
    oracle reconstructs the frozen extraction spec (escape round-trip +
    whitespace collapse + block-newline between <p> and the link <div>)
    in closed form."""
    pages = _doc_pages(spark, sf)
    return (pages.withColumn("h", _husk_udf("url", "html"))
            .select("doc_id", F.col("h.text").alias("extracted"),
                    F.size("h.links").cast("long").alias("n_links")))


@q("crawl_link_graph", """
SELECT target AS doc_id, COUNT(*) AS n_inlinks
FROM (""" + _TARGETS_SQL + """)
GROUP BY target
""")
def crawl_link_graph(spark, sf):
    """A14/A15 + explode + agg: in-link counts over the rendered web —
    links are parsed from html by the UDF, not recomputed arithmetically
    (the oracle does the arithmetic)."""
    pages = _doc_pages(spark, sf)
    links = (pages.withColumn("h", _husk_udf("url", "html"))
             .select(F.explode("h.links").alias("link")))
    return (links.select(F.regexp_extract("link", r"/d/(\d+)$", 1)
                         .cast("long").alias("doc_id"))
            .groupBy("doc_id").agg(F.count("*").alias("n_inlinks")))


@q("crawl_canonicalize", """
SELECT doc_id,
       'http://docs' || (doc_id % 10) || '.example/d/' || doc_id ||
       CASE WHEN doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '' END AS url_canon
FROM documents
""")
def crawl_canonicalize(spark, sf):
    """A2 through the pandas UDF on adversarial URL variants (case,
    fragment, unsorted+tracking params, default port); the oracle states
    the expected canonical form directly."""
    d = t(spark, sf, "documents")
    messy = (
        F.concat(
            F.lit("HTTP://DOCS"), F.col("doc_id") % 10, F.lit(".Example:80/d/"),
            F.col("doc_id"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("#frag"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?utm_source=x&b=2&a=1"))
            .otherwise(F.lit(""))))
    return d.select("doc_id", canonicalize_udf(messy).alias("url_canon"))


@q("crawl_topk_per_host", """
SELECT host, url, rk FROM (
  SELECT host, url, ROW_NUMBER() OVER (PARTITION BY host
                                       ORDER BY priority, url) AS rk
  FROM (SELECT 'docs' || (doc_id % 10) || '.example' AS host,
               'http://docs' || (doc_id % 10) || '.example/d/' || doc_id AS url,
               CAST(n_chars AS DOUBLE) AS priority
        FROM documents))
WHERE rk <= 3
""")
def crawl_topk_per_host(spark, sf):
    """A8/A9: per-host politeness top-K through the engine's salted
    two-phase window (exactness of salting vs the plain window is the
    point; the oracle is the plain window)."""
    d = t(spark, sf, "documents")
    frontier_like = d.select(
        F.concat(F.lit("docs"), F.col("doc_id") % 10, F.lit(".example"))
        .alias("host"),
        F.concat(F.lit("http://docs"), F.col("doc_id") % 10,
                 F.lit(".example/d/"), F.col("doc_id")).alias("url"),
        F.col("n_chars").cast("double").alias("priority"),
        F.xxhash64(F.col("doc_id").cast("string")).alias("url_hash"),
    ).withColumn("url_canon", F.col("url"))
    return (select_topk_per_host(frontier_like, budget=3, salt_buckets=4)
            .select("host", "url", F.col("sel_rank").alias("rk")))


@q("crawl_robots_filter", """
SELECT doc_id, url,
       NOT ((doc_id % 10) % 2 = 0 AND doc_id % 5 = 0) AS allowed
FROM (SELECT doc_id,
             'http://docs' || (doc_id % 10) || '.example' ||
             CASE WHEN doc_id % 5 = 0 THEN '/private/' ELSE '/d/' END
             || doc_id AS url
      FROM documents)
""")
def crawl_robots_filter(spark, sf):
    """A6: vectorized robots evaluation — even-numbered hosts deny
    /private/; the oracle states the rule arithmetic directly."""
    d = t(spark, sf, "documents")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("http://docs"), F.col("doc_id") % 10, F.lit(".example"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/private/"))
            .otherwise(F.lit("/d/")),
            F.col("doc_id")).alias("url"))
    rules = F.when((F.col("doc_id") % 10) % 2 == 0,
                   F.lit("User-agent: *\nDisallow: /private/\n")) \
        .otherwise(F.lit("User-agent: *\nDisallow:\n"))
    return urls.select("doc_id", "url",
                       _robots_udf(rules, F.col("url")).alias("allowed"))


@q("crawl_robots_audit", """
WITH f AS (SELECT doc_id,
                  'docs' || (doc_id % 10) || '.example' AS host,
                  ((doc_id % 10) % 2 = 0 AND doc_id % 5 = 0) AS denied
           FROM documents)
SELECT host, COUNT(*) AS n_urls,
       CAST(SUM(CASE WHEN denied THEN 1 ELSE 0 END) AS BIGINT) AS n_denied,
       ROUND(SUM(CASE WHEN denied THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS denied_frac
FROM f GROUP BY host
""")
def crawl_robots_audit(spark, sf):
    """Per-host robots COMPLIANCE AUDIT: how much of each host's known
    url set its robots rules deny — the crawl-planning signal that
    tells a scheduler which hosts yield little fetchable content (feeds
    A8's budget allocation).  Every url flows through the REAL
    vectorized robots evaluator (_robots_udf, the A6 production path);
    the oracle states the frozen rule arithmetic.  Scale: one
    Arrow-batched map pass + a host-keyed map-side-combinable rollup."""
    d = t(spark, sf, "documents")
    urls = d.select(
        "doc_id",
        F.concat(F.lit("docs"), F.col("doc_id") % 10,
                 F.lit(".example")).alias("host"),
        F.concat(
            F.lit("http://docs"), F.col("doc_id") % 10, F.lit(".example"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/private/"))
            .otherwise(F.lit("/d/")),
            F.col("doc_id")).alias("url"))
    rules = F.when((F.col("doc_id") % 10) % 2 == 0,
                   F.lit("User-agent: *\nDisallow: /private/\n")) \
        .otherwise(F.lit("User-agent: *\nDisallow:\n"))
    denied = (~_robots_udf(rules, F.col("url"))).cast("int")
    return (urls.withColumn("_d", denied)
            .groupBy("host")
            .agg(F.count("*").alias("n_urls"),
                 F.sum("_d").alias("n_denied"),
                 F.round(F.sum("_d") / F.count("*"), 6)
                 .alias("denied_frac")))


@q("crawl_seen_bloom_probe")  # bloom bit-math is engine-side → rows-only
def crawl_seen_bloom_probe(spark, sf):
    """A4/A5: build per-bucket Bloom filters over the even doc urls
    (applyInPandas partial + driver merge), probe all urls via mapInPandas
    with broadcast blobs.  Exactness contract (negative ⇒ definitely
    unseen) is asserted in tests; no SQL oracle for the bit math."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.xxhash64(F.concat(F.lit("http://docs"), F.col("doc_id") % 10,
                            F.lit(".example/d/"), F.col("doc_id")))
        .alias("url_hash"),
        (F.col("doc_id") % 4).cast("int").alias("bucket"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = bloom_mod.add_many(bloom_mod.create(1 << 12),
                                  pdf["url_hash"].to_numpy())
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "blob": [blob]})

    blobs_rows = (d.filter(F.col("doc_id") % 2 == 0)
                  .groupBy("bucket")
                  .applyInPandas(build, "bucket int, blob binary")
                  .collect())
    blobs = {r["bucket"]: bytes(r["blob"]) for r in blobs_rows}
    bc = spark.sparkContext.broadcast(blobs)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bl = bc.value
        for b in batches:
            out = pd.Series(False, index=b.index)
            for bucket, grp in b.groupby("bucket"):
                blob = bl.get(int(bucket))
                if blob is not None:
                    out.loc[grp.index] = bloom_mod.contains_many(
                        blob, grp["url_hash"].to_numpy())
            yield pd.DataFrame({"doc_id": b["doc_id"], "maybe_seen": out})

    return d.mapInPandas(probe, "doc_id long, maybe_seen boolean")


@q("husker_value_ops", """
SELECT doc_id,
       'Product ' || doc_id AS title,
       ROUND(((doc_id * 7919) % 1000000) / 100.0, 2) AS price,
       (doc_id * 13) % 5000 AS qty,
       CAST(DATE '2025-01-01' + (doc_id % 365) * INTERVAL 1 DAY AS DATE)
         AS listed,
       doc_id % 7 AS stock
FROM documents
""")
def husker_value_ops(spark, sf):
    """§2.C value ops + multi-spec alternatives: a scrape rule using
    .float (thousands-separated price), .int (count), .date (ISO date),
    .json (script application/json payload), and one_of over two layout
    variants — run vectorized inside mapInPandas; the oracle states the
    rendered values arithmetically (corpus.product_fields)."""
    from .corpus import render_product_html
    from .husker import parse as husker_parse

    d = t(spark, sf, "documents").select("doc_id")

    def scrape(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["doc_id"]:
                doc = husker_parse(render_product_html(int(i)))
                rows.append((
                    int(i),
                    doc.one_of("h1.title", "div#name").text,
                    doc.one("span.price").float,
                    doc.one("span.qty").int,
                    doc.one("time").date(),
                    doc.one("script[type=application/json]").json["stock"],
                ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "title", "price", "qty", "listed", "stock"])

    schema = ("doc_id long, title string, price double, qty long, "
              "listed date, stock long")
    return d.mapInPandas(scrape, schema)


@q("husker_json_fields", """
SELECT doc_id,
       doc_id AS sku,
       ROUND(((doc_id * 7919) % 1000000) / 100.0, 2) AS price,
       CAST(1 + doc_id % 3 AS INT) AS n_tags,
       (doc_id * 13) % 5000 + doc_id % 7 AS qty_total,
       'Product ' || doc_id AS title
FROM documents
""")
def husker_json_fields(spark, sf):
    """§2.C over JSON documents: the JsonHusker path spec
    (keys / [N] / [*] fan-out) + typed values + one_of alternatives,
    vectorized in mapInPandas; the oracle restates the rendered JSON's
    field arithmetic (corpus.product_fields)."""
    from .corpus import render_doc_json
    from .husker import parse_json

    d = t(spark, sf, "documents").select("doc_id")

    def scrape(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["doc_id"]:
                doc = parse_json(render_doc_json(int(i)))
                rows.append((
                    int(i),
                    doc.one("sku").int,
                    doc.one("price.amount").float,
                    len(doc.any("tags[*]")),
                    sum(v.int for v in doc.all("variants[*].qty")),
                    doc.one_of("name.display", "name.title").text,
                ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "sku", "price", "n_tags", "qty_total", "title"])

    schema = ("doc_id long, sku long, price double, n_tags int, "
              "qty_total long, title string")
    return d.mapInPandas(scrape, schema)


@q("husker_scrape_fields", """
SELECT doc_id,
       TRIM(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g')) AS lead_text,
       'http://docs' || ((doc_id * 31 + 7) % (SELECT COUNT(*) FROM documents)) % 10
         || '.example/d/' || (doc_id * 31 + 7) % (SELECT COUNT(*) FROM documents)
         AS first_href,
       CASE WHEN doc_id % 3 >= 1 THEN
         'http://docs' || ((doc_id * 31 + 14) % (SELECT COUNT(*) FROM documents)) % 10
           || '.example/d/' || (doc_id * 31 + 14) % (SELECT COUNT(*) FROM documents)
       END AS second_href,
       CAST(1 + doc_id % 3 AS INT) AS n_anchors
FROM documents
""")
def husker_scrape_fields(spark, sf):
    """§2.C — a user scrape rule written against the Husker selection API
    (one/some/any + positional ``a[2]`` + .text/.attrib), run vectorized
    inside mapInPandas: the reference's Scraper.parse(page) shape on the
    distributed path.  second_href exercises the lxml-style positional
    predicate (pages carry 1+doc_id%3 anchors, so it's NULL for 1/3)."""
    from .husker import parse as husker_parse

    pages = _doc_pages(spark, sf)

    def scrape(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            leads, hrefs, hrefs2, counts = [], [], [], []
            for html in b["html"]:
                doc = husker_parse(bytes(html))
                leads.append(doc.one("p").text)
                anchors = doc.any("a[href]")
                hrefs.append(anchors[0].attrib("href") if anchors else None)
                second = doc.some("div > a[2]")  # Nth-match-per-context
                hrefs2.append(second.attrib("href") if second else None)
                counts.append(len(anchors))
            yield pd.DataFrame({"doc_id": b["doc_id"], "lead_text": leads,
                                "first_href": hrefs, "second_href": hrefs2,
                                "n_anchors": counts})

    schema = ("doc_id long, lead_text string, first_href string, "
              "second_href string, n_anchors int")
    return pages.mapInPandas(scrape, schema)


SITEMAP_CAP = 200  # URLs per sitemap file (the real spec caps at 50k)


@q("crawl_sitemaps", f"""
WITH u AS (
  SELECT doc_id,
         'docs' || (doc_id % 10) || '.example' AS host,
         'http://docs' || (doc_id % 10) || '.example/d/' || doc_id AS loc,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id) AS rk
  FROM documents)
SELECT host, CAST((rk - 1) // {SITEMAP_CAP} AS INT) AS sitemap_no,
       COUNT(*) AS n_urls, MIN(loc) AS first_loc
FROM u GROUP BY host, (rk - 1) // {SITEMAP_CAP}
""")
def crawl_sitemaps(spark, sf):
    """Sitemap render + re-parse round trip: per host, URLs are packed
    into <urlset> XML files capped at SITEMAP_CAP locs (the sitemap
    spec's 50k-per-file rule, scaled down), then parsed BACK with
    regexp_extract_all and re-aggregated — so the output is derived
    from the parsed XML, proving the sitemap reader, while the oracle
    re-derives it arithmetically.  Per-host file chunking is exactly
    how seed ingestion consumes real sitemap indexes at scale (one row
    per sitemap file → explode locs → frontier append)."""
    d = t(spark, sf, "documents")
    u = d.select(
        "doc_id",
        F.concat(F.lit("docs"), F.col("doc_id") % 10, F.lit(".example"))
        .alias("host"),
        F.concat(F.lit("http://docs"), F.col("doc_id") % 10,
                 F.lit(".example/d/"), F.col("doc_id")).alias("loc"))
    rk = F.row_number().over(
        Window.partitionBy("host").orderBy("doc_id"))
    chunked = u.withColumn(
        "sitemap_no", ((rk - 1) / SITEMAP_CAP).cast("int"))
    frag = F.transform(
        F.sort_array(F.collect_list(F.struct("doc_id", "loc"))),
        lambda s: F.concat(F.lit("<url><loc>"), s["loc"],
                           F.lit("</loc></url>")))
    xml = (chunked.groupBy("host", "sitemap_no")
           .agg(F.concat(
               F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset>'),
               F.array_join(frag, ""), F.lit("</urlset>")).alias("xml")))
    parsed = xml.select(
        "host", "sitemap_no",
        F.explode(F.regexp_extract_all(
            "xml", F.lit("<loc>([^<]+)</loc>"), F.lit(1))).alias("loc"))
    return (parsed.groupBy("host", "sitemap_no")
            .agg(F.count("*").alias("n_urls"),
                 F.min("loc").alias("first_loc")))


@q("crawl_recrawl_topk", """
WITH f AS (
  SELECT doc_id, 'docs' || (doc_id % 10) || '.example' AS host,
         DATE '2024-01-01' + CAST(doc_id * 37 % 180 AS INT) AS last_fetch
  FROM documents)
SELECT host, doc_id, last_fetch, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                               ORDER BY last_fetch, doc_id) AS rk
  FROM f) WHERE rk <= 20
""")
def crawl_recrawl_topk(spark, sf):
    """Re-crawl scheduling: per host, the 20 STALEST known urls (oldest
    last-fetch first, doc_id tie-break) form the next politeness-bounded
    re-fetch batch — the freshness loop a production crawler runs
    forever after the first pass, reusing A7/A8 semantics with age as
    the priority signal.  last_fetch is frozen deterministic arithmetic
    (date + doc_id·37 mod 180 days) so the oracle re-derives it; in the
    engine it is fetchlog.ts from the previous crawl.  Scale shape:
    per-host top-k = the select_topk_per_host pattern — here a plain
    window (WindowGroupLimit prunes rank>20 map-side); a fan-in host at
    100 TB gets the proven two-phase (host, salt) ranking."""
    d = t(spark, sf, "documents")
    f = d.select(
        "doc_id",
        F.concat(F.lit("docs"), F.col("doc_id") % 10,
                 F.lit(".example")).alias("host"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("doc_id") * 37 % 180).cast("int"))
        .alias("last_fetch"))
    win = Window.partitionBy("host").orderBy("last_fetch", "doc_id")
    return (f.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= 20))


@q("crawl_host_rollup", """
SELECT 'docs' || (doc_id % 10) || '.example' AS host,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs,
       MIN(doc_id) AS first_doc
FROM documents
GROUP BY 1
""")
def crawl_host_rollup(spark, sf):
    """Per-host corpus rollup (doc volume, size, language spread) — the
    host-level quality table a crawl scheduler feeds back into priority
    (A7) and budget (A8) decisions.  One map-side-combinable agg keyed
    on host."""
    d = t(spark, sf, "documents")
    host = F.concat(F.lit("docs"), F.col("doc_id") % 10,
                    F.lit(".example"))
    return (d.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.min("doc_id").alias("first_doc")))
