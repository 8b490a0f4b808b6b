"""Graph operators over the crawl corpus — the two graph stages a
web-scale training-data pipeline runs after extraction:

* ``dedup_cluster_cc`` — connected components over the MinHash-LSH
  near-dup pair graph (textops.dedup_minhash_lsh_pairs), yielding one
  canonical representative per duplicate cluster.  This is the step that
  turns pairwise dedup evidence into an actual keep/drop decision.
* ``graph_pagerank`` — PageRank over the hyperlink graph husked from the
  rendered pages (crawlq._doc_pages), the classic crawl-frontier
  prioritization signal (SURVEY §2.A A7 feeds on link authority at scale).

Both are iterative DataFrame algorithms: a driver loop over join+agg
steps, with lineage truncated per iteration (``localCheckpoint``) so the
plan doesn't grow unboundedly.  No RDDs, no Python UDFs — every step is
JVM-side join/groupBy, so each iteration is one shuffle keyed on the
node id.  100 TB notes per operator below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .registry import q, t
from .scope import ROWS_PER_SHUFFLE_TASK, capped_conf
from .textops import _LSH_PAIRS_SQL, dedup_minhash_lsh_pairs

CC_MAX_ITERS = 25  # loud failure beats silent wrong clusters

# Iterative-state shuffle sizing (guide §2.2/§6): the per-iteration state
# of these algorithms is one row per node — at test SFs a few thousand
# rows, for which the session's shuffle-partition count (sized for
# corpus-wide scans) schedules ~64 near-empty tasks per stage.  Loops run
# under a state-sized, session-capped count; every use materializes its
# loop state in-scope (see capped_conf on lazy plans).
def _iter_scope(spark, n_rows: int):
    return capped_conf(spark, "spark.sql.shuffle.partitions",
                       n_rows // ROWS_PER_SHUFFLE_TASK + 1)


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Min-label propagation: every node's label converges to the
    smallest node id reachable from it.  ``nodes`` is (doc_id,),
    ``edges`` is directed (src, dst) — pass both directions for an
    undirected graph.

    Scale shape: each iteration is one join edges⋈labels (keyed on src)
    + one groupBy(dst).min (map-side combinable) + one left join back to
    nodes — all shuffles on the node id, so co-partitioning carries
    across iterations.  Convergence needs O(cluster diameter) rounds;
    LSH near-dup clusters are clique-ish (diameter ≤ 2), so 2-3 rounds
    in practice.  Labels only ever decrease, so Σlabel is a strictly
    decreasing convergence witness — one scalar agg per round instead of
    a change-count join.  Lineage is truncated every round
    (localCheckpoint); on a real cluster point checkpoints at durable
    storage for fault tolerance past executor loss."""
    spark = nodes.sparkSession
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster_id"))
    labels = labels.localCheckpoint(eager=True)
    # one job for both loop constants: the convergence witness AND the
    # state size that sizes the iteration shuffles
    first = labels.agg(F.sum("cluster_id").alias("s"),
                       F.count("*").alias("n")).collect()[0]
    prev_sum, n_nodes = first["s"], first["n"]
    edges = edges.persist()
    # materialize the edge table BEFORE the state-sized scope: its
    # upstream (e.g. the whole LSH pair chain) is corpus-scale work that
    # must run at the session's parallelism, not the iteration state's
    edges.count()
    try:
        with _iter_scope(spark, n_nodes):
            for _ in range(max_iters):
                nbr = (edges.join(labels,
                                  edges["src"] == labels["doc_id"])
                       .groupBy("dst")
                       .agg(F.min("cluster_id").alias("nbr_min")))
                labels = (labels.join(nbr, labels["doc_id"] == nbr["dst"],
                                      "left")
                          .select(labels["doc_id"],
                                  F.least("cluster_id",
                                          F.coalesce("nbr_min", "cluster_id"))
                                  .alias("cluster_id")))
                labels = labels.localCheckpoint(eager=True)
                cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
                if cur_sum == prev_sum:
                    return labels
                prev_sum = cur_sum
    finally:
        edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations")


@q("dedup_cluster_cc", f"""
WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS keep
FROM comp
""")
def dedup_cluster_cc(spark, sf):
    """Near-dup CLUSTERS from the LSH pair graph: connected components
    over dedup_minhash_lsh_pairs edges, canonical representative = min
    doc_id per component (keep=1), everything else drops.  Singletons
    keep themselves.  This is the end of the dedup chain: pairs are
    evidence, clusters are the decision.  The oracle walks the same
    graph with a recursive CTE (min reachable id ≡ component id)."""
    docs = t(spark, sf, "documents").select("doc_id")
    pairs = dedup_minhash_lsh_pairs(spark, sf)
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    comp = connected_components(docs, edges)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id", "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        F.when(F.col("doc_id") == F.col("cluster_id"), 1)
        .otherwise(0).alias("keep"))


# ------------------------------------------------------------------ PageRank

PR_DAMPING = 0.85
PR_ITERS = 3  # frozen: the oracle unrolls exactly this many rounds
PR_CKPT_EVERY = 8  # lineage-truncation cadence for long runs (plan-depth cap)

# every doc has 1 + doc_id % 3 outlinks (corpus arithmetic), so there are
# no dangling nodes and no dangling-mass redistribution term.  The edge
# arithmetic is the one frozen in crawlq (oracle side of the husked web).
from .crawlq import _TARGETS_SQL as _PR_TARGETS_SQL  # noqa: E402


def _pr_iter_sql(prev: str) -> str:
    return f"""
  SELECT d.doc_id AS v,
         0.15 / nn.c + 0.85 * COALESCE(SUM(p.pr / dg.k), 0) AS pr
  FROM documents d CROSS JOIN nn
  LEFT JOIN edges e ON e.dst = d.doc_id
  LEFT JOIN {prev} p ON p.v = e.src
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY d.doc_id, nn.c
"""


_PR_CTES = f"""nn AS (SELECT COUNT(*) AS c FROM documents),
edges AS (SELECT doc_id AS src, target AS dst FROM ({_PR_TARGETS_SQL})),
deg AS (SELECT src, COUNT(*) AS k FROM edges GROUP BY src),
pr0 AS (SELECT doc_id AS v, 1.0 / nn.c AS pr FROM documents CROSS JOIN nn),
pr1 AS ({_pr_iter_sql('pr0')}),
pr2 AS ({_pr_iter_sql('pr1')}),
pr3 AS ({_pr_iter_sql('pr2')})"""

_PAGERANK_SQL = f"""
WITH {_PR_CTES}
SELECT v AS doc_id, ROUND(pr, 8) AS pagerank FROM pr3
"""


@q("graph_pagerank", _PAGERANK_SQL)
def graph_pagerank(spark, sf, iters: int = PR_ITERS):
    """PageRank (d=0.85, {PR_ITERS} synchronous rounds) over the link
    graph HUSKED from the rendered pages — the engine parses real hrefs
    through the Arrow-UDF extraction path (crawlq), while the oracle
    re-derives the same edges arithmetically and unrolls the iterations
    as chained CTEs.  Output rounded to 8 dp (double-fold error across
    engines is ~1e-15).

    Scale shape: the husk runs ONCE (edges persisted with out-degree
    attached); each iteration is one shuffle keyed on src (join
    ranks⋈edges) + one map-side-combinable groupBy(dst).sum + a left
    join back to the node set, so rank vectors and edges stay
    co-partitioned on the node id across rounds.  No dangling-mass term
    because the corpus graph has no sinks; a general-web run adds one
    scalar agg per round for the dangling mass.  At 10^10 nodes: edges bucketed by src, ranks
    localCheckpointed per round (done here) so plan size stays O(1) in
    the round count.  (Corpus note: 1 + doc_id mod 3 outlinks per node.)"""
    from .crawlq import _doc_pages, _husk_udf, doc_count

    docs = t(spark, sf, "documents").select("doc_id")
    n = doc_count(docs, sf)  # the iteration constant, not data
    pages = _doc_pages(spark, sf)
    edges = (pages.withColumn("h", _husk_udf("url", "html"))
             .select(F.col("doc_id").alias("src"),
                     F.explode("h.links").alias("link"))
             .select("src",
                     F.regexp_extract("link", r"/d/(\d+)$", 1)
                     .cast("long").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("k"))
    edges_deg = edges.join(deg, "src").persist()
    # husk/degree chain materialized at session parallelism, before the
    # state-sized iteration scope (see connected_components)
    edges_deg.count()
    try:
        with _iter_scope(spark, n):
            ranks = docs.select(F.col("doc_id").alias("v"),
                                F.lit(1.0 / n).alias("pr"))
            for it in range(iters):
                contrib = (edges_deg.join(ranks,
                                          edges_deg["src"] == ranks["v"])
                           .groupBy("dst")
                           .agg(F.sum(F.col("pr") / F.col("k")).alias("c")))
                ranks = (docs.join(contrib,
                                   docs["doc_id"] == contrib["dst"], "left")
                         .select(F.col("doc_id").alias("v"),
                                 (F.lit(0.15 / n)
                                  + F.lit(PR_DAMPING)
                                  * F.coalesce("c", F.lit(0.0))).alias("pr")))
                # no convergence witness in the fixed-depth unroll, so
                # iterations CHAIN lazily into one job — a checkpoint per
                # round was one extra materialization job each (measured
                # ~1s/round of pure scheduling at test SF); truncate only
                # every PR_CKPT_EVERY rounds to bound plan depth at scale
                if (it + 1) % PR_CKPT_EVERY == 0 and it + 1 < iters:
                    ranks = ranks.localCheckpoint(eager=True)
            # materialize the final state IN-scope (the tuned shuffle conf
            # doesn't apply to jobs run after restore)
            ranks = ranks.localCheckpoint(eager=True)
        return ranks.select(F.col("v").alias("doc_id"),
                            F.round("pr", 8).alias("pagerank"))
    finally:
        edges_deg.unpersist()


# ------------------------------------------- semantic dedup clusters

from .textops import _COS_PAIR_SQL, dedup_embedding_cosine  # noqa: E402


@q("dedup_semantic_clusters", f"""
WITH RECURSIVE pairs AS (
  SELECT vec_a, vec_b FROM ({_COS_PAIR_SQL}) WHERE cos >= 0.4),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS keep
FROM comp
""")
def dedup_semantic_clusters(spark, sf):
    """SEMANTIC dedup decision: connected components over the
    embedding-cosine near-dup pair graph (dedup_embedding_cosine ≥ 0.4)
    — the embedding-space twin of dedup_cluster_cc's lexical clusters.
    One canonical vector per cluster survives (min vec_id).  Same
    min-label propagation engine; same recursive-CTE oracle shape."""
    e = t(spark, sf, "embeddings").select(
        F.col("vec_id").alias("doc_id"))
    pairs = dedup_embedding_cosine(spark, sf)
    edges = (pairs.select(F.col("vec_a").alias("src"),
                          F.col("vec_b").alias("dst"))
             .union(pairs.select(F.col("vec_b").alias("src"),
                                 F.col("vec_a").alias("dst"))))
    comp = connected_components(e, edges)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("doc_id").alias("vec_id"), "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        F.when(F.col("doc_id") == F.col("cluster_id"), 1)
        .otherwise(0).alias("keep"))


# ------------------------------------------------------------------ HITS

HITS_ITERS = 2  # frozen: the oracle unrolls exactly this many rounds


def _hits_auth_sql(prev_h: str) -> str:
    return f"""
  SELECT d.doc_id AS v, COALESCE(SUM(p.h), 0) AS a
  FROM documents d
  LEFT JOIN edges e ON e.dst = d.doc_id
  LEFT JOIN {prev_h} p ON p.v = e.src
  GROUP BY d.doc_id"""


def _hits_hub_sql(prev_a: str) -> str:
    return f"""
  SELECT d.doc_id AS v, COALESCE(SUM(p.a), 0) AS h
  FROM documents d
  LEFT JOIN edges e ON e.src = d.doc_id
  LEFT JOIN {prev_a} p ON p.v = e.dst
  GROUP BY d.doc_id"""


_HITS_SQL = f"""
WITH edges AS (SELECT doc_id AS src, target AS dst FROM ({_PR_TARGETS_SQL})),
h0 AS (SELECT doc_id AS v, 1.0 AS h FROM documents),
a1 AS ({_hits_auth_sql('h0')}),
h1 AS ({_hits_hub_sql('a1')}),
a2 AS ({_hits_auth_sql('h1')}),
h2 AS ({_hits_hub_sql('a2')})
SELECT a2.v AS doc_id, ROUND(a2.a, 6) AS authority, ROUND(h2.h, 6) AS hub
FROM a2 JOIN h2 ON h2.v = a2.v
"""


@q("graph_hits", _HITS_SQL)
def graph_hits(spark, sf, iters: int = HITS_ITERS):
    """HITS hubs/authorities over the husked link graph — the third
    member of the graph family (CC = dedup decision, PageRank = global
    authority, HITS = mutually-reinforcing hubs/authorities, the other
    classic crawl-prioritization signal).  UNNORMALIZED with a frozen
    {HITS_ITERS}-round unroll: per-round L1 normalization would divide
    by a global float sum whose reduction order differs across engines;
    without it every value is a small-fan-in sum of identical doubles,
    so ROUND(…, 6) is bit-portable (the graph_pagerank argument, same
    corpus arithmetic for the oracle's edges).  Scale shape per
    half-round: one edge⋈score join keyed on the node id + one
    map-side-combinable sum + a left join back to the node set;
    localCheckpoint truncates lineage; edges husked ONCE and persisted."""
    from .crawlq import _doc_pages, _husk_udf, doc_count

    docs = t(spark, sf, "documents").select("doc_id")
    pages = _doc_pages(spark, sf)
    edges = (pages.withColumn("hk", _husk_udf("url", "html"))
             .select(F.col("doc_id").alias("src"),
                     F.explode("hk.links").alias("link"))
             .select("src",
                     F.regexp_extract("link", r"/d/(\d+)$", 1)
                     .cast("long").alias("dst"))
             .persist())
    try:
        n_docs = doc_count(docs, sf)
        edges.count()  # husk chain at session parallelism, pre-scope
        hub = docs.select(F.col("doc_id").alias("v"), F.lit(1.0).alias("h"))
        auth = None
        # checkpoints stay per half-round (auth feeds BOTH the next
        # half-round and the final join — without materialization its
        # subtree would execute twice), but they run under the
        # state-sized shuffle scope (see _iter_scope)
        with _iter_scope(spark, n_docs):
            for _ in range(iters):
                inc = (edges.join(hub, edges["src"] == hub["v"])
                       .groupBy("dst").agg(F.sum("h").alias("s")))
                auth = (docs.join(inc, docs["doc_id"] == inc["dst"], "left")
                        .select(F.col("doc_id").alias("v"),
                                F.coalesce("s", F.lit(0.0)).alias("a"))
                        .localCheckpoint(eager=True))
                out = (edges.join(auth, edges["dst"] == auth["v"])
                       .groupBy("src").agg(F.sum("a").alias("s")))
                hub = (docs.join(out, docs["doc_id"] == out["src"], "left")
                       .select(F.col("doc_id").alias("v"),
                               F.coalesce("s", F.lit(0.0)).alias("h"))
                       .localCheckpoint(eager=True))
        hub2 = hub.select(F.col("v").alias("v2"), "h")
        return (auth.join(hub2, auth["v"] == hub2["v2"])
                .select(F.col("v").alias("doc_id"),
                        F.round("a", 6).alias("authority"),
                        F.round("h", 6).alias("hub")))
    finally:
        edges.unpersist()


# ------------------------------------------------------- BFS seed distance

BFS_SEEDS = 50     # seeds = doc_id < 50 (frozen for the oracle)
BFS_HORIZON = 20   # frozen exploration horizon (both engines stop here)


@q("graph_bfs_depth", f"""
WITH RECURSIVE edges AS (
  SELECT doc_id AS src, target AS dst FROM ({_PR_TARGETS_SQL})),
reach(node, d) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id < {BFS_SEEDS}
  UNION
  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.d < {BFS_HORIZON}),
dist AS (SELECT node AS doc_id, MIN(d) AS depth FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(dist.depth, -1) AS depth
FROM documents d LEFT JOIN dist ON dist.doc_id = d.doc_id
""")
def graph_bfs_depth(spark, sf, horizon: int = BFS_HORIZON):
    """BFS seed distance over the husked link graph — the independent
    verification of the crawl priority's seed_distance signal (A7:
    10·depth + dist): min-hop distance from the seed set, −1 if
    unreached within the frozen {BFS_HORIZON}-hop horizon.  Same
    min-label propagation engine as connected components, propagating
    depth+1 instead of labels, with the Σdepth scalar as the
    convergence witness and localCheckpoint per round.  Scale shape per
    round: one edges⋈depth join keyed on the node id + map-side-
    combinable min + a left join back — co-partitioned across rounds."""
    from .crawlq import _doc_pages, _husk_udf

    docs = t(spark, sf, "documents").select("doc_id")
    pages = _doc_pages(spark, sf)
    edges = (pages.withColumn("hk", _husk_udf("url", "html"))
             .select(F.col("doc_id").alias("src"),
                     F.explode("hk.links").alias("link"))
             .select("src",
                     F.regexp_extract("link", r"/d/(\d+)$", 1)
                     .cast("long").alias("dst"))
             .persist())
    big = horizon + 1  # stands in for "unreached" during propagation
    try:
        depth = docs.select(
            "doc_id",
            F.when(F.col("doc_id") < BFS_SEEDS, 0).otherwise(big)
            .alias("d")).localCheckpoint(eager=True)
        first = depth.agg(F.sum("d").alias("s"),
                          F.count("*").alias("n")).collect()[0]
        prev_sum, n_docs = first["s"], first["n"]
        edges.count()  # husk chain at session parallelism, pre-scope
        with _iter_scope(spark, n_docs):
            for _ in range(horizon):
                nbr = (edges.join(depth, edges["src"] == depth["doc_id"])
                       .groupBy("dst").agg(F.min(F.col("d") + 1).alias("nd")))
                depth = (depth.join(nbr, depth["doc_id"] == nbr["dst"],
                                    "left")
                         .select(depth["doc_id"],
                                 F.least("d", F.coalesce("nd", F.col("d")))
                                 .alias("d")))
                depth = depth.localCheckpoint(eager=True)
                cur_sum = depth.agg(F.sum("d")).collect()[0][0]
                if cur_sum == prev_sum:
                    break
                prev_sum = cur_sum
        return depth.select(
            "doc_id",
            F.when(F.col("d") >= big, -1).otherwise(F.col("d"))
            .alias("depth"))
    finally:
        edges.unpersist()


# ------------------------------------ rank-weighted re-crawl scheduling

@q("crawl_rank_frontier", "WITH " + _PR_CTES + """,
prk AS (SELECT v AS doc_id, ROUND(pr, 8) AS pagerank FROM pr3),
f AS (SELECT doc_id, 'docs' || (doc_id % 10) || '.example' AS host,
             CAST(doc_id * 37 % 180 AS INT) AS age_days
      FROM documents),
scored AS (
  SELECT f.host, f.doc_id, prk.pagerank, f.age_days,
         ROUND(prk.pagerank * f.age_days, 8) AS rscore
  FROM f JOIN prk ON prk.doc_id = f.doc_id)
SELECT host, doc_id, pagerank, age_days, rscore, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                               ORDER BY rscore DESC, doc_id) AS rk
  FROM scored) WHERE rk <= 10
""")
def crawl_rank_frontier(spark, sf):
    """Rank-weighted re-crawl scheduling — the feedback loop a mature
    crawler runs: page importance (PageRank over the husked link
    graph) × staleness (age since last fetch, the crawl_recrawl_topk
    signal) decides which known urls each host's politeness budget
    re-fetches next.  Priority = ROUND(pagerank · age_days, 8), per
    host top-10 (rscore desc, doc_id tie-break) — important-and-stale
    pages first, unimportant-or-fresh last.  The oracle chains the
    unrolled PageRank CTEs into the frozen staleness arithmetic, so
    the whole composition is value-verified.  Scale shape: PageRank
    amortizes across scheduling runs (persist pr3 as a table); the
    join is doc-keyed; per-host top-k is the A8 window
    (WindowGroupLimit prunes map-side, two-phase salting for fan-in
    hosts)."""
    from .registry import t as _t
    pr = graph_pagerank(spark, sf)
    f_ = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("docs"), F.col("doc_id") % 10,
                 F.lit(".example")).alias("host"),
        (F.col("doc_id") * 37 % 180).cast("int").alias("age_days"))
    scored = (f_.join(pr, "doc_id")
              .select("host", "doc_id", "pagerank", "age_days",
                      F.round(F.col("pagerank") * F.col("age_days"), 8)
                      .alias("rscore")))
    win = Window.partitionBy("host").orderBy(F.col("rscore").desc(),
                                             "doc_id")
    return (scored.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= 10)
            .select("host", "doc_id", "pagerank", "age_days", "rscore",
                    "rk"))


# ------------------------------------------------------- triangle counting

@q("graph_triangle_count", f"""
WITH edges AS (SELECT doc_id AS src, target AS dst FROM ({_PR_TARGETS_SQL})),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
nodes AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
SELECT d.doc_id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
FROM documents d
LEFT JOIN (SELECT v, COUNT(*) AS n FROM nodes GROUP BY v) cnt
  ON cnt.v = d.doc_id
""")
def graph_triangle_count(spark, sf):
    """Per-node triangle counts over the husked link graph — the local
    clustering signal (spam-farm and boilerplate-ring detection in a
    web corpus: link farms are triangle-dense).  Canonical enumeration:
    undirected edges ordered a<b, each triangle x<y<z found exactly
    once by the two-path join e1(x,y)⋈e2(y,z) closed by e3(x,z).
    Scale shape: the classic edge-ordered triangle join — every join is
    keyed equi-join (no cartesian); at web scale order vertices by
    DEGREE instead of id before the same join (caps the fan-out of
    high-degree hubs, the standard MapReduce-triangles trick) and
    count per node with a map-side-combinable agg."""
    from .crawlq import _doc_pages, _husk_udf
    from .registry import t as _t

    pages = _doc_pages(spark, sf)
    edges = (pages.withColumn("h", _husk_udf("url", "html"))
             .select(F.col("doc_id").alias("src"),
                     F.explode("h.links").alias("link"))
             .select("src",
                     F.regexp_extract("link", r"/d/(\d+)$", 1)
                     .cast("long").alias("dst")))
    und = (edges.filter(F.col("src") != F.col("dst"))
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct())
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (e1.join(e2, F.col("e2.a") == F.col("e1.b"))
           .join(e3, (F.col("e3.a") == F.col("e1.a"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                   F.col("e2.b").alias("z")))
    counts = (tri.select(F.explode(F.array("x", "y", "z")).alias("v"))
              .groupBy("v").agg(F.count("*").alias("n")))
    docs = _t(spark, sf, "documents").select("doc_id")
    return (docs.join(counts, docs["doc_id"] == counts["v"], "left")
            .select("doc_id",
                    F.coalesce("n", F.lit(0)).cast("bigint")
                    .alias("n_triangles")))
