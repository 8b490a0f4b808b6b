"""Graph operators: independent pure-python cross-checks (union-find for
connected components, numpy power iteration for PageRank) on top of the
DuckDB oracle rows in test_queries."""

import numpy as np

from sparkcrawl.graphops import connected_components, graph_pagerank
from sparkcrawl.textops import dedup_minhash_lsh_pairs

SF = "/root/testdata/sf0.001"


def test_cc_matches_union_find(spark):
    """Spark label propagation == classic union-find on the same pairs."""
    pairs = [(r.doc_a, r.doc_b)
             for r in dedup_minhash_lsh_pairs(spark, SF).collect()]
    assert pairs, "testdata produced no LSH pairs"
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()

    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in range(n_docs)}

    from sparkcrawl.registry import QUERIES
    got = {r.doc_id: r.cluster_id
           for r in QUERIES["dedup_cluster_cc"](spark, SF).collect()}
    assert got == want


def test_cc_chain_needs_multiple_rounds(spark):
    """A path graph exercises multi-round propagation (LSH clusters are
    clique-ish; this pins the algorithm, not the data shape)."""
    n = 9
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long")
    comp = connected_components(nodes, edges)
    assert {r.cluster_id for r in comp.collect()} == {0}


def test_cc_raises_on_iteration_cap(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    chain = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long")
    conf = dict(spark.conf.getAll)
    try:
        connected_components(nodes, edges, max_iters=1)
    except RuntimeError as exc:
        assert "converge" in str(exc)
    else:
        raise AssertionError("expected non-convergence to raise")
    assert dict(spark.conf.getAll) == conf, "raise leaked session conf"


def test_pagerank_matches_numpy(spark):
    """3 synchronous rounds of d=0.85 PageRank vs a dense numpy power
    iteration over the same husked edge list."""
    ranks = {r.doc_id: r.pagerank
             for r in graph_pagerank(spark, SF).collect()}
    n = len(ranks)

    edges = [((d * 31 + 7 * (j + 1)) % n, d)  # (dst, src)
             for d in range(n) for j in range(1 + d % 3)]
    outdeg = np.zeros(n)
    for _, s in edges:
        outdeg[s] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(3):
        nxt = np.full(n, 0.15 / n)
        contrib = pr / outdeg
        for dst, src in edges:
            nxt[dst] += 0.85 * contrib[src]
        pr = nxt
    for d in range(n):
        # engine output is rounded to 8 dp → up to 5e-9 quantization
        assert abs(ranks[d] - pr[d]) < 6e-9, (d, ranks[d], pr[d])
    # mass conservation: no dangling nodes, so Σpr == 1
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_hits_matches_numpy(spark):
    """2 unnormalized HITS rounds vs a dense numpy computation over the
    same husked edge list (auth = in-sum of hubs, hub = out-sum of
    auths)."""
    from sparkcrawl.graphops import graph_hits

    vals = {r.doc_id: (r.authority, r.hub)
            for r in graph_hits(spark, SF).collect()}
    n = len(vals)
    edges = [(d, (d * 31 + 7 * (j + 1)) % n)  # (src, dst)
             for d in range(n) for j in range(1 + d % 3)]
    h = np.ones(n)
    for _ in range(2):
        a = np.zeros(n)
        for s, t in edges:
            a[t] += h[s]
        h = np.zeros(n)
        for s, t in edges:
            h[s] += a[t]
    for d in range(n):
        assert abs(vals[d][0] - a[d]) < 1e-5, (d, vals[d], a[d])
        assert abs(vals[d][1] - h[d]) < 1e-5, (d, vals[d], h[d])
