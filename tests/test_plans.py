"""Physical-plan audits (.explain discipline, SURVEY §4): the optimizations
the engine relies on must actually be in the plan — predicate pushdown,
column pruning, broadcast joins, no payload shuffles, salted windows,
partial aggregation, whole-stage codegen."""

from pyspark.sql import functions as F

from sparkcrawl import corpus
from sparkcrawl.frontier import (fetch_and_husk, seeds_to_frontier,
                                 select_topk_per_host)
from sparkcrawl.registry import QUERIES, load_all

load_all()
SF = "/root/testdata/sf0.001"


def plan_of(df, run: bool = False) -> str:
    qe = df._jdf.queryExecution()
    if run:  # AQE plans are shallow until executed (isFinalPlan=false);
        # execute THIS QueryExecution (df.count() would make a new one)
        qe.executedPlan().executeCollect()
    return qe.executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_quantity") > 45)
          .select("l_orderkey"))
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" not in read_schema  # pruned
    assert "l_orderkey" in read_schema


def test_broadcast_join_in_dim_query(spark):
    plan = plan_of(QUERIES["join_broadcast_dim"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_fetch_join_never_shuffles_html(spark):
    """The scale-critical invariant: the html payload stays map-side."""
    pages = corpus.pages_df(spark, 200)
    seeds = seeds_to_frontier(spark, [corpus.page_url(i) for i in range(20)], 8)
    selected = select_topk_per_host(seeds, 5, 4)
    plan = plan_of(fetch_and_husk(selected, pages))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # any exchange in the plan must be on the selected side (pre-window),
    # never carrying the html column
    for chunk in plan.split("Exchange")[1:]:
        assert "_html" not in chunk.split("+-")[0]


def test_salted_topk_has_two_windows(spark):
    seeds = seeds_to_frontier(spark, [corpus.page_url(i) for i in range(30)], 8)
    plan = plan_of(select_topk_per_host(seeds, 5, salt_buckets=4))
    # phase 1 (host, salt) + phase 2 (host)
    assert plan.count("+- Window ") >= 2
    unsalted = plan_of(select_topk_per_host(seeds, 5, salt_buckets=None))
    assert unsalted.count("+- Window ") == 1
    # Spark 4 additionally prunes rank<=k map-side before the shuffle
    # (WindowGroupLimit Partial) — the builtin complement to A9 salting
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_partial_aggregation(spark):
    plan = plan_of(QUERIES["agg_pricing_summary"](spark, SF))
    # partial (map-side) + final HashAggregate around the exchange
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen(spark):
    plan = plan_of(QUERIES["agg_pricing_summary"](spark, SF), run=True)
    # '*(n)' markers = whole-stage-codegen stage ids in executed plans
    assert "*(1)" in plan and "*(2)" in plan
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_ann_broadcasts_queries(spark):
    plan = plan_of(QUERIES["ann_bruteforce_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_partial_min_before_shuffle(spark):
    plan = plan_of(QUERIES["dedup_minhash_signatures"](spark, SF), run=True)
    # min over strings plans as SortAggregate; either way partial+final
    assert plan.count("Aggregate") >= 2


def test_probe_seen_is_cogrouped_not_broadcast(spark):
    """A4/A5 scale invariant: candidates meet their bucket's filter blob
    via a co-partitioned cogroup — NO driver-dict broadcast of all blobs
    (round-1 design: ~12 GB broadcast at the 10^10-URL point)."""
    from pyspark.sql import types as T

    from sparkcrawl.frontier import drop_seen, probe_seen
    from sparkcrawl.schemas import SEEN_SET
    seeds = seeds_to_frontier(spark, [corpus.page_url(i) for i in range(20)], 8)
    seen = spark.createDataFrame([], SEEN_SET)
    plan = plan_of(drop_seen(probe_seen(seeds, seen), seeds))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Broadcast" not in plan.split("LeftAnti")[0]


def test_asof_is_union_window_not_expanding_join(spark):
    """join_asof must not contain a join at all — the union-and-window
    merge replaces the range join whose intermediate is
    |orders ≤ event| per event."""
    plan = plan_of(QUERIES["join_asof"](spark, SF))
    assert "Join" not in plan
    assert "Window" in plan and "Union" in plan


def test_lsh_pairs_single_signature_computation(spark):
    """Candidate pairs come from in-bucket combination explode, not a
    bands self-join — a join would re-run the whole shingle→minhash
    pipeline once per side (round-1 regression, measured 1.6× slower)."""
    plan = plan_of(QUERIES["dedup_minhash_lsh_pairs"](spark, SF))
    assert "Join" not in plan
    # shingling is array-op only: no window (shuffle+sort) to form grams
    assert "Window" not in plan


def test_ngram_topk_two_phase(spark):
    """The global top-50 must be computed in two phases: a hash-bucket
    pre-rank (parallel windows, rank≤50 pruned map-side) feeding one
    tiny final window — never a single-partition window over the full
    distinct-gram set."""
    plan = plan_of(QUERIES["text_ngram_topk"](spark, SF))
    assert "_bkt" in plan  # the gram hash bucket drives the pre-rank window
    # rank<=50 pruned map-side BEFORE the bucket shuffle
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the final global sort sees only the <=50×64 survivors: Catalyst
    # plans it as a bounded TakeOrderedAndProject, not a 1-partition sort
    assert "TakeOrderedAndProject(limit=50" in plan


def test_jaccard_candidates_are_lsh_not_allpairs(spark):
    """dedup_ngram_jaccard joins only on candidate doc ids / shingles —
    no theta/cross join over unbounded blocks."""
    plan = plan_of(QUERIES["dedup_ngram_jaccard"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_is_exchange_free(spark):
    """Both sides bucketed+sorted on the join key → the sort-merge join
    must need NO shuffle at all (the write-time bucket shuffle is paid
    once, not per query)."""
    from sparkcrawl.sources import bucketed_join_df
    plan = plan_of(bucketed_join_df(spark, SF))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_tfidf_window_is_group_limited(spark):
    """The per-doc top-3 must push a WindowGroupLimit below the exchange
    (two-phase top-k), and the df side must broadcast."""
    plan = plan_of(QUERIES["text_tfidf_topk"](spark, SF))
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "BroadcastHashJoin" in plan


def test_ivf_assignment_is_narrow(spark):
    """IVF cell assignment is an in-row argmax: the corpus side must
    reach the probe join with no Exchange, and the tiny probe side must
    broadcast.  The centroid model is gathered into ONE broadcast row
    (array<struct>), so its Exchange SinglePartition nodes carry
    ≤ n_cells rows — the only exchange allowed to touch row data is the
    final top-k window's query_id hash partitioning."""
    plan = plan_of(QUERIES["ann_ivf_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    data_exchanges = (plan.count("Exchange")
                      - plan.count("BroadcastExchange")
                      - plan.count("Exchange SinglePartition"))
    assert data_exchanges <= 1
    # the model gather must never be a literal array: codegen'd centroid
    # constants die at real cell counts
    assert "collect_list(struct(cid" in plan


def test_ivf_index_partition_prune(spark):
    """The persisted IVF index is a cell-partitioned table and the
    probe's scan must PRUNE on the probed cells — PartitionFilters on
    `cell`, not a post-scan filter over all partitions."""
    from sparkcrawl.textops import ivf_probe_scan
    probe, idx = ivf_probe_scan(spark, SF)
    plan = plan_of(idx)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cell" in pf and ("IN" in pf or "in(" in pf.lower()), pf


def test_ivf_upsert_touches_only_affected_partitions(spark):
    """Incremental index maintenance pin: the upsert commit's data dir
    contains ONLY the affected cell partitions (never a rebuild), the
    merged table equals the fresh assignment row-for-row (stale rows
    dead, batch rows live, everything else untouched), and the serve
    scan still prunes on the probed cells."""
    import os

    from sparkcrawl.textops import (IVF_N_CELLS, _assign_cells,
                                    _ivf_centroids, ivf_upsert_table)
    from sparkcrawl.registry import t as load

    tbl = ivf_upsert_table(spark, SF, upsert_mod=100)
    m = tbl.current_manifest()
    assert m["mode"] == "overwrite_partitions"
    last_dir = m["data_dirs"][-1]
    affected = set(m["overwrites"][last_dir])
    assert 0 < len(affected) < IVF_N_CELLS  # a real subset, not a rebuild
    on_disk = {int(d.split("=")[1]) for d in os.listdir(last_dir)
               if d.startswith("cell=")}
    assert on_disk <= affected
    # merged table ≡ fresh assignment
    e = load(spark, SF, "embeddings")
    fresh = {(r["vec_id"], r["cell"]) for r in
             _assign_cells(e, _ivf_centroids(e)).collect()}
    got = {(r["vec_id"], r["cell"]) for r in
           tbl.read(spark).select("vec_id", "cell").collect()}
    assert got == fresh
    # serve-time prune still lands in PartitionFilters
    plan = plan_of(tbl.read(spark).filter(F.col("cell").isin([1, 2])))
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cell" in pf, pf


def test_pq_index_partition_prune(spark):
    """The persisted IVF-PQ index is cell-partitioned and the serve scan
    must prune on the probed cells; its rows carry codes, never
    embeddings (the compressed-artifact contract)."""
    from sparkcrawl.registry import t as load
    from sparkcrawl.textops import pq_index_table

    tbl = pq_index_table(spark, SF)
    assert "embedding" not in tbl.schema.fieldNames()
    plan = plan_of(tbl.read(spark).filter(F.col("cell").isin([1, 2])))
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cell" in pf, pf
    # one row per vector, codes in [0, PQ_K)
    from sparkcrawl.textops import PQ_K, PQ_M
    rows = tbl.read(spark).collect()
    e = load(spark, SF, "embeddings")
    assert len(rows) == e.count()
    assert all(len(r["codes"]) == PQ_M
               and all(0 <= c < PQ_K for c in r["codes"]) for r in rows)


def test_pipeline_curate_mix_no_blowup(spark):
    """The composed curation pipeline must stay join-keyed end-to-end:
    no cartesian product or nested-loop join over row data (the only
    nested-loop joins allowed are the one-row broadcast model/threshold
    cross joins), and the lang-threshold join must broadcast."""
    plan = plan_of(QUERIES["pipeline_curate_mix"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every BroadcastNestedLoopJoin must be a single-row cross join
    # (model/threshold scalar), never a row-data join
    import re
    nlj = plan.count("BroadcastNestedLoopJoin")
    assert nlj <= 2, f"{nlj} nested-loop joins"


def test_dataset_mix_broadcasts_rates(spark):
    """The per-lang rate table must broadcast (it is langs-sized), the
    counts scan must prune to the lang column, and nothing may
    sort-merge — the mix decision is one map-side corpus pass."""
    plan = plan_of(QUERIES["text_dataset_mix"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "struct<lang:string>" in plan  # pruned counts scan


def test_span_winnow_no_pair_blowup(spark):
    """Duplicated-span detection joins fingerprint→doc-frequency, never
    doc×doc: no cartesian/nested-loop join may appear."""
    plan = plan_of(QUERIES["dedup_span_winnow"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_kmeans_train_converges(spark):
    """The tol>0 path must early-stop on the Σ|Δcentroid| witness well
    before the iteration cap, with movement decaying to ≤ tol."""
    from sparkcrawl.textops import embed_kmeans_train
    stats = {}
    df = embed_kmeans_train(spark, SF, n_iters=25, tol=0.05, stats=stats)
    assert df.count() > 0
    assert 0 < stats["n_updates"] < 24, stats
    assert stats["movements"][-1] <= 0.05
    # movement at the stop point is far below where it started
    assert stats["movements"][-1] < stats["movements"][0] / 10


def test_hive_partition_prune(spark):
    """The year predicate on the hive-partitioned layout must land in
    PartitionFilters (file-index pruning), not a post-scan Filter."""
    plan = plan_of(QUERIES["source_hive_partitioned"](spark, SF))
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "yr" in pf, pf
