"""Crawl-parity tests (SURVEY §5.3): the distributed engine must match the
single-threaded model crawler exactly — per-round selected-URL sets,
ROBOTS_DENIED sets, round-of-first-fetch per URL, the final URL-seen set,
and byte-identical extracted text [BASELINE.json:14].

Also the skew test (§5.7): host0 owns ~50% of the corpus; the per-host
politeness budget must never be exceeded in any round.
"""

import pytest
from pyspark.sql import functions as F

from sparkcrawl import corpus, model_crawler
from sparkcrawl.rounds import CrawlEngine
from sparkcrawl.schemas import ROBOTS

N = 250
BUDGET = 4
ROUNDS = 4


COUNTERS = ("urls_selected", "urls_denied", "urls_fetched",
            "urls_extracted", "links_found", "links_new")


@pytest.fixture(scope="module")
def crawl_run(spark, tmp_path_factory):
    """The engine after ROUNDS rounds, and the summaries run() returned."""
    wd = str(tmp_path_factory.mktemp("crawl"))
    eng = CrawlEngine(
        spark, wd,
        pages=corpus.pages_df(spark, N),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=BUDGET, n_buckets=8, salt_buckets=4)
    eng.init(corpus.seed_urls(N, 6))
    return eng, eng.run(ROUNDS, stop_when_idle=False)


@pytest.fixture(scope="module")
def engine(crawl_run):
    return crawl_run[0]


@pytest.fixture(scope="module")
def model():
    return model_crawler.crawl(
        corpus.pages_dict(N), corpus.seed_urls(N, 6),
        {h: r for h, _, r in corpus.robots_rows()}, BUDGET, ROUNDS)


def test_seed_dedupe_min_raw_url_lockstep(spark):
    """Canonical-duplicate seeds: BOTH sides must keep the MIN raw url
    per hash (engine: min-struct in seeds_to_frontier; model: min-url
    rule in crawl's seed loop) — not first-in-list order."""
    from sparkcrawl.frontier import seeds_to_frontier
    seeds = ["http://example.com/x", "HTTP://EXAMPLE.com/x",
             "http://example.com/y"]
    eng = {r["url_hash"]: r["url"]
           for r in seeds_to_frontier(spark, seeds, 4).collect()}
    st = model_crawler.crawl({}, seeds, {}, 1, 0)
    assert eng == {h: rec.url for h, rec in st.frontier.items()}
    assert "HTTP://EXAMPLE.com/x" in eng.values()  # the min raw survivor


def test_per_round_selected_sets(spark, engine, model):
    flog = engine.fetchlog.read(spark).collect()
    eng_sel, eng_den = {}, {}
    for row in flog:
        d = eng_den if row["status"] == "ROBOTS_DENIED" else eng_sel
        d.setdefault(row["round"], set()).add(row["url_hash"])
    for rs in model.rounds:
        assert eng_sel.get(rs["round"], set()) == set(rs["selected_hashes"]), \
            f"selected mismatch round {rs['round']}"
        assert eng_den.get(rs["round"], set()) == set(rs["denied_hashes"]), \
            f"denied mismatch round {rs['round']}"


def test_final_seen_set(spark, engine, model):
    eng_seen = {r["url_hash"] for r in
                engine.frontier.read(spark).select("url_hash").collect()}
    assert eng_seen == set(model.frontier.keys())


def test_round_of_first_fetch(spark, engine, model):
    eng_round = {r["url_hash"]: r["round"] for r in
                 engine.extracted.read(spark).select("url_hash", "round").collect()}
    model_round = {h: rec.fetched_round for h, rec in model.frontier.items()
                   if rec.status == "FETCHED"}
    assert eng_round == model_round


def test_extracted_text_byte_identical(spark, engine, model):
    eng_text = {r["url_hash"]: r["text"] for r in
                engine.extracted.read(spark).select("url_hash", "text").collect()}
    for h, rec in model.frontier.items():
        if rec.status == "FETCHED":
            assert eng_text[h] == rec.text, rec.url_canon


def test_depth_and_lineage(spark, engine, model):
    rows = engine.frontier.read(spark).select(
        "url_hash", "depth", "seed_distance", "lineage_src_url_hash").collect()
    for r in rows:
        rec = model.frontier[r["url_hash"]]
        assert (r["depth"], r["seed_distance"]) == (rec.depth, rec.seed_distance)
        assert r["lineage_src_url_hash"] == rec.lineage_src_url_hash


def test_politeness_budget_never_exceeded(spark, engine):
    # the skew guard: host0 owns ~50% of URLs, yet per-round per-host
    # selections must stay ≤ budget
    over = (
        engine.fetchlog.read(spark)
        .filter(F.col("status") != "ROBOTS_DENIED")
        .groupBy("round", "host").count()
        .filter(F.col("count") > BUDGET).count()
    )
    assert over == 0


def test_heavy_host_is_actually_heavy():
    hosts = [corpus.page_host(i) for i in range(1000)]
    assert 0.4 < hosts.count(0) / len(hosts) < 0.6


def _metrics_per_round(spark, engine):
    return {r["round"]: r.asDict() for r in
            engine.metrics.read(spark).groupBy("round").agg(
                *[F.sum(c).alias(c) for c in COUNTERS]).collect()}


def test_metrics_match_model(spark, engine, model):
    eng = _metrics_per_round(spark, engine)
    for rs in model.rounds:
        e = eng[rs["round"]]
        for k in ("urls_selected", "urls_fetched", "urls_extracted",
                  "links_found", "links_new"):
            assert e[k] == rs[k], (rs["round"], k)
        assert e["urls_denied"] == len(rs["denied_hashes"]), rs["round"]
        assert e["urls_extracted"] == e["urls_fetched"], rs["round"]


def test_round_summaries_match_metrics_table(spark, crawl_run):
    """The summary counters run() returns (observed on the metrics
    write) equal the metrics table's per-round sums."""
    engine, summaries = crawl_run
    eng = _metrics_per_round(spark, engine)
    assert [s["round"] for s in summaries] == list(range(1, ROUNDS + 1))
    for s in summaries:
        assert {c: s[c] for c in COUNTERS} == {
            c: eng[s["round"]][c] for c in COUNTERS}, s["round"]
