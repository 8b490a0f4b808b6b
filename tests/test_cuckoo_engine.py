"""Engine-level cuckoo-backend check: same crawl, seen_filter='cuckoo'
must produce the identical seen-set/selected sets as the model oracle
(the filter is an optimization — semantics must not depend on backend)."""

from sparkcrawl import corpus, model_crawler
from sparkcrawl.rounds import CrawlEngine
from sparkcrawl.schemas import ROBOTS

N, BUDGET, ROUNDS = 120, 3, 3


def test_cuckoo_backend_parity(spark, tmp_path):
    eng = CrawlEngine(
        spark, str(tmp_path / "wd"),
        pages=corpus.pages_df(spark, N),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=BUDGET, n_buckets=8, salt_buckets=4,
        seen_filter="cuckoo")
    eng.init(corpus.seed_urls(N, 5))
    eng.run(ROUNDS, stop_when_idle=False)

    model = model_crawler.crawl(
        corpus.pages_dict(N), corpus.seed_urls(N, 5),
        {h: r for h, _, r in corpus.robots_rows()}, BUDGET, ROUNDS)

    eng_seen = {r["url_hash"] for r in
                eng.frontier.read(spark).select("url_hash").collect()}
    assert eng_seen == set(model.frontier.keys())

    flog = eng.fetchlog.read(spark).collect()
    eng_sel = {}
    for row in flog:
        if row["status"] != "ROBOTS_DENIED":
            eng_sel.setdefault(row["round"], set()).add(row["url_hash"])
    for rs in model.rounds:
        assert eng_sel.get(rs["round"], set()) == set(rs["selected_hashes"])


def test_cuckoo_overflow_degrades_not_dies(spark, tmp_path):
    """A bucket whose cuckoo filter saturates must become a SATURATED
    marker (n_items = -1) routing its candidates through the exact
    anti-join — NOT raise OverflowError mid-crawl.  The rebuild replaces
    the marker within the same round, so the marker is looked for in the
    earlier seen snapshots.  Crawl results stay identical to the model
    oracle (filters are an optimization)."""
    eng = CrawlEngine(
        spark, str(tmp_path / "wd"),
        pages=corpus.pages_df(spark, N),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=BUDGET, n_buckets=2, salt_buckets=4,
        seen_filter="cuckoo",
        bloom_capacity_per_bucket=8)  # ~32-slot filters: guaranteed overflow
    eng.init(corpus.seed_urls(N, 5))
    eng.run(ROUNDS, stop_when_idle=False)  # must not raise

    snapshots = range(eng.seen.current_snapshot_id() + 1)
    assert any(r["n_items"] < 0
               for sid in snapshots
               for r in eng.seen.read(spark, snapshot_id=sid).collect()), \
        "expected at least one saturated bucket at capacity 8"

    model = model_crawler.crawl(
        corpus.pages_dict(N), corpus.seed_urls(N, 5),
        {h: r for h, _, r in corpus.robots_rows()}, BUDGET, ROUNDS)
    eng_seen = {r["url_hash"] for r in
                eng.frontier.read(spark).select("url_hash").collect()}
    assert eng_seen == set(model.frontier.keys())


def test_saturated_bucket_takes_exact_path(spark):
    """probe_seen on a SATURATED marker (n_items = -1, empty blob) flags
    every candidate of that bucket maybe-seen, without touching the
    filter, so drop_seen settles all of them with the exact anti-join:
    frontier keys drop, new keys stay."""
    from sparkcrawl.frontier import drop_seen, probe_seen, seeds_to_frontier
    from sparkcrawl.schemas import SEEN_SET

    urls = [corpus.page_url(i) for i in range(40)]
    cands = seeds_to_frontier(spark, urls, 1)  # one bucket: 0
    frontier = seeds_to_frontier(spark, urls[:20], 1)
    seen = spark.createDataFrame(
        [(0, 1, bytearray(), -1, 0.01)], SEEN_SET)

    def no_filter(blob, hashes):
        raise AssertionError("a saturated bucket has no filter to probe")

    flagged = probe_seen(cands, seen, contains_fn=no_filter)
    assert [r["maybe_seen"] for r in flagged.collect()] == [True] * 40
    kept = {r["url_hash"] for r in drop_seen(flagged, frontier).collect()}
    new = {r["url_hash"] for r in cands.collect()} - {
        r["url_hash"] for r in frontier.collect()}
    assert len(new) == 20 and kept == new


def test_cuckoo_overflow_rebuilds_fast_path(spark, tmp_path):
    """Default behavior: an overflowed bucket is rebuilt at 2× geometry
    from the authoritative frontier keys, RECOVERING its fast path —
    no bucket stays anti-join-only, the rebuilt filter contains every
    frontier key of its bucket, and parity with the model oracle holds."""
    import numpy as np

    from sparkcrawl import cuckoo

    eng = CrawlEngine(
        spark, str(tmp_path / "wd"),
        pages=corpus.pages_df(spark, N),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=BUDGET, n_buckets=2, salt_buckets=4,
        seen_filter="cuckoo",
        bloom_capacity_per_bucket=8)  # same guaranteed-overflow geometry
    eng.init(corpus.seed_urls(N, 5))
    eng.run(ROUNDS, stop_when_idle=False)

    seen_rows = eng.seen.read(spark).collect()
    assert seen_rows and all(r["n_items"] >= 0 for r in seen_rows), \
        "saturated buckets did not recover their fast path"
    # exactness of the recovered fast path: every frontier key probes
    # positive in its bucket's rebuilt filter (no false negatives)
    blobs = {r["partition_id"]: bytes(r["bloom"]) for r in seen_rows}
    fr = eng.frontier.read(spark).select("host_bucket", "url_hash").collect()
    for b in {r["host_bucket"] for r in fr}:
        hs = np.array([r["url_hash"] for r in fr if r["host_bucket"] == b])
        assert cuckoo.contains_many(blobs[b], hs).all()

    model = model_crawler.crawl(
        corpus.pages_dict(N), corpus.seed_urls(N, 5),
        {h: r for h, _, r in corpus.robots_rows()}, BUDGET, ROUNDS)
    eng_seen = {r["url_hash"] for r in
                eng.frontier.read(spark).select("url_hash").collect()}
    assert eng_seen == set(model.frontier.keys())
