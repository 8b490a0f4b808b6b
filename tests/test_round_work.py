"""Each crawl round does each piece of work once: the Python seen-probe
runs once per bucket (its output feeds both branches of the dedupe
union), and an idle round's counters are zero without hanging on the
metrics write that carries them."""

from sparkcrawl import bloom, corpus
from sparkcrawl.rounds import CrawlEngine
from sparkcrawl.schemas import ROBOTS

N, BUDGET, ROUNDS = 120, 3, 3
COUNTERS = ("urls_selected", "urls_denied", "urls_fetched",
            "urls_extracted", "links_found", "links_new")


def _engine(spark, tmp_path):
    return CrawlEngine(
        spark, str(tmp_path / "wd"),
        pages=corpus.pages_df(spark, N),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=BUDGET, n_buckets=8, salt_buckets=4)


def test_seen_probe_runs_once_per_bucket(spark, tmp_path, monkeypatch):
    """contains_fn is called once per bucket that has a filter, per
    round — a probe read by both dedupe branches unpersisted runs 2×."""
    calls = spark.sparkContext.accumulator(0)
    contains_many = bloom.contains_many

    def counting(blob, hashes):
        calls.add(1)
        return contains_many(blob, hashes)

    monkeypatch.setattr(bloom, "contains_many", counting)
    eng = _engine(spark, tmp_path)
    eng.init(corpus.seed_urls(N, 5))
    for _ in range(ROUNDS):
        buckets = eng.seen.read(spark).count()
        before = calls.value
        s = eng.run_round()
        assert calls.value - before == buckets, s["round"]
    assert buckets > 1


def test_idle_round_counts_zero(spark, tmp_path):
    """Seeds outside the corpus are all selected (or denied) in round 1
    and yield no links, so round 2 starts with nothing pending."""
    seeds = [corpus.page_url(N + i) for i in range(6)]
    eng = _engine(spark, tmp_path)
    eng.init(seeds)
    first, idle = eng.run(2, stop_when_idle=False)
    assert first["urls_selected"] + first["urls_denied"] == len(seeds)
    assert first["urls_fetched"] == 0 and first["pending"] == 0
    assert {c: idle[c] for c in COUNTERS} == dict.fromkeys(COUNTERS, 0)
    assert idle["pending"] == 0
