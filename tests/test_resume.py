"""A18 checkpoint/resume (SURVEY §5.5): kill after round k (with partial
round-k+1 garbage), resume, final state identical to an uninterrupted run."""

import pytest
from pyspark.sql import functions as F

from sparkcrawl import corpus
from sparkcrawl.rounds import CrawlEngine
from sparkcrawl.schemas import ROBOTS

N = 150
BUDGET = 3


def _mk(spark, wd):
    return CrawlEngine(
        spark, str(wd),
        pages=corpus.pages_df(spark, N),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=BUDGET, n_buckets=8, salt_buckets=4)


def _frontier_state(spark, eng):
    return sorted(
        (r["url_hash"], r["discovered_round"], r["depth"])
        for r in eng.frontier.read(spark)
        .select("url_hash", "discovered_round", "depth").collect())


def test_resume_equals_uninterrupted(spark, tmp_path):
    straight = _mk(spark, tmp_path / "a")
    straight.init(corpus.seed_urls(N, 5))
    straight.run(3, stop_when_idle=False)

    crashed = _mk(spark, tmp_path / "b")
    crashed.init(corpus.seed_urls(N, 5))
    crashed.run(2, stop_when_idle=False)
    # simulate a crash mid-round-3: an append that never reached checkpoint
    junk = crashed.frontier.read(spark).limit(5) \
        .withColumn("discovered_round", F.lit(99))
    crashed.frontier.append(junk, 99)
    crashed.pending.replace(crashed.pending.read(spark).limit(1), 99)

    resumed = _mk(spark, tmp_path / "b")
    assert resumed.resume() == 2
    resumed.run_round()

    assert _frontier_state(spark, resumed) == _frontier_state(spark, straight)
    # filter state (seen table) also rolled back + rebuilt identically
    rb, sb = resumed.seen_blobs(), straight.seen_blobs()
    assert rb.keys() == sb.keys()
    for k in rb:
        assert rb[k] == sb[k]


def test_resume_without_checkpoint_raises(spark, tmp_path):
    eng = _mk(spark, tmp_path / "c")
    try:
        eng.resume()
        raised = False
    except FileNotFoundError:
        raised = True
    assert raised


@pytest.mark.parametrize("max_split", [None, "128mb"])
def test_round_restores_session_conf(spark, tmp_path, max_split):
    """init + one round leave spark.conf exactly as found — a key the
    session never set stays unset — and any size form Spark accepts for
    the split-size key ("128mb") is read, not choked on."""
    key = "spark.sql.files.maxPartitionBytes"
    if max_split:
        spark.conf.set(key, max_split)
    try:
        conf = dict(spark.conf.getAll)
        eng = _mk(spark, tmp_path / "d")
        eng.init(corpus.seed_urls(N, 5))
        assert eng.run_round()["urls_fetched"] > 0
        assert dict(spark.conf.getAll) == conf
    finally:
        if max_split:
            spark.conf.unset(key)
