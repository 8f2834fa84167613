"""Engine epoch cost: how many Spark jobs one plain store-path epoch submits."""

import pytest

from etherscan_contract_crawler_spark.engine import crawl
from etherscan_contract_crawler_spark.engine.crawl import CrawlEngine, EngineConfig

#: jobs the plain epoch below submits (16 measured on Spark 4.1)
MAX_PLAIN_EPOCH_JOBS = 16


def _job_ids(tracker, group):
    return set(tracker.getJobIdsForGroup(group))


@pytest.mark.slow
def test_plain_store_epoch_job_count(spark, tiny_seeds_df, tmp_path, monkeypatch):
    """Epochs 0-1 build the store and seed the expansion; epoch 2 is plain:
    store dedup over a multi-dir frontier, an incremental bloom build,
    hard-failed fetches that dead-letter, and link expansion. Its jobs are
    the group's (driver thread) plus the commit wave's (pool threads carry
    no job group, so they are the ungrouped ids submitted meanwhile)."""
    monkeypatch.setattr(crawl, "STORE_DEDUP_SEEN_RATIO", 0)
    eng = CrawlEngine(
        spark,
        EngineConfig(
            warehouse=str(tmp_path / "w"), n_buckets=16, epoch_duration_s=10,
            batch_size=120, expand_links=True,
        ),
    )
    eng.bootstrap(tiny_seeds_df)
    eng.run_epoch(0)
    eng.run_epoch(1)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = _job_ids(tracker, None)
    sc.setJobGroup("plain-epoch", "one plain store-path epoch")
    try:
        stats = eng.run_epoch(2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
    jobs = _job_ids(tracker, "plain-epoch") | (_job_ids(tracker, None) - before)
    assert len(jobs) <= MAX_PLAIN_EPOCH_JOBS, sorted(jobs)
    assert stats["scheduled"] == 120 and stats["failed"] > 0
    assert eng._store_version == 2  # the store plan ran, from version 2
