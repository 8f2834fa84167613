"""Resumability: mid-epoch crash replay and cross-run resume (SURVEY.md §5.5)."""

from pyspark.sql import functions as F

import pytest

from etherscan_contract_crawler_spark.engine.crawl import CrawlEngine, EngineConfig
from etherscan_contract_crawler_spark.operators.fetch import IMAGES_DDL, fetch_batch
from etherscan_contract_crawler_spark.operators.politeness import schedule_epoch


def _engine(spark, tmp_path, name, **kw):
    return CrawlEngine(
        spark, EngineConfig(warehouse=str(tmp_path / name), n_buckets=16, **kw)
    )


@pytest.mark.slow
def test_resume_after_epochs(spark, tiny_seeds_df, tmp_path):
    """Run 2 epochs, 'restart' (new engine object), finish; compare with an
    uninterrupted run."""
    a = _engine(spark, tmp_path, "a", epoch_duration_s=10, batch_size=120)
    a.bootstrap(tiny_seeds_df)
    a.run_epoch(0)
    a.run_epoch(1)
    a2 = _engine(spark, tmp_path, "a", epoch_duration_s=10, batch_size=120)
    assert a2.last_completed_epoch() == 1
    a2.run(max_epochs=20)

    b = _engine(spark, tmp_path, "b", epoch_duration_s=10, batch_size=120)
    b.bootstrap(tiny_seeds_df)
    b.run(max_epochs=20)

    for t in ("url_seen", "images", "dead_letter"):
        ka = {tuple(r) for r in getattr(a2, t).read(spark).drop("seen_epoch", "failed_epoch").collect()}
        kb = {tuple(r) for r in getattr(b, t).read(spark).drop("seen_epoch", "failed_epoch").collect()}
        assert ka == kb, t


@pytest.mark.slow
def test_mid_epoch_crash_replay_is_idempotent(spark, tiny_seeds_df, tmp_path):
    """Simulate a crash after the images commit but before the url_seen
    commit — through the engine's ACTUAL landing path (staged write +
    commit_staged with epoch lineage, exactly what run_epoch does), so the
    lineage-gated O(epoch) replay guard is what's under test. Replaying the
    epoch must not duplicate anything."""
    import os

    eng = _engine(spark, tmp_path, "c", epoch_duration_s=10, batch_size=120)
    eng.bootstrap(tiny_seeds_df)
    eng.run_epoch(0)

    # partial epoch 1: land payloads the way run_epoch does, then "crash"
    scheduled = schedule_epoch(eng.pending(), epoch_duration_s=10, batch_size=120)
    results = fetch_batch(scheduled)
    sid, raw_dir = eng.images.staging_raw_dir()
    (
        results.write.mode("overwrite")
        .option("compression", "none")
        .partitionBy("valid")
        .parquet(raw_dir)
    )
    eng.images.commit_staged(
        sid, os.path.join(raw_dir, "valid=true"), lineage={"epoch": 1}
    )
    images_after_partial = eng.images.read(spark).count()

    # restart: lineage still says epoch 0 completed -> epoch 1 replays
    eng2 = _engine(spark, tmp_path, "c", epoch_duration_s=10, batch_size=120)
    assert eng2.last_completed_epoch() == 0
    s = eng2.run_epoch(1)
    assert s["scheduled"] > 0
    # replay inserted nothing new into images (idempotent merge)
    assert eng2.images.read(spark).count() == images_after_partial
    # and images have no duplicate ids
    total = eng2.images.read(spark).count()
    distinct = eng2.images.read(spark).select("image_id").distinct().count()
    assert total == distinct


def test_frontier_offsets_monotonic(spark, tiny_seeds_df, tmp_path):
    eng = _engine(spark, tmp_path, "d", epoch_duration_s=10, batch_size=100)
    eng.bootstrap(tiny_seeds_df)
    eng.run_epoch(0)
    off0 = eng.url_seen.lineage()["frontier_offsets"]
    eng.run_epoch(1)
    off1 = eng.url_seen.lineage()["frontier_offsets"]
    assert sum(off1.values()) >= sum(off0.values())
    assert sum(off0.values()) == 100  # batch_size rows scheduled in epoch 0


@pytest.mark.slow
def test_maintenance_preserves_results_and_bounds_dirs(spark, tiny_seeds_df, tmp_path):
    """Engine compaction cadence (maintain): same final tables as a run with
    maintenance disabled, metadata dirs bounded, and resume keeps working
    from a compacted state (lineage survives)."""
    from etherscan_contract_crawler_spark.engine.crawl import CrawlEngine, EngineConfig

    a = CrawlEngine(
        spark,
        EngineConfig(
            warehouse=str(tmp_path / "m_on"), n_buckets=16, epoch_duration_s=10,
            batch_size=60, expand_links=True, compact_every=2,
        ),
    )
    a.bootstrap(tiny_seeds_df)
    a.run(max_epochs=5)
    # resume from the compacted state: lineage must still drive the epoch
    a2 = CrawlEngine(
        spark,
        EngineConfig(
            warehouse=str(tmp_path / "m_on"), n_buckets=16, epoch_duration_s=10,
            batch_size=60, expand_links=True, compact_every=2,
        ),
    )
    assert a2.last_completed_epoch() == 4
    a2.run(max_epochs=3)

    b = CrawlEngine(
        spark,
        EngineConfig(
            warehouse=str(tmp_path / "m_off"), n_buckets=16, epoch_duration_s=10,
            batch_size=60, expand_links=True, compact_every=10**9,
        ),
    )
    b.bootstrap(tiny_seeds_df)
    b.run(max_epochs=8)

    for t in ("url_seen", "images", "dead_letter"):
        ka = {
            tuple(r)
            for r in getattr(a2, t).read(spark).drop("seen_epoch", "failed_epoch").collect()
        }
        kb = {
            tuple(r)
            for r in getattr(b, t).read(spark).drop("seen_epoch", "failed_epoch").collect()
        }
        assert ka == kb, t
    # metadata tables stay bounded under the cadence; without it they accrete
    assert len(a2.url_seen.manifest()["data_dirs"]) <= 4
    assert len(b.url_seen.manifest()["data_dirs"]) >= 8
    assert len(a2.segments.versions()) <= 2


@pytest.mark.slow
def test_double_crash_same_epoch_replay_is_idempotent(spark, tiny_seeds_df, tmp_path):
    """TWO crashes inside the images-commit -> url_seen-append window of the
    same epoch (r2 ADVICE): attempt 1 lands a partial dir, attempt 2 lands
    the remainder as a SECOND same-epoch dir, and the final replay must
    anti-join the UNION of both dirs — guarding only the last one would
    re-fetch and re-commit attempt 1's payloads (duplicate image_id rows)."""
    import os

    eng = _engine(spark, tmp_path, "dc", epoch_duration_s=10, batch_size=120)
    eng.bootstrap(tiny_seeds_df)
    eng.run_epoch(0)

    def _land(subset_df, epoch):
        results = fetch_batch(subset_df)
        sid, raw_dir = eng.images.staging_raw_dir()
        (
            results.write.mode("overwrite")
            .option("compression", "none")
            .partitionBy("valid")
            .parquet(raw_dir)
        )
        eng.images.commit_staged(
            sid, os.path.join(raw_dir, "valid=true"), lineage={"epoch": epoch}
        )

    scheduled = schedule_epoch(eng.pending(), epoch_duration_s=10, batch_size=120)
    scheduled = scheduled.cache()
    # attempt 1: land ~a third of the batch, crash before url_seen
    part1 = scheduled.orderBy("url_sha1").limit(40).cache()
    _land(part1, 1)
    # attempt 2 (replay): guard skips attempt 1's keys, lands the REST as a
    # second epoch-1 dir, crashes again before url_seen
    _land(scheduled.join(part1.select("url_sha1"), "url_sha1", "left_anti"), 1)
    manifest = eng.images.manifest()
    epoch1_dirs = [
        d for d in manifest["data_dirs"] if manifest.get("dir_epochs", {}).get(d) == 1
    ]
    assert len(epoch1_dirs) == 2, "test setup: two same-epoch data dirs"
    images_after_partials = eng.images.read(spark).count()

    # final replay: lineage still says epoch 0 completed -> epoch 1 replays
    eng2 = _engine(spark, tmp_path, "dc", epoch_duration_s=10, batch_size=120)
    assert eng2.last_completed_epoch() == 0
    s = eng2.run_epoch(1)
    assert s["scheduled"] > 0
    total = eng2.images.read(spark).count()
    distinct = eng2.images.read(spark).select("image_id").distinct().count()
    assert total == distinct, "replay re-landed payloads from the first crash dir"
    assert total == images_after_partials
    scheduled.unpersist()
    part1.unpersist()


@pytest.mark.slow
def test_crash_after_dead_letter_append_replays_to_same_state(
    spark, tiny_seeds_df, tmp_path, monkeypatch
):
    """Crash in the commit wave AFTER the dead-letter append landed and
    before url_seen's commit (the epoch-completion marker). The replayed
    epoch re-fails the same keys; its dead-letter append must skip what the
    crashed attempt landed (this epoch's stamped dirs), and expansion must
    still discover each child once. Dead letters and frontier must equal an
    uncrashed run's, key-unique."""
    from etherscan_contract_crawler_spark.storage.icetable import SnapshotTable

    kw = dict(epoch_duration_s=10, batch_size=120, expand_links=True)
    crash_epoch, last_epoch = 2, 3  # epoch 2 has a hard-failed fetch

    ref = _engine(spark, tmp_path, "ref", **kw)
    ref.bootstrap(tiny_seeds_df)
    for e in range(last_epoch + 1):
        ref.run_epoch(e)

    eng = _engine(spark, tmp_path, "crash", **kw)
    eng.bootstrap(tiny_seeds_df)
    for e in range(crash_epoch):
        eng.run_epoch(e)
    commit_append = SnapshotTable.commit_append
    armed = [True]

    def crash_once(self, sid, d, lineage=None):
        if armed[0] and self.path == eng.url_seen.path:
            armed[0] = False
            raise RuntimeError("injected crash before the url_seen commit")
        return commit_append(self, sid, d, lineage)

    monkeypatch.setattr(SnapshotTable, "commit_append", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        eng.run_epoch(crash_epoch)
    dead = eng.dead_letter.manifest()
    assert crash_epoch in dead["dir_epochs"].values(), "setup: dead letters landed"
    assert eng.last_completed_epoch() == crash_epoch - 1

    eng2 = _engine(spark, tmp_path, "crash", **kw)
    for e in range(crash_epoch, last_epoch + 1):
        eng2.run_epoch(e)

    for t in ("dead_letter", "frontier", "url_seen"):
        got = [tuple(r) for r in getattr(eng2, t).read(spark).collect()]
        want = [tuple(r) for r in getattr(ref, t).read(spark).collect()]
        assert sorted(got) == sorted(want), t
        keys = [r["url_sha1"] for r in getattr(eng2, t).read(spark).collect()]
        assert len(keys) == len(set(keys)), f"{t} not key-unique"
    n_dead = {r["failed_epoch"]: r["n"] for r in
              eng2.dead_letter.read(spark).groupBy("failed_epoch").agg(F.count("*").alias("n")).collect()}
    assert n_dead.get(crash_epoch, 0) > 0
