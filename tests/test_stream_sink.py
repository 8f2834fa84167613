"""The one streaming lander (streaming/sink.py) under both frontier legs:
crash-replay convergence, per-query replay guards on a shared frontier, and
one seen-table read per micro-batch."""

import datetime

import pytest

from etherscan_contract_crawler_spark.sources.blockstream import BLOCKS_DDL
from etherscan_contract_crawler_spark.sources.seeds import FRONTIER_DDL
from etherscan_contract_crawler_spark.storage.icetable import SnapshotTable
from etherscan_contract_crawler_spark.streaming.continuous import (
    DISCOVERED_SEEN_DDL,
    run_discovery_to_frontier,
)
from etherscan_contract_crawler_spark.streaming.feedpoll import (
    FEED_SEEN_DDL,
    run_feed_poll_to_frontier,
)


#: 40-hex addresses: the frontier projection rejects anything else
AAA1, BBB2 = "0x" + "AAA1" * 10, "0x" + "BBB2" * 10
FEED_FRONTIER_DDL = "url string, priority double, depth int"


def _write_blocks(spark, in_dir, addrs):
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, ts, f"0xt{i}", a, None, True) for i, a in enumerate(addrs)]
    spark.createDataFrame(rows, BLOCKS_DDL).coalesce(1).write.mode("append").parquet(in_dir)


def _write_feed(feed_dir, links):
    items = "\n".join(
        f"<item><title>{u}</title><link>{u}</link>"
        "<pubDate>Thu, 01 Jan 2026 00:00:00 GMT</pubDate></item>"
        for u in links
    )
    feed_dir.mkdir(parents=True, exist_ok=True)
    (feed_dir / "poll.xml").write_text(
        f'<?xml version="1.0"?>\n<rss><channel>\n{items}\n</channel></rss>'
    )


class _Discovery:
    frontier_key, frontier_ddl, seen_ddl = "url_sha1", FRONTIER_DDL, DISCOVERED_SEEN_DDL

    @staticmethod
    def write_input(spark, root):
        # BBB2 twice: an intra-batch duplicate the lander must collapse
        _write_blocks(spark, str(root / "in"), [AAA1, BBB2, BBB2])

    @staticmethod
    def start(spark, root, ckpt, frontier, seen):
        return run_discovery_to_frontier(
            spark, str(root / "in"), ckpt, frontier, seen, n_buckets=8, epoch=0,
            use_datasource=False,
        )


class _FeedPoll:
    frontier_key, frontier_ddl, seen_ddl = "url", FEED_FRONTIER_DDL, FEED_SEEN_DDL

    @staticmethod
    def write_input(spark, root):
        _write_feed(root / "feeds", ["https://x.com/a", "https://x.com/b", "https://x.com/b"])

    @staticmethod
    def start(spark, root, ckpt, frontier, seen):
        return run_feed_poll_to_frontier(spark, str(root / "feeds"), ckpt, frontier, seen)


def _tables(root, leg):
    frontier = SnapshotTable(str(root / "frontier"))
    frontier.create(leg.frontier_ddl)
    seen = SnapshotTable(str(root / "seen"))
    seen.create(leg.seen_ddl)
    return frontier, seen


def _rows(spark, table):
    return sorted(tuple(r) for r in table.read(spark).collect())


def _crash_seen_write_once(monkeypatch, seen, after_write):
    """Make the seen table's first write raise: before it lands (the crash
    falls right after the frontier append) or after it lands (before the
    micro-batch commits), whichever write the lander uses: append or
    merge_not_matched."""
    fired = []
    for name in ("append", "merge_not_matched"):
        real = getattr(seen, name)

        def write(*a, _real=real, **kw):
            if fired:
                return _real(*a, **kw)
            fired.append(True)
            if after_write:
                _real(*a, **kw)
            raise RuntimeError("injected crash in the seen write")

        monkeypatch.setattr(seen, name, write)


@pytest.mark.parametrize("leg", [_Discovery, _FeedPoll], ids=["discovery", "feedpoll"])
@pytest.mark.parametrize("after_write", [False, True], ids=["after_frontier", "after_seen"])
def test_crash_replay_converges_to_uncrashed(spark, tmp_path, monkeypatch, leg, after_write):
    clean = tmp_path / "clean"
    leg.write_input(spark, clean)
    want_frontier, want_seen = _tables(clean, leg)
    leg.start(spark, clean, str(clean / "ckpt"), want_frontier, want_seen).awaitTermination(120)

    root = tmp_path / "crashed"
    leg.write_input(spark, root)
    frontier, seen = _tables(root, leg)
    _crash_seen_write_once(monkeypatch, seen, after_write)
    with pytest.raises(Exception, match="injected crash"):
        leg.start(spark, root, str(root / "ckpt"), frontier, seen).awaitTermination(120)
    # restart on the same checkpoint: the uncommitted micro-batch replays
    leg.start(spark, root, str(root / "ckpt"), frontier, seen).awaitTermination(120)

    keys = [r[leg.frontier_key] for r in frontier.read(spark).collect()]
    assert len(keys) == len(set(keys)) == 2, f"frontier duplicated on replay: {keys}"
    assert _rows(spark, frontier) == _rows(spark, want_frontier)
    assert _rows(spark, seen) == _rows(spark, want_seen)


def test_queries_sharing_a_frontier_keep_their_own_guard(spark, tmp_path):
    """Two discovery queries (two checkpoints) into one frontier and seen
    table: each query's batch 0 lands — one query's guard never skips the
    other's batch."""
    frontier, seen = _tables(tmp_path, _Discovery)
    for name, addr in (("a", AAA1), ("b", BBB2)):
        root = tmp_path / name
        _write_blocks(spark, str(root / "in"), [addr])
        _Discovery.start(spark, root, str(root / "ckpt"), frontier, seen).awaitTermination(120)
    assert {r.address for r in seen.read(spark).collect()} == {AAA1.lower(), BBB2.lower()}
    assert frontier.read(spark).count() == 2


def test_one_seen_read_per_micro_batch(spark, tmp_path, monkeypatch):
    frontier, seen = _tables(tmp_path, _Discovery)
    _Discovery.write_input(spark, tmp_path)
    reads = []
    real_read = seen.read

    def counted_read(*a, **kw):
        reads.append(True)
        return real_read(*a, **kw)

    monkeypatch.setattr(seen, "read", counted_read)
    q = _Discovery.start(spark, tmp_path, str(tmp_path / "ckpt"), frontier, seen)
    q.awaitTermination(120)
    # the data batch, plus the no-data batch that advances the watermark
    batches = {p["batchId"] for p in q.recentProgress}
    assert 0 in batches
    assert len(reads) == len(batches)


def test_no_data_batch_lands_nothing(spark, tmp_path):
    """A drain runs the data batch and a no-data batch that advances the
    watermark; only the data batch adds a snapshot and a data dir."""
    frontier, seen = _tables(tmp_path, _Discovery)
    _Discovery.write_input(spark, tmp_path)
    q = _Discovery.start(spark, tmp_path, str(tmp_path / "ckpt"), frontier, seen)
    q.awaitTermination(120)
    assert len({p["batchId"] for p in q.recentProgress}) >= 2
    for table in (frontier, seen):
        assert len(table.snapshot_ids()) == 2  # create + the data batch
        assert len(table.manifest()["data_dirs"]) == 1
