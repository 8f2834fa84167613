"""Streaming monitor: discovery semantics, BOUNDED stateful dedup, restart
resume, long-tail seen-table dedup (through the frontier leg), and the
custom Python DataSource source."""

import pytest
import datetime
import os

from etherscan_contract_crawler_spark.sources.blockstream import (
    BLOCKS_DDL,
    write_block_file,
)
from etherscan_contract_crawler_spark.sources.seeds import FRONTIER_DDL
from etherscan_contract_crawler_spark.storage.icetable import SnapshotTable
from etherscan_contract_crawler_spark.streaming.continuous import (
    DISCOVERED_SEEN_DDL,
    run_discovery_to_frontier,
)
from etherscan_contract_crawler_spark.streaming.monitor import (
    discovered_to_frontier,
    monitor_transform,
    run_monitor_stream,
)


def _ts(minute, hour=12):
    return datetime.datetime(2024, 1, 1, hour, minute, 0)


def _blocks(spark, rows):
    return spark.createDataFrame(rows, BLOCKS_DDL)


ROWS_A = [
    # creation tx (to is null) — emitted even without code_present (B7)
    (1, _ts(0), "0xt1", None, "0xAAA1", False),
    # call tx to a contract — emitted lowercased
    (1, _ts(0), "0xt2", "0xBBB2", None, True),
    # call tx to an EOA (no code) — dropped
    (1, _ts(0), "0xt3", "0xCCC3", None, False),
    # duplicate call address within the watermark — deduped by state
    (2, _ts(1), "0xt4", "0xBBB2", None, True),
]


def test_monitor_transform_semantics(spark):
    out = monitor_transform(_blocks(spark, ROWS_A)).collect()
    addrs = sorted(r.address for r in out)
    assert addrs == ["0xaaa1", "0xbbb2", "0xbbb2"]  # batch transform: no dedup


def test_monitor_stream_dedup_and_resume(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    _blocks(spark, ROWS_A).coalesce(1).write.mode("append").parquet(in_dir)
    q = run_monitor_stream(spark, in_dir, ckpt, out_dir)
    q.awaitTermination(120)
    got = {r.address for r in spark.read.parquet(out_dir).collect()}
    assert got == {"0xaaa1", "0xbbb2"}

    # restart with new data: address seen within the watermark stays deduped
    more = [
        (3, _ts(2), "0xt5", "0xBBB2", None, True),  # dup across restart
        (3, _ts(2), "0xt6", "0xDDD4", None, True),  # new
    ]
    _blocks(spark, more).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = run_monitor_stream(spark, in_dir, ckpt, out_dir)
    q2.awaitTermination(120)
    got2 = sorted(r.address for r in spark.read.parquet(out_dir).collect())
    assert got2 == ["0xaaa1", "0xbbb2", "0xddd4"]


def test_dedup_state_bounded_by_watermark(spark, tmp_path):
    """r1 VERDICT #5 'done' criterion: two-run restart, state size must track
    the watermark window, NOT total history (plain dropDuplicates would hold
    all 120 addresses; dropDuplicatesWithinWatermark must expire run 1's)."""
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    rows1 = [(1, _ts(0, hour=9), f"0xt{i}", f"0xa{i:03d}", None, True) for i in range(60)]
    _blocks(spark, rows1).coalesce(1).write.mode("append").parquet(in_dir)
    q = run_monitor_stream(spark, in_dir, ckpt, out_dir, watermark_delay="10 minutes")
    q.awaitTermination(120)

    # run 2: an hour later — far beyond the watermark window
    rows2 = [(2, _ts(0, hour=11), f"0xu{i}", f"0xb{i:03d}", None, True) for i in range(60)]
    _blocks(spark, rows2).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = run_monitor_stream(spark, in_dir, ckpt, out_dir, watermark_delay="10 minutes")
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 120
    state_rows = None
    for p in q2.recentProgress:
        if p.get("stateOperators"):
            state_rows = p["stateOperators"][0]["numRowsTotal"]
    assert state_rows is not None
    # run 1's 60 addresses expired when the watermark advanced past them
    assert state_rows <= 70, f"state grew with history: {state_rows} rows"


@pytest.mark.slow
def test_long_tail_dedup_via_seen_table(spark, tmp_path):
    """An address recurring AFTER watermark expiry is still deduped — by the
    durable seen table the frontier leg anti-joins in foreachBatch, which
    also survives restarts."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    frontier = SnapshotTable(str(tmp_path / "frontier"))
    frontier.create(FRONTIER_DDL)
    seen = SnapshotTable(str(tmp_path / "seen"))
    seen.create(DISCOVERED_SEEN_DDL)

    def drain(rows, epoch):
        _blocks(spark, rows).coalesce(1).write.mode("append").parquet(in_dir)
        run_discovery_to_frontier(
            spark, in_dir, ckpt, frontier, seen, n_buckets=8, epoch=epoch,
            watermark_delay="10 minutes", use_datasource=False,
        ).awaitTermination(120)

    # 40-hex addresses: the frontier projection rejects anything else
    aaa1, ccc3, eee5 = ("0x" + a * 10 for a in ("AAA1", "CCC3", "EEE5"))
    drain([(1, _ts(0, hour=9), "0xt1", aaa1, None, True)], 0)
    # an hour later: the watermark (10:00 - 10 min) passes aaa1's state expiry
    # (9:10), so the state forgets it
    drain([(2, _ts(0, hour=10), "0xt2", ccc3, None, True)], 1)
    # aaa1 again: only the seen-table anti-join can stop it
    drain([
        (3, _ts(0, hour=11), "0xt3", aaa1, None, True),
        (3, _ts(0, hour=11), "0xt4", eee5, None, True),
    ], 2)
    urls = sorted(r.url for r in frontier.read(spark).collect())
    assert urls == [f"https://rpc.internal/address/{a.lower()}#code" for a in (aaa1, ccc3, eee5)]
    assert {r.address for r in seen.read(spark).collect()} == {
        a.lower() for a in (aaa1, ccc3, eee5)
    }


@pytest.mark.slow
def test_blockstream_datasource_end_to_end(spark, tmp_path):
    """S7 through the REAL custom-source API: python DataSource
    simpleStreamReader over the simulated chain, exactly-once across restart,
    monitor parity quirk B7 (creations never deduped) preserved."""
    chain, out_dir, ckpt = (str(tmp_path / d) for d in ("chain", "out", "ckpt"))
    write_block_file(
        chain, 0, "2024-01-01T12:00:00",
        [
            {"tx_hash": "0xt1", "to_addr": None, "created_contract": "0xAAA1"},
            {"tx_hash": "0xt2", "to_addr": "0xBBB2", "code_present": True},
            {"tx_hash": "0xt3", "to_addr": "0xCCC3", "code_present": False},
        ],
    )
    write_block_file(
        chain, 1, "2024-01-01T12:01:00",
        [{"tx_hash": "0xt4", "to_addr": "0xBBB2", "code_present": True}],
    )
    q = run_monitor_stream(spark, chain, ckpt, out_dir, use_datasource=True)
    q.awaitTermination(180)
    got = sorted(r.address for r in spark.read.parquet(out_dir).collect())
    assert got == ["0xaaa1", "0xbbb2"]

    # chain grows; restart resumes from the checkpointed offset — block 0/1
    # are not re-emitted, the new block's dup is deduped by state
    write_block_file(
        chain, 2, "2024-01-01T12:02:00",
        [
            {"tx_hash": "0xt5", "to_addr": "0xBBB2", "code_present": True},
            {"tx_hash": "0xt6", "to_addr": "0xDDD4", "code_present": True},
        ],
    )
    q2 = run_monitor_stream(spark, chain, ckpt, out_dir, use_datasource=True)
    q2.awaitTermination(180)
    got2 = sorted(r.address for r in spark.read.parquet(out_dir).collect())
    assert got2 == ["0xaaa1", "0xbbb2", "0xddd4"]


def test_discovered_to_frontier(spark):
    d = spark.createDataFrame(
        [(1, "0xt1", "0x" + "ab" * 20)], "block long, tx_hash string, address string"
    )
    f = discovered_to_frontier(d, n_buckets=8, epoch=3).collect()
    assert len(f) == 1
    assert f[0].domain == "rpc.internal"
    assert f[0].discovered_epoch == 3
    assert f[0].url_sha1 is not None and len(f[0].url_sha1) == 40


def test_blockstream_gap_backfill_not_skipped(tmp_path):
    """Out-of-order landing (r2 ADVICE): if block 3 appears before block 2,
    the cursor must NOT advance past the gap — block 2 would be silently
    lost. The reader emits only the contiguous run and re-serves the held
    block once the gap fills. Pure reader-level test (no stream needed)."""
    from etherscan_contract_crawler_spark.sources.blockstream import BlockStreamReader

    chain = str(tmp_path / "chain")
    tx = [{"tx_hash": "0xt", "to_addr": "0xB", "code_present": True}]
    write_block_file(chain, 0, "2024-01-01T12:00:00", tx)
    write_block_file(chain, 1, "2024-01-01T12:01:00", tx)
    r = BlockStreamReader({"path": chain})
    rows, off = r.read(r.initialOffset())
    assert sorted({t[0] for t in rows}) == [0, 1]
    assert off == {"block": 2}

    # block 3 lands BEFORE block 2 — nothing may be emitted yet
    write_block_file(chain, 3, "2024-01-01T12:03:00", tx)
    rows, off = r.read(off)
    assert list(rows) == []
    assert off == {"block": 2}, "cursor advanced over the gap"

    # gap fills: both 2 and 3 are delivered, in order
    write_block_file(chain, 2, "2024-01-01T12:02:00", tx)
    rows, off = r.read(off)
    assert sorted({t[0] for t in rows}) == [2, 3]
    assert off == {"block": 4}


def test_blockstream_nonzero_genesis(tmp_path):
    """A pruned node whose first block is > 0 must still start (the ONLY
    forward jump the cursor may take is off the initial offset)."""
    from etherscan_contract_crawler_spark.sources.blockstream import BlockStreamReader

    chain = str(tmp_path / "chain")
    tx = [{"tx_hash": "0xt", "to_addr": "0xB", "code_present": True}]
    write_block_file(chain, 5, "2024-01-01T12:00:00", tx)
    write_block_file(chain, 6, "2024-01-01T12:01:00", tx)
    r = BlockStreamReader({"path": chain})
    rows, off = r.read(r.initialOffset())
    assert sorted({t[0] for t in rows}) == [5, 6]
    assert off == {"block": 7}
