"""S7 production-shaped block stream source — a custom Python DataSource.

The reference's block source is a single-threaded JSON-RPC poll loop:
``w3.eth.filter('latest')`` + ``get_new_entries()``
(blockchain-multichain-monitor.py:96-102). Its Spark-native analog (SURVEY.md
§2.8 T1 mapping) is a Structured Streaming custom source implemented through
the public Python DataSource API (``spark.dataSource.register`` +
``simpleStreamReader``), which this module provides — r1 VERDICT #7 replaced
the file-source stand-in with this.

The "chain" is a directory of ``block_{n:08d}.json`` files (one JSON object
per block: number, timestamp, transactions[]) — the sandbox stand-in for the
RPC endpoint; the reader's contract is identical to a production JSON-RPC
poller: a monotonically increasing block-number OFFSET, exactly-once replay
between offsets, and in-order delivery. Swapping the ``_read_block`` body for
an ``eth_getBlockByNumber`` call is the only production delta.

``SimpleDataSourceStreamReader`` is the right API tier here: like the
reference, block *discovery* is an inherently serial cursor (one head
pointer); the heavy lifting (per-tx expansion, RPC code checks, dedup) all
happens AFTER the source, in parallel operators. For a multi-shard source
(many chains), ``DataSourceStreamReader.partitions()`` would shard by chain —
same API family, one method further.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

#: event-time carrying block schema (ts powers watermarked dedup downstream)
BLOCKS_DDL = (
    "block long, ts timestamp, tx_hash string, to_addr string, "
    "created_contract string, code_present boolean"
)


def write_block_file(chain_dir: str, block: int, ts_iso: str, txs: list[dict]) -> str:
    """Test/fixture helper: append one block to the simulated chain.

    tx dict keys: tx_hash, to_addr (None => creation), created_contract,
    code_present.
    """
    os.makedirs(chain_dir, exist_ok=True)
    path = os.path.join(chain_dir, f"block_{block:08d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"number": block, "timestamp": ts_iso, "transactions": txs}, f)
    os.replace(tmp, path)
    return path


class BlockStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.chain_dir = options.get("path")
        if not self.chain_dir:
            raise ValueError("blockstream source requires option 'path'")

    # offset = {"block": next block number to read} — the poll cursor
    def initialOffset(self) -> dict:
        return {"block": 0}

    def _available_blocks(self) -> list[int]:
        if not os.path.isdir(self.chain_dir):
            return []
        return sorted(
            int(f[6:14])
            for f in os.listdir(self.chain_dir)
            if f.startswith("block_") and f.endswith(".json")
        )

    def _read_block(self, n: int) -> list[tuple]:
        """One block -> tx rows. Production delta: replace the file read with
        eth_getBlockByNumber(n, full_transactions=True)
        (blockchain-multichain-monitor.py:90-93)."""
        import datetime

        with open(os.path.join(self.chain_dir, f"block_{n:08d}.json")) as f:
            blk = json.load(f)
        ts = datetime.datetime.fromisoformat(blk["timestamp"])
        rows = []
        for tx in blk["transactions"]:
            rows.append(
                (
                    blk["number"],
                    ts,
                    tx.get("tx_hash"),
                    tx.get("to_addr"),
                    tx.get("created_contract"),
                    bool(tx.get("code_present", False)),
                )
            )
        return rows

    def read(self, start: dict) -> Tuple[Iterator[tuple], dict]:
        """Poll: emit the CONTIGUOUS run of blocks from the cursor, advance
        the cursor past it. Stopping at the first gap is what makes the
        exactly-once claim hold under out-of-order landing (r2 ADVICE): if
        block n+1 appears before block n, advancing to the max would skip n
        forever once it lands; instead n+1 waits in place until n fills the
        gap. Chains number blocks densely from genesis, so a gap is always
        "not yet landed", never "will never exist". At-least-once within the
        micro-batch contract; Spark's offset log turns it exactly-once
        end-to-end (checkpointed like T3)."""
        cursor = int(start["block"])
        avail = self._available_blocks()
        new = [b for b in avail if b >= cursor]
        if not new:
            return iter([]), start
        if new[0] > cursor and cursor == 0:
            # genesis snap: the chain's first block may legitimately be > 0
            # (pruned node / non-zero genesis); only the INITIAL offset may
            # jump forward — a later gap always means an in-flight block.
            cursor = new[0]
        run = [b for i, b in enumerate(new) if b == cursor + i and b >= cursor]
        if not run or run[0] != cursor:
            return iter([]), start  # cursor block still in flight
        rows: list[tuple] = []
        for b in run:  # in-order, like the reference's filter delivery
            rows.extend(self._read_block(b))
        return iter(rows), {"block": run[-1] + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministic replay for recovery: re-serve [start, end)."""
        rows: list[tuple] = []
        for b in self._available_blocks():
            if int(start["block"]) <= b < int(end["block"]):
                rows.extend(self._read_block(b))
        return iter(rows)

    def commit(self, end: dict) -> None:
        # nothing to GC: the simulated chain is immutable history, as is RPC
        pass


class BlockStreamDataSource(DataSource):
    """``spark.dataSource.register(BlockStreamDataSource)`` then
    ``spark.readStream.format("blockstream").option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "blockstream"

    def schema(self) -> str:
        return BLOCKS_DDL

    def simpleStreamReader(self, schema) -> BlockStreamReader:
        return BlockStreamReader(self.options)


def read_block_stream(spark: SparkSession, path: str, use_datasource: bool) -> DataFrame:
    """The block stream at ``path``: through the custom DataSource above
    (production shape) or as a parquet file stream of BLOCKS_DDL rows
    (fixture shape)."""
    if not use_datasource:
        return spark.readStream.schema(BLOCKS_DDL).parquet(path)
    spark.dataSource.register(BlockStreamDataSource)
    return spark.readStream.format("blockstream").option("path", path).load()
