"""The continuous face, end to end: chain the monitor's discovery loop into
the crawl frontier (SURVEY.md §3.3's frontier-expansion loop, composed from
the round-2 streaming pieces).

    blockstream DataSource (sources/blockstream.py — offset cursor, replay)
        │ readStream
        ▼
    monitor_transform (creation/call split, B7 mark semantics)
        │ withWatermark + dropDuplicatesWithinWatermark   (hot-tier dedup,
        ▼                                                  state = window-bounded)
    foreachBatch — the one lander (streaming/sink.py), keyed by address:
        anti-join durable seen table (long-tail dedup, restart-proof)
        discovered_to_frontier projection → frontier append
        seen append (mark-at-schedule, like the reference :85-86)
        both appends guarded by batch id, so a replayed micro-batch
        skips whatever already landed

Admission (a token-bucket gate) happens in the BATCH engine's politeness
windows once rows are frontier-resident; the streaming ratelimit operator
(streaming/ratelimit.py) is for pipelines that fetch straight off the stream.

The crawl engine then schedules these rows in its next epoch — streaming
discovery and batch fetching share one frontier, which is exactly the
reference's monitor→crawler handoff (CSV file there, Iceberg-semantics
table here).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.blockstream import read_block_stream
from ..storage.icetable import SnapshotTable
from .monitor import discovered_to_frontier, monitor_transform
from .sink import land_to_frontier

DISCOVERED_SEEN_DDL = "address string"


def run_discovery_to_frontier(
    spark: SparkSession,
    chain_dir: str,
    checkpoint_dir: str,
    frontier: SnapshotTable,
    seen: SnapshotTable,
    n_buckets: int,
    epoch: int,
    watermark_delay: str = "10 minutes",
    domain: str = "rpc.internal",
    use_datasource: bool = True,
):
    """Drain the chain into the frontier once (availableNow; production uses
    a processingTime trigger). Returns the streaming query.

    Exactly-once end to end: the source replays by block offset, the
    watermarked state dedups the hot window, the seen-table anti-join
    dedups the long tail, and each append is skipped when its table's
    lineage already holds this query's batch id — a micro-batch that
    crashes mid-foreachBatch re-runs without duplicating frontier rows.
    """
    discovered = (
        monitor_transform(read_block_stream(spark, chain_dir, use_datasource))
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["address"])
    )
    return land_to_frontier(
        discovered, checkpoint_dir, "address", frontier, seen,
        lambda fresh: discovered_to_frontier(fresh, n_buckets, epoch, domain),
    )
