"""T1-T5 — the blockchain monitor re-expressed on Structured Streaming.

Reference (blockchain-multichain-monitor.py): an unbounded poll loop over new
blocks (:97-102), per-tx split into contract-creation vs call branches (:76),
an in-memory seen set updated at *schedule* time (:83-86 — even when the
later is_contract check fails, quirk SURVEY.md §8 B7), and a CSV append sink
bootstrapped back into state on restart (:60-66).

Spark-first mapping:
  * block stream -> ``readStream`` through the custom Python DataSource
    (``sources/blockstream.py`` — ``simpleStreamReader`` over the simulated
    chain; JSON-RPC in production) or a plain file source;
  * block -> tx expansion -> ``explode`` (S8);
  * creation/call branch -> ``when(to_addr.isNull(), ...)`` (P2);
  * is_contract RPC -> the ``code_present`` column (batched lookup done by
    the fetch layer in production — P3);
  * seen set -> BOUNDED, two tiers (r1 VERDICT #5): the hot tier is
    ``dropDuplicatesWithinWatermark`` state (sized by the watermark delay,
    NOT by total history — plain ``dropDuplicates`` grows forever); the long
    tail is the durable seen table the frontier leg (continuous.py) probes
    per micro-batch through the one lander in sink.py;
  * CSV append -> ``run_monitor_stream``'s exactly-once parquet file sink
    (the reference monitor's shape), or the frontier leg, which appends
    into the frontier SnapshotTable that feeds the next crawl epoch (the
    frontier-expansion loop, §3.3) under a batch-id replay guard.

The core engine stays epoch-batch (deterministic + resumable, matching the
reference's poll loop); this module is the continuous face over the same
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.blockstream import read_block_stream

DISCOVERED_DDL = "block long, ts timestamp, tx_hash string, address string"


def monitor_transform(txs: DataFrame) -> DataFrame:
    """Per-tx discovery semantics (blockchain-multichain-monitor.py:75-88).

    Creation branch: emit the created contract address unconditionally (the
    reference never dedups creations, §8 B7). Call branch: emit ``to_addr``
    when code is present. Both lowercased (F2).
    """
    creation = txs.filter(F.col("to_addr").isNull()).select(
        "block", "ts", "tx_hash", F.lower(F.col("created_contract")).alias("address")
    )
    call = (
        txs.filter(F.col("to_addr").isNotNull() & F.col("code_present"))
        .select("block", "ts", "tx_hash", F.lower(F.col("to_addr")).alias("address"))
    )
    return creation.unionByName(call).filter(F.col("address").isNotNull())


def run_monitor_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark_delay: str = "10 minutes",
    use_datasource: bool = False,
):
    """Streaming monitor: watch the chain for new blocks, emit newly
    discovered addresses to ``output_dir``.

    State is bounded: ``withWatermark(ts) + dropDuplicatesWithinWatermark``
    keeps only addresses younger than the watermark in state (the streaming
    analog the survey names for T2, SURVEY.md §2.8), so state size tracks the
    recent-duplicate window, not total history. The parquet file sink is
    exactly-once: its commit log ties each file to one batch id. Durable
    long-tail dedup is the frontier leg's (continuous.py).

    ``use_datasource=True`` reads through the custom Python DataSource
    (production shape); otherwise a parquet file stream (fixture shape).
    Uses availableNow in tests (drain-and-stop); processingTime in production.
    """
    discovered = (
        monitor_transform(read_block_stream(spark, input_dir, use_datasource))
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["address"])
    )
    return (
        discovered.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def discovered_to_frontier(
    discovered: DataFrame, n_buckets: int, epoch: int, domain: str = "rpc.internal"
) -> DataFrame:
    """Project discovered addresses into frontier rows (next epoch's seeds)."""
    from ..sources.seeds import seeds_to_frontier

    seeds = discovered.select(
        "block",
        "tx_hash",
        F.concat(F.lit(f"https://{domain}/address/"), F.col("address"), F.lit("#code")).alias(
            "url"
        ),
        F.lit(0.5).alias("priority"),
    )
    frontier, _ = seeds_to_frontier(seeds, n_buckets=n_buckets, epoch=epoch)
    return frontier
