"""Feed polling as a stream: RSS documents → frontier, exactly once.

The batch face of feed ingest (sources/feeds.py) answers "what does the
corpus of polled feeds say"; this module is the LIVE face — every fetched
feed document lands as a file (exactly how the engine's fetch path stages
payloads) and a streaming query drains new documents into the crawl
frontier as they arrive. Composes the same three-tier dedup the discovery
loop uses (streaming/continuous.py run_discovery_to_frontier):

    file stream of feed XML docs (wholetext — one row per document)
        │ parse_feed_items                (stateless codegen projection —
        ▼                                  streaming-safe, no state)
    withWatermark(pub_ts) + dropDuplicatesWithinWatermark(link)
        │                                 (hot-tier: polls re-announce the
        ▼                                  same items every cycle; state is
    foreachBatch:                          window-bounded, not corpus-bound)
      the one lander (streaming/sink.py), keyed by url:
        anti-join durable url-seen table  (long-tail, restart-proof)
        frontier append + seen append     (mark-at-schedule; each skipped
                                           when its lineage holds this
                                           query's batch id)

Items without a parseable pubDate can't ride event-time dedup, so this
leg DROPS them (filtered before the watermark) — they remain reachable
through the batch face (sources/feeds.py over landed documents), which
needs no event time. Documented trade, not silent loss: the filter is the
first thing the plan shows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.feeds import parse_feed_items
from ..storage.icetable import SnapshotTable
from .sink import land_to_frontier

FEED_SEEN_DDL = "url string"


def feed_items_to_frontier(items: DataFrame) -> DataFrame:
    """Project parsed feed items to frontier-seed shape (url, priority,
    depth) — the feed analog of sitemap_to_frontier: constant base priority
    (feeds don't carry one) plus the same strictly-sub-unit recency bonus,
    so fresher announcements fetch first among equals."""
    recency = F.coalesce(
        F.unix_timestamp("pub_ts").cast("double") / F.lit(4102444800.0),
        F.lit(0.0),
    )
    return items.select(
        F.col("link").alias("url"),
        (F.lit(0.5) + recency / 1000.0).alias("priority"),
        F.lit(0).alias("depth"),
    )


def run_feed_poll_to_frontier(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    frontier: SnapshotTable,
    seen: SnapshotTable,
    watermark_delay: str = "7 days",
):
    """Drain newly fetched feed documents into the frontier once
    (availableNow; production uses a processingTime trigger on the poll
    cadence). Returns the streaming query.

    Exactly-once end to end: the file source replays by file listing under
    the checkpoint, the watermarked state dedups re-announced links inside
    the delay window (poll cadence ≪ 7 days), the seen-table anti-join
    dedups the long tail, and each append is skipped when its table's
    lineage already holds this query's batch id — a micro-batch that
    crashes mid-foreachBatch re-runs without duplicating frontier rows.
    """
    # binaryFile, not text: the streaming text source ignores `wholetext`
    # (verified — it yields one row per LINE, which breaks the multi-line
    # (?s) item regexes), and binary-with-decode is the shape the fetch
    # path lands payloads in anyway
    docs = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .load(feed_dir)
        .select(F.decode(F.col("content"), "UTF-8").alias("xml"))
    )
    items = parse_feed_items(docs, keep_cols=())
    fresh_items = (
        items.where(F.col("pub_ts").isNotNull())
        .withWatermark("pub_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["link"])
    )
    return land_to_frontier(
        feed_items_to_frontier(fresh_items), checkpoint_dir, "url", frontier, seen,
        lambda fresh: fresh,
    )
