"""The one streaming lander: micro-batch → frontier + durable seen table.

Every streaming leg that feeds the crawl frontier (the chain discovery loop
in continuous.py, the feed poller in feedpoll.py) lands its micro-batches
here, keyed by its own column (``address`` / ``url``):

    foreachBatch(batch, batch_id):
        dropDuplicates(key)                        (within the micro-batch)
        left_anti seen table  → fresh, cached      (long tail: ONE seen scan)
        frontier.append(to_frontier(fresh))        (skipped if already landed)
        seen.append(fresh.select(key))             (mark-at-schedule, like the
                                                    reference :85-86)
    both appends are skipped when ``fresh`` is empty (the no-data batch an
    availableNow drain runs to advance the watermark lands nothing)

Append, not merge: ``fresh`` is unseen and key-unique by construction, so a
merge's existing-side anti-join would re-scan the seen table to verify a
tautology (the engine's url_seen append makes the same argument).

Replay guard: Structured Streaming re-runs a micro-batch whose commit did not
land, with the same ``batch_id``. Each append stamps ``{guard: batch_id}``
into its table's lineage, where ``guard`` is derived from the checkpoint
location, so queries sharing one frontier never skip each other's batches.
A table whose lineage already holds this query's ``batch_id`` is skipped —
a crash between (or after) the two appends converges to the uncrashed state.
Like Delta's ``txnAppId``, the guard names the checkpoint: a query restarted
from a deleted-and-recreated checkpoint must use a new path.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def land_to_frontier(
    stream: DataFrame,
    checkpoint_dir: str,
    key: str,
    frontier,
    seen,
    to_frontier: Callable[[DataFrame], DataFrame],
) -> StreamingQuery:
    """Drain ``stream`` into ``frontier`` and ``seen`` once (availableNow;
    production uses a processingTime trigger). Returns the streaming query.

    Both tables need only ``read``, ``append(df, lineage=)`` and
    ``lineage()``: a SnapshotTable or the Iceberg backend."""
    loc = checkpoint_dir if "://" in checkpoint_dir else os.path.abspath(checkpoint_dir)
    guard = "stream." + hashlib.sha1(loc.encode()).hexdigest()[:16]

    def land(batch: DataFrame, batch_id: int) -> None:
        if seen.lineage().get(guard) == batch_id:
            # seen lands second, so both appends committed; the batch still
            # runs in full — its stateful plan must commit its state stores
            batch.write.format("noop").mode("append").save()
            return
        fresh = (
            batch.dropDuplicates([key])
            .join(seen.read(batch.sparkSession).select(key), key, "left_anti")
            .cache()
        )
        # count() runs every partition of the batch (isEmpty() may stop after
        # one), which the stateful plan's state-store commit needs
        if fresh.count():
            if frontier.lineage().get(guard) != batch_id:
                frontier.append(to_frontier(fresh), lineage={guard: batch_id})
            seen.append(fresh.select(key), lineage={guard: batch_id})
        fresh.unpersist()

    return (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
