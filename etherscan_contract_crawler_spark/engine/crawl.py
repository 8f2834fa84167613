"""CrawlEngine — the epoch loop tying every operator together (SURVEY.md §3.1).

One epoch = one deterministic, resumable unit:

    frontier ──exact dedup (segment store probe or anti-join)──► pending
    pending  ──robots ∧ budgets ∧ politeness windows──────────► scheduled batch
    scheduled ──ONE job: mapInPandas fetch (injected fetcher)
                + inline decode/PSNR/caption validation
                + partitionBy(valid) columnar write────────────► staged raw dir
    raw(valid=true dir) ──commit_staged (no copy)──────────────► images snapshot
    raw(failed) ──append, minus this epoch's landed dirs───────► dead_letter
    scheduled ──mark-at-attempt (K5 semantics)─────────────────► url_seen append
                                                                + lineage commit
    epoch delta ──append LSM run per touched segment───────────► segment store

Per-bucket landed/ok counts are observed on the landing write itself
(``DataFrame.observe``), not read back from the landed files.

Commit ordering makes every write idempotent, so a crash anywhere mid-epoch
resumes cleanly: the url_seen append carries the epoch-completion lineage and
is LAST — an epoch is complete iff its lineage landed. The images and
dead-letter appends stamp their data dirs with the epoch, and a replay
anti-joins only the dirs its own crashed attempts left (O(epoch), never
O(history)). Reference analog of the checkpoint: `.processed.txt`
append+flush per address (contract_crawler.py:488-490) with mark-at-attempt
semantics; the reference's reload of it is broken (SURVEY.md §8 B2) — this
engine implements the intended durable behavior.

Frontier expansion (M5): discovered child URLs append to the frontier as next
epoch's seeds — the monitor loop's moral equivalent (SURVEY.md §3.3).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import SegmentStore
from ..operators.dedup import unseen_with_bloom
from ..operators.fetch import (
    FETCH_RESULT_DDL,
    IMAGES_DDL,
    fetch_batch,
    synthetic_fetch_session,
)
from ..operators.politeness import schedule_epoch
from ..sources.seeds import FRONTIER_DDL, seeds_to_frontier
from ..storage.icetable import SnapshotTable

URL_SEEN_DDL = "url_sha1 string, domain_hash int, seen_epoch int"
DEAD_LETTER_DDL = (
    "url_sha1 string, url string, domain string, domain_hash int, attempts int, failed_epoch int"
)

#: dedup cost gate: the segment-store probe replaces the url_seen anti-join
#: once seen outgrows the frontier by this factor (CrawlEngine.pending)
STORE_DEDUP_SEEN_RATIO = 8


@dataclass
class EngineConfig:
    warehouse: str
    n_buckets: int = 32
    epoch_duration_s: int = 60
    batch_size: int | None = None
    expand_links: bool = False
    max_retries: int = 3
    bloom_bits_per_key: int = 12
    #: bloom sub-segment sizing: per-task memory and probe parallelism are
    #: governed by this, not by n_buckets (scale-aware segmentation — at
    #: 10^10 keys the store holds ~2.5k bounded segments, not 32 giant ones)
    bloom_segment_target_keys: int = 4_000_000
    #: metadata-table compaction/expiry cadence (epochs); bounds manifest and
    #: data-dir accretion (Iceberg rewrite_data_files/expire_snapshots analog)
    compact_every: int = 16


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        budgets: DataFrame | None = None,
        robots: DataFrame | None = None,
        fetch_session_factory=synthetic_fetch_session,
    ):
        self.spark = spark
        self.cfg = config
        if robots is not None and "crawl_delay" in robots.columns:
            # declared Crawl-delay floors the per-domain budget (max one
            # fetch per declared period); folded ONCE here — dims are fixed
            # per run, and _max_capacity below must see the folded values
            from ..operators.politeness import budgets_with_crawl_delay

            budgets = budgets_with_crawl_delay(budgets, robots)
        self.budgets = budgets
        self.robots = robots
        self.fetch_session_factory = fetch_session_factory
        w = config.warehouse
        self.frontier = SnapshotTable(os.path.join(w, "frontier"))
        self.url_seen = SnapshotTable(os.path.join(w, "url_seen"))
        self.images = SnapshotTable(os.path.join(w, "images"))
        self.dead_letter = SnapshotTable(os.path.join(w, "dead_letter"))
        self.segments = SegmentStore(
            os.path.join(w, "bloom_segments"),
            config.n_buckets,
            config.bloom_bits_per_key,
            target_keys_per_segment=config.bloom_segment_target_keys,
        )
        #: cross-epoch schedule state: the global-cap bucket boundaries
        #: (skips global_topk's sampling job after epoch 0) and the literal
        #: admission rank bound (computed once; budgets are fixed per run)
        self._topk_state: dict = {}
        self._max_capacity: int | None = None
        #: the newest store version pending() resolved — run_epoch's bloom
        #: build reuses it instead of listing the store a second time
        self._store_version: int | None = None

    # ---------- bootstrap ----------
    def bootstrap(self, seeds: DataFrame) -> dict:
        """Create tables and ingest the seed list (returns ingest stats)."""
        frontier_rows, rejects = seeds_to_frontier(seeds, self.cfg.n_buckets, epoch=0)
        self.frontier.create(FRONTIER_DDL)
        self.url_seen.create(URL_SEEN_DDL)
        self.images.create(IMAGES_DDL)
        self.dead_letter.create(DEAD_LETTER_DDL)
        frontier_rows = frontier_rows.cache()
        n = frontier_rows.count()
        self.frontier.append(frontier_rows, lineage={"epoch": -1, "seeded": n})
        frontier_rows.unpersist()
        return {"frontier_rows": n, "rejected": rejects.count()}

    # ---------- epoch ----------
    def last_completed_epoch(self) -> int:
        return int(self.url_seen.lineage().get("epoch", -1))

    def _bloom_version(self) -> int | None:
        vs = self.segments.versions()
        return vs[-1] if vs else None

    def pending(self) -> DataFrame:
        frontier_df = self.frontier.read(self.spark)
        seen = self.url_seen.read(self.spark)
        # bloom segments are valid only when exactly one epoch behind
        # (epoch e commits url_seen then builds v{e+1}); after a crash in
        # that window the stale segments would yield false negatives (seen
        # keys re-admitted). Degrade to the exact anti-join for one epoch —
        # always correct — and let build_delta's full-rebuild fallback heal.
        v = self._store_version = self._bloom_version()
        store = None
        if v is not None and v == self.last_completed_epoch() + 1:
            # cost gate (both answers are exact — this only picks the plan):
            # the store probe pays an Arrow-into-Python tax per CANDIDATE;
            # the anti-join pays a scan/shuffle over the whole SEEN side.
            # While the crawl is young (seen ≲ frontier) the join wins;
            # in steady state after frontier GC (seen ≫ pending) the store
            # wins and keeps the epoch independent of total crawl history.
            # Counts come from parquet footers — no job.
            seen_total = self.url_seen.row_count()
            cand_total = max(1, self.frontier.row_count())
            if seen_total >= STORE_DEDUP_SEEN_RATIO * cand_total:
                store = self.segments
        # frontier appends (expansion) can re-discover a known URL under a new
        # priority — collapse duplicates with the same max-priority/min-url
        # rule as ingest (hash agg, map-side combinable; same shuffle key as
        # the anti-join so AQE reuses the exchange). With a single data dir
        # (bootstrap only, already key-unique) the agg is a no-op — skip the
        # shuffle entirely.
        if len(self.frontier.manifest()["data_dirs"]) > 1:
            frontier_df = self._dedup_frontier(frontier_df)
        return unseen_with_bloom(frontier_df, seen, store, v)

    @staticmethod
    def _dedup_frontier(frontier_df: DataFrame) -> DataFrame:
        """Collapse re-discovered URLs to one row per key (max-priority /
        min-everything-else, same rule as ingest). Used by pending() and by
        frontier compaction — compaction MUST apply it so a single-dir
        frontier is genuinely key-unique (pending() skips the agg then)."""
        return frontier_df.groupBy("url_sha1").agg(
            F.min("url").alias("url"),
            F.min("url_canon").alias("url_canon"),
            F.min("domain").alias("domain"),
            F.min("domain_hash").alias("domain_hash"),
            F.max("priority").alias("priority"),
            F.min("depth").alias("depth"),
            F.min("state").alias("state"),
            F.min("attempt").alias("attempt"),
            F.min("next_fetch_time").alias("next_fetch_time"),
            F.min("discovered_epoch").alias("discovered_epoch"),
        )

    def _epoch_keys(self, table: SnapshotTable, epoch: int, key: str = "url_sha1"):
        """``key`` (as ``url_sha1``) of the rows ``table`` committed under
        lineage epoch ``epoch`` — what crashed attempts of a replayed epoch
        already landed — or None when no data dir carries that stamp. The
        dir count is bounded by the crash count: O(epoch), never O(history)."""
        m = table.manifest()
        dirs = [d for d in m["data_dirs"] if m.get("dir_epochs", {}).get(d) == epoch]
        if not dirs:
            return None
        return (
            self.spark.read.schema(m["schema_ddl"])
            .parquet(*dirs)
            .select(F.col(key).alias("url_sha1"))
        )

    def run_epoch(self, epoch: int) -> dict:
        import time as _time

        timings: dict[str, float] = {}
        _t0 = _time.time()

        def _mark(label: str) -> None:
            nonlocal _t0
            now = _time.time()
            timings[label] = round(now - _t0, 2)
            _t0 = now

        cfg = self.cfg
        # scheduled is meta-only (no payload) — cheap to cache; consumed by
        # the fetch input and the url_seen append (mark-at-attempt covers the
        # whole batch)
        if self._max_capacity is None:
            from ..operators.politeness import max_epoch_capacity

            self._max_capacity = max_epoch_capacity(self.budgets, cfg.epoch_duration_s)
        # defer_cap: the batch-cap window runs inside the landing job (the
        # first consumer of this cache) instead of as its own schedule-phase
        # wave; the pending-set cache it reads is released right after the
        # landing write materializes `scheduled` (round 3b)
        scheduled = schedule_epoch(
            self.pending(),
            budgets=self.budgets,
            robots=self.robots,
            epoch_duration_s=cfg.epoch_duration_s,
            batch_size=cfg.batch_size,
            max_capacity=self._max_capacity,
            topk_state=self._topk_state,
            defer_cap=True,
        ).cache()
        _mark("schedule")

        # payload landing: ONE job runs fetch -> validate -> partitioned
        # columnar write. Bytes cross Arrow once into the JVM parquet writer
        # and never enter a shuffle, a cache, or the driver; the valid=true
        # partition dir becomes the images snapshot's data dir as-is (no
        # second copy).
        sid, raw_dir = self.images.staging_raw_dir()
        # Mid-epoch replay guard, O(epoch) not O(history) (r1 VERDICT #2):
        # scheduled ⊆ unseen already excludes everything url_seen knows, so
        # the ONLY keys that could double-land are this epoch's own payloads
        # committed in the crash window between images commit and url_seen
        # append. The manifest stamps each data dir with its commit epoch, so
        # the guard anti-joins the union of ALL dirs this epoch landed — a
        # second crash in the same window commits a second dir, and guarding
        # only the last one would re-land the first replay's payloads
        # (duplicate image_id rows; r2 ADVICE). Dir count is bounded by the
        # crash count, so this stays O(epoch), never O(history).
        to_fetch = scheduled
        landed = self._epoch_keys(self.images, epoch, key="image_id")
        if landed is not None:
            to_fetch = scheduled.join(landed, "url_sha1", "left_anti")

        # per-bucket landed / ok counts ride the landing write as observed
        # metrics — no read-back job; bounded by n_buckets, not the batch
        def per_bucket(cond: str):
            terms = ", ".join(
                f"count_if(domain_hash = {b}{cond})" for b in range(cfg.n_buckets)
            )
            return F.expr(f"array({terms})")

        counts = Observation()
        results = fetch_batch(
            to_fetch,
            self.fetch_session_factory,
            max_retries=cfg.max_retries,
        ).observe(
            counts,
            per_bucket("").alias("landed"),
            per_bucket(" AND status = 'ok'").alias("ok"),
        )
        # payload bytes are already codec-compressed — snappy on top only
        # burns CPU and buffers; small row groups cap per-task write buffering
        # (32 concurrent tasks x 128 MB default would churn ~4 GB of heap)
        #
        # STREAMING dynamic-partition write: Spark's planned write inserts a
        # per-task Sort(valid) below a partitionBy writer, which buffers the
        # task's ENTIRE payload output in the sorter before one row reaches
        # parquet — for this write that's gigabytes of extra memcpy and
        # allocation churn overlapping the Python fetch workers, bought to
        # order a column with two values. Concurrent output writers (one
        # open file per partition value, cap 3 > 2 values) let payload rows
        # stream Arrow -> parquet instead. Session-scoped conf, restored
        # after the write (the landing is the only dynamic-partition write
        # in the epoch, and the commit wave runs after this job returns).
        prev_pw = self.spark.conf.get("spark.sql.optimizer.plannedWrite.enabled", "true")
        self.spark.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
        self.spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", "3")
        try:
            (
                results.write.mode("overwrite")
                .option("compression", "none")
                .option("parquet.block.size", 8 * 1024 * 1024)
                # payload bytes are unique blobs — parquet's default dictionary
                # build for the binary column burns CPU/heap hashing pages that
                # never repeat, then abandons the dictionary at the threshold
                .option("parquet.enable.dictionary", "false")
                .partitionBy("valid")
                .parquet(raw_dir)
            )
        finally:
            self.spark.conf.set("spark.sql.optimizer.plannedWrite.enabled", prev_pw)
            self.spark.conf.unset("spark.sql.maxConcurrentOutputFileWriters")
        # explicit schema: avoids inference failure when the guarded refetch
        # is empty (full replay — every payload already landed) and makes the
        # partition column (valid) part of the contract
        raw = self.spark.read.schema(FETCH_RESULT_DDL).parquet(raw_dir)
        # the landing write materialized `scheduled`'s cache — release the
        # deferred pending-set cache global_topk left for us (defer_cap)
        rel = self._topk_state.pop("_release", None)
        if rel is not None:
            rel.unpersist()
        _mark("fetch_land")

        # the schedule's cardinality comes from the observed counts too: the
        # write job above materialized the cache, so no pre-fetch count() runs
        observed = counts.get
        part_stats: dict[int, dict] = {
            b: {"scheduled": n, "ok": ok, "failed": n - ok}
            for b, (n, ok) in enumerate(zip(observed["landed"], observed["ok"]))
            if n
        }
        n_landed = sum(p["scheduled"] for p in part_stats.values())
        n_ok = sum(p["ok"] for p in part_stats.values())
        n_failed = n_landed - n_ok
        if to_fetch is scheduled:
            # normal path: every scheduled row landed exactly once (ok or
            # failed — fetch_batch's one-row-per-input CONTRACT), so the
            # landed counts already carry the schedule's cardinality — no
            # separate count() job wave
            n_scheduled = n_landed
        else:
            # replay: landed rows ⊂ scheduled (keys whose payloads already
            # committed are skipped by the fetch but still need the
            # mark-at-attempt append) — count the cached schedule
            n_scheduled = scheduled.count()
        _mark("fetch_stats")
        if n_scheduled == 0:
            # nothing staged — drop the (empty) raw landing dir so drained
            # epochs leave no disk residue (r1 ADVICE: unbounded raw growth)
            shutil.rmtree(raw_dir, ignore_errors=True)
            scheduled.unpersist()
            return {"epoch": epoch, "scheduled": 0, "done": True, "timings": timings}

        # lineage epoch on the images commit powers the O(epoch) replay guard
        _, n_images = self.images.commit_staged(
            sid, os.path.join(raw_dir, "valid=true"), lineage={"epoch": epoch}
        )
        _mark("images_commit")

        prev_lineage = self.url_seen.lineage()
        prev_offsets = prev_lineage.get("frontier_offsets", {})
        offsets = {
            str(b): prev_offsets.get(str(b), 0) + s["scheduled"] for b, s in part_stats.items()
        }
        offsets = {**prev_offsets, **offsets}

        # mark-at-attempt (K5): every attempted URL becomes seen, ok or not
        bloom_version = epoch + 1
        lineage = {
            "epoch": epoch,
            "partitions": {str(k): v for k, v in part_stats.items()},
            "frontier_offsets": offsets,
            "bloom_segment_version": bloom_version,
            "counters": {
                "scheduled": n_scheduled,
                "ok": n_ok,
                "images_inserted": n_images,
                "failed": n_failed,
            },
        }
        # ---- concurrent commit wave (r2 VERDICT: the job-wave floor) ----
        # The three remaining epoch writes touch three independent tables and
        # the already-cached schedule, so their JOBS run concurrently on one
        # thread pool instead of as sequential driver-latency waves:
        #   - dead-letter append (on its own table),
        #   - url_seen data write (STAGED — manifest commit deferred),
        #   - bloom delta build (delta path reads only the cached schedule).
        # Crash ordering is preserved where it matters: url_seen's manifest
        # commit — the epoch-completion marker — happens-after the
        # dead-letter commit, so a crash between them replays the epoch
        # (the dead-letter append is guarded, below) instead of marking the
        # batch seen while its dead letters were never recorded. A bloom version
        # that lands without its url_seen commit is already handled by
        # pending()'s version-validity check (degrades to the exact join)
        # and build_delta's full-rebuild fallback on the replay.
        from concurrent.futures import ThreadPoolExecutor

        # APPEND, not MERGE, O(epoch) not O(history): `failed` is key-unique
        # (one landed row per to_fetch row) and disjoint from every earlier
        # epoch's dead letters (those keys are in url_seen, so never
        # scheduled again). Only a crashed attempt of THIS epoch can have
        # landed some of them already, and its dirs carry this epoch's stamp
        # — the images replay guard's rule. Resolved here, on this thread.
        failed = raw.filter(F.col("status") == "failed").select(
            "url_sha1", "url", "domain", "domain_hash", "attempts",
            F.lit(epoch).alias("failed_epoch"),
        )
        dead_landed = self._epoch_keys(self.dead_letter, epoch)
        if dead_landed is not None:
            failed = failed.join(dead_landed, "url_sha1", "left_anti")

        # FAIR mode alone is not enough: jobs in the DEFAULT pool are FIFO
        # relative to each other (FairSchedulableBuilder builds it with
        # FIFO internal scheduling when no allocation file exists). Each
        # task claims its own pool — distinct pools ARE fair-shared — so a
        # wide job cannot head-of-line-block the small concurrent writes.
        # setLocalProperty is per-thread (pinned-thread mode), so each
        # worker tags only its own jobs.
        def _pool(name: str) -> None:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"commit-{name}"
            )

        def _dead_letter_task():
            _pool("dead-letter")
            if n_failed:
                self.dead_letter.append(failed, lineage={"epoch": epoch})
            # the dead-letter rows are committed now — drop the valid=false
            # partition (full uncompressed payload bytes of failed fetches)
            # so the landing dir keeps only the committed valid=true data
            shutil.rmtree(os.path.join(raw_dir, "valid=false"), ignore_errors=True)

        def _seen_write_task():
            _pool("url-seen")
            # mark-at-attempt over the WHOLE scheduled batch (K5) — including
            # keys skipped by the replay guard, whose payloads already
            # landed. APPEND, not MERGE: scheduled ⊆ unseen by construction
            # (pending()'s exact dedup) and the epoch commits at most once
            # (lineage gates the replay), so the merge's existing-side
            # anti-join — an O(total seen) scan every epoch — would verify a
            # tautology. The exact segment store is what makes this safe to
            # assert, and the parity/resume suites pin it.
            # lineage passed at stage time too: the Iceberg backend stamps
            # the (immutable) snapshot summary during the WAP write; this
            # backend ignores it here and applies it at commit_append
            return self.url_seen.stage_append(
                scheduled.select(
                    "url_sha1", "domain_hash", F.lit(epoch).alias("seen_epoch")
                ),
                lineage=lineage,
            )

        # The store's fold/full-rebuild paths need the seen set INCLUDING
        # this epoch. Post-append url_seen == pre-append url_seen ∪ scheduled
        # exactly (mark-at-attempt appends precisely the scheduled keys, and
        # scheduled ⊆ unseen makes the union disjoint), so building that
        # union from the PRE-append manifest lets the bloom build run
        # concurrently with the url_seen append instead of after it. The
        # dir list is resolved here, on this thread, so the concurrent
        # commit can't race the manifest read.
        seen_union = (
            self.url_seen.read(self.spark)
            .select("url_sha1", "domain_hash")
            .unionByName(scheduled.select("url_sha1", "domain_hash"))
        )
        prev = self._store_version

        def _bloom_task():
            _pool("bloom")
            # O(epoch delta), not O(total seen): the LSM store's new version
            # holds ONLY this epoch's run files; everything untouched is
            # carried by reference in the run manifest. Delta is valid only
            # from the immediately-previous version; a crash gap falls back
            # to a full rebuild from seen_union. Per-bucket delta counts are
            # already known from the landed-file stats (valid only when the
            # replay guard didn't shrink the fetch set).
            known_counts = (
                {b: s["scheduled"] for b, s in part_stats.items()}
                if to_fetch is scheduled
                else None
            )
            self.segments.build_delta(
                scheduled.select("url_sha1", "domain_hash"),
                seen_union,
                prev if prev == epoch else None,
                bloom_version,
                delta_counts=known_counts,
            )

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_dead = pool.submit(_dead_letter_task)
            f_seen = pool.submit(_seen_write_task)
            f_bloom = pool.submit(_bloom_task)
            f_dead.result()  # ordering barrier
            seen_sid, seen_dir, _ = f_seen.result()
            _mark("dead_letter_merge")
            # epoch-completion marker: ordered after the dead-letter commit
            self.url_seen.commit_append(seen_sid, seen_dir, lineage=lineage)
            _mark("url_seen_merge")
            f_bloom.result()
        _mark("bloom_build")

        if cfg.expand_links:
            # expansion derives from the scheduled batch minus dead-lettered
            # keys (not from `results`) so a mid-epoch replay — where landed
            # keys are skipped by the fetch — still discovers their children.
            # Only this epoch's dead letters can meet `scheduled` (the append
            # above, or a crashed attempt's), never the whole table.
            ok_rows = scheduled
            dead = self._epoch_keys(self.dead_letter, epoch)
            if dead is not None:
                ok_rows = scheduled.join(dead, "url_sha1", "left_anti")
            self._expand_frontier(ok_rows, epoch)

        scheduled.unpersist()
        return {
            "epoch": epoch,
            "scheduled": n_scheduled,
            "ok": n_ok,
            "images_inserted": n_images,
            "failed": n_failed,
            "done": False,
            "timings": timings,
        }

    def _expand_frontier(self, ok_rows: DataFrame, epoch: int) -> None:
        """M5 — deterministic synthetic link discovery: fetched pages whose
        key satisfies hash(key) % 5 == 0 yield one child URL on the same
        domain. Spark-built-ins only; the parity oracle reproduces it with
        hashlib (reference analog: monitor-discovered addresses feeding the
        next crawl, SURVEY.md §3.3). Input: successfully-fetched rows with
        (url_sha1, domain, depth)."""
        from ..functions import urls as U
        from ..sources.seeds import EPOCH0_TS

        child_key = F.sha1(F.concat(F.col("url_sha1"), F.lit("c1")))
        children = (
            ok_rows
            .filter(F.conv(F.substring("url_sha1", 1, 8), 16, 10).cast("long") % 5 == 0)
            .select(
                F.concat(
                    F.lit("https://"), F.col("domain"), F.lit("/address/0x"),
                    child_key, F.lit("#code"),
                ).alias("url"),
                (
                    F.pmod(F.conv(F.substring(child_key, 1, 6), 16, 10).cast("long"), F.lit(1000))
                    / 1000.0
                ).alias("priority"),
                (F.col("depth") + 1).alias("depth"),
                F.col("domain"),
            )
        )
        new_rows = children.select(
            "url",
            U.canonicalize_url(F.col("url")).alias("url_canon"),
            F.lit(None).cast("string").alias("url_sha1"),
            "domain",
            F.lit(None).cast("int").alias("domain_hash"),
            "priority",
            "depth",
            F.lit("pending").alias("state"),
            F.lit(0).alias("attempt"),
            F.lit(EPOCH0_TS).cast("timestamp").alias("next_fetch_time"),
            F.lit(epoch + 1).alias("discovered_epoch"),
        ).withColumn("url_sha1", U.url_sha1(F.col("url_canon"))).withColumn(
            "domain_hash", U.domain_hash(F.col("domain"), self.cfg.n_buckets)
        )
        # key-unique without a dedup shuffle: a child key is
        # sha1(parent key ‖ "c1") and the parents are key-unique
        self.frontier.append(new_rows)

    # ---------- maintenance ----------
    def maintain(self, epoch: int, force: bool = False) -> dict:
        """Compaction + expiry cadence (r1 VERDICT #3): every
        ``compact_every`` epochs, rewrite the metadata tables' accreted
        per-epoch dirs into one dir each, expire old snapshots/bloom
        versions, and GC orphans. Without this a 10^4-epoch run reads 10^4
        dirs per table scan. Images data dirs (payload bytes) are NOT
        rewritten — only their old manifests expire; all dirs stay referenced
        by the current cumulative manifest, so nothing is copied or lost."""
        if not force and (epoch + 1) % self.cfg.compact_every:
            return {}
        done: dict[str, int] = {}
        if len(self.frontier.manifest()["data_dirs"]) > 1:
            # compaction with the dedup rule — keeps the single-dir frontier
            # key-unique so pending()'s agg-skip stays sound — AND drops
            # already-seen rows: a seen key can never be scheduled again
            # (pending() anti-joins it out every epoch), so keeping it makes
            # every future epoch's probe pay for all of crawl history.
            # After this rewrite the frontier is O(genuinely pending), not
            # O(ever discovered). The O(total) exact anti-join is fine HERE:
            # it runs once per compaction cadence, not per epoch.
            live = self._dedup_frontier(self.frontier.read(self.spark)).join(
                self.url_seen.read(self.spark).select("url_sha1"),
                "url_sha1",
                "left_anti",
            )
            self.frontier.overwrite(live)
            done["frontier_compacted"] = 1
        for name, t in (("url_seen", self.url_seen), ("dead_letter", self.dead_letter)):
            if len(t.manifest()["data_dirs"]) > 1:
                t.compact(self.spark)
                done[f"{name}_compacted"] = 1
        for t in (self.frontier, self.url_seen, self.dead_letter, self.images):
            t.expire_snapshots(keep_last=2)
        self.segments.expire(keep_last=2)
        return done

    # ---------- run / resume ----------
    def run(self, max_epochs: int = 100) -> list[dict]:
        """Run epochs until the frontier drains or max_epochs; resumable —
        picks up after the last epoch whose lineage committed."""
        stats = []
        # startup GC: crash leftovers (unreferenced .raw staging dirs, data
        # dirs whose commit never landed) from a previous killed run
        for t in (self.frontier, self.url_seen, self.images, self.dead_letter):
            if t.exists():
                t.gc_orphans()
        epoch = self.last_completed_epoch() + 1
        for _ in range(max_epochs):
            s = self.run_epoch(epoch)
            stats.append(s)
            if s.get("done"):
                break
            self.maintain(epoch)
            epoch += 1
        return stats
