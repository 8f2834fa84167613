"""The crawl workloads: set-up, the timed closed-loop window, input-property
guards and the correctness check of each run.

Both workloads drive ``CrawlEngine`` through its public API from one
process at ``local[nproc]``. An epoch starts only after the previous one
committed (closed loop, one client). The timed window is a fixed, odd
number of epochs, at least 3 and about ``seconds / NOMINAL_EPOCH_S`` (5
at the benchmark's 36 s), so every run of a workload does the same work
and the median epoch is one real epoch. Each window has one heavy epoch,
its first: the crawl's epoch 0 in ``crawl_cold``, the ``maintain()`` epoch
that also pays the process's one-time costs in ``crawl_steady``. So the
heavy epoch is ``epoch_s.max`` and the median is the middle one of four
plain epochs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

N_BUCKETS = 32


def seed_parquet(cache: str, n: int, n_domains: int, seed: int, dup_rate: float) -> str:
    """Zipf seed list for (n, domains, seed, dup_rate), generated once per
    checkout and reused by later runs with the same seed."""
    from etherscan_contract_crawler_spark.sources.synthetic import gen_seed_parquet

    path = os.path.join(cache, f"seeds_n{n}_d{n_domains}_s{seed}_dup{dup_rate}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        gen_seed_parquet(tmp, n, n_domains=n_domains, seed=seed, dup_rate=dup_rate)
        os.replace(tmp, path)
    return path


class CrawlWorkload:
    """Shared loop; subclasses define sizes, set-up and checks."""

    name = ""
    #: about one epoch's wall on a loaded 4-core host
    NOMINAL_EPOCH_S = 7
    SIZES: dict[str, dict] = {}

    def __init__(self, spark, seed: int, seconds: float, work: str, cache: str,
                 size: str = "full", tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.warehouse = os.path.join(work, "warehouse")
        self.cache = cache
        self.p = self.SIZES[size]
        self.tracer = tracer
        self.eng = None
        self.first_epoch = 0
        self.epochs: list[dict] = []  # every epoch run, all of them timed
        self.extra: dict = {"admitted": [], "landed": [], "fetch_calls": [],
                            "fetch_retries": [], "fetch_busy": []}
        self._acc = None

    # ---------- helpers ----------
    def n_timed(self) -> int:
        # odd, so the median epoch is one real epoch
        return max(3, int(self.seconds // self.NOMINAL_EPOCH_S)) | 1

    def _wire_fetch_counters(self) -> None:
        from .tracing import make_counting_factory

        sc = self.spark.sparkContext
        self._acc = (sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0))
        self.eng.fetch_session_factory = make_counting_factory(
            self.eng.fetch_session_factory, *self._acc
        )

    def _run_epoch(self, e: int) -> dict:
        rec = {"epoch": e, "problems": self.guard_before(e), "wall": 0.0, "scheduled": 0}
        acc0 = [a.value for a in self._acc] if self._acc else None
        if self.tracer is not None:
            self.tracer.epoch = e
        t = time.perf_counter()
        try:
            s = self.eng.run_epoch(e)
            self.eng.maintain(e)
        except Exception as exc:  # the epoch counts as failed; the run stops
            rec["problems"].append(f"epoch {e} raised {type(exc).__name__}: {exc}")
            rec["raised"] = True
            s = {}
        rec["wall"] = time.perf_counter() - t
        if self.tracer is not None:
            self.tracer.epoch = None
        rec["scheduled"] = int(s.get("scheduled", 0))
        if not rec.get("raised"):
            rec["problems"] += self.guard_after(e, s)
            self.extra["admitted"].append(rec["scheduled"])
            self.extra["landed"].append(int(s.get("images_inserted", 0)))
            if acc0 is not None:
                busy, calls, retries = (a.value - b for a, b in zip(self._acc, acc0))
                self.extra["fetch_busy"].append(busy)
                self.extra["fetch_calls"].append(calls)
                self.extra["fetch_retries"].append(retries)
        self.epochs.append(rec)
        return rec

    # ---------- phases ----------
    def setup(self) -> None:
        raise NotImplementedError

    def guard_before(self, e: int) -> list[str]:
        return []

    def guard_after(self, e: int, stats: dict) -> list[str]:
        return []

    def window(self) -> None:
        for i in range(self.n_timed()):
            if self._run_epoch(self.first_epoch + i).get("raised"):
                break

    def check(self) -> list[str]:
        """Whole-run correctness problems (empty list = correct)."""
        raise NotImplementedError

    # ---------- results ----------
    def committed_urls(self) -> int:
        return sum(r["scheduled"] for r in self.epochs)

    def seen_rows(self) -> int:
        return self.eng.url_seen.row_count()


class ColdCrawl(CrawlWorkload):
    """Fresh crawl over Zipf seeds with the payload-synthesising fetcher:
    the per-row Python fetch/validate/landing path carries the epoch, the
    exact anti-join dedups (url_seen starts empty), hot domains hit the
    politeness cap. Set-up first runs one untimed warm-up epoch of a tiny
    crawl in a warehouse of its own (see ``_warm_up``). The window starts
    at the measured crawl's epoch 0, which also pays the global cap's
    sampling job and the first full bloom build, so it is the slowest
    epoch and shows in ``epoch_s.max``."""

    name = "crawl_cold"
    SIZES = {
        "full": {"seeds": 24_000, "domains": 8_000, "batch": 3_000, "epoch_duration_s": 60},
        "tiny": {"seeds": 2_000, "domains": 200, "batch": 300, "epoch_duration_s": 60},
    }

    def input_desc(self) -> dict:
        return {"seeds": self.p["seeds"], "domains": self.p["domains"],
                "batch": self.p["batch"], "fetcher": "synthetic",
                "epochs": self.n_timed()}

    def setup(self) -> None:
        from etherscan_contract_crawler_spark.engine.crawl import CrawlEngine, EngineConfig

        p = self.p
        self.seeds_path = seed_parquet(self.cache, p["seeds"], p["domains"], self.seed, 0.10)
        self._warm_up()
        self.eng = CrawlEngine(
            self.spark,
            EngineConfig(
                warehouse=self.warehouse, n_buckets=N_BUCKETS,
                epoch_duration_s=p["epoch_duration_s"], batch_size=p["batch"],
            ),
        )
        if self.tracer is not None:
            self._wire_fetch_counters()
        self.boot = self.eng.bootstrap(self.spark.read.parquet(self.seeds_path))
        self.start_problems = []
        if self.eng.url_seen.row_count() != 0:
            self.start_problems.append("url_seen is not empty at the start of a cold crawl")

    def _warm_up(self) -> None:
        """One epoch of a tiny crawl in its own warehouse: the measured
        crawl then starts from an empty url_seen in a process that has
        already compiled the epoch's plans and started its Python workers,
        so its epochs do not carry that one-time cost. Runs outside the
        tracer's epochs, so no per-layer figure counts it."""
        from etherscan_contract_crawler_spark.engine.crawl import CrawlEngine, EngineConfig

        t = self.SIZES["tiny"]
        seeds = seed_parquet(self.cache, t["seeds"], t["domains"], self.seed, 0.10)
        eng = CrawlEngine(
            self.spark,
            EngineConfig(
                warehouse=self.warehouse + "-warmup", n_buckets=N_BUCKETS,
                epoch_duration_s=t["epoch_duration_s"], batch_size=t["batch"],
            ),
        )
        eng.bootstrap(self.spark.read.parquet(seeds))
        eng.run_epoch(0)

    def check(self) -> list[str]:
        import pyarrow.parquet as pq

        from etherscan_contract_crawler_spark.oracle.reference_oracle import run_oracle

        rows = pq.read_table(self.seeds_path, columns=["url", "priority"]).to_pylist()
        oracle = run_oracle(
            rows, epoch_duration_s=self.p["epoch_duration_s"], batch_size=self.p["batch"],
            max_epochs=len(self.epochs),
        )
        spark = self.spark
        by_epoch: dict[int, set[str]] = {}
        for r in self.eng.url_seen.read(spark).select("url_sha1", "seen_epoch").collect():
            by_epoch.setdefault(int(r["seen_epoch"]), set()).add(r["url_sha1"])
        images = {r["image_id"] for r in self.eng.images.read(spark).select("image_id").collect()}
        dead = {r["url_sha1"] for r in self.eng.dead_letter.read(spark).select("url_sha1").collect()}
        return compare_with_oracle(
            [by_epoch.get(r["epoch"], set()) for r in self.epochs], images, dead, oracle,
            self.start_problems,
        )


def compare_with_oracle(epoch_sets, images, dead, oracle, start_problems=()) -> list[str]:
    """Per-epoch url_seen sets (crawl order at batch granularity), then the
    images and dead-letter sets, against ``run_oracle`` for the same seeds,
    budget and batch. Returns one problem string per mismatch."""
    problems = list(start_problems)
    if len(oracle.epochs) != len(epoch_sets):
        problems.append(f"oracle ran {len(oracle.epochs)} epochs, engine {len(epoch_sets)}")
    for i, (got, want) in enumerate(zip(epoch_sets, oracle.epochs)):
        want = set(want)
        if got != want:
            problems.append(
                f"epoch {i}: url_seen differs from the oracle "
                f"({len(got - want)} extra, {len(want - got)} missing)"
            )
    if images != oracle.images:
        problems.append(
            f"images differ ({len(images - oracle.images)} extra, "
            f"{len(oracle.images - images)} missing)"
        )
    if dead != oracle.dead:
        problems.append(
            f"dead letters differ ({len(dead - oracle.dead)} extra, "
            f"{len(oracle.dead - dead)} missing)"
        )
    return problems


def frontier_rows(spark, seeds: str):
    """Frontier rows of a generated seed list (unique, lower-case URLs whose
    host is its own registrable domain), so the canonical form is the URL
    without its fragment. Equal to ``seeds_to_frontier`` on such a list
    (the smoke test checks it), but without its URL canonicalisation plan,
    whose code generation fails and costs about 8 s per new plan on a
    4-core box."""
    from etherscan_contract_crawler_spark.functions import urls as U
    from etherscan_contract_crawler_spark.sources.seeds import EPOCH0_TS

    canon = F.regexp_replace(F.col("url"), "#.*$", "")
    host = F.regexp_extract(canon, "^https://([^/]+)/", 1)
    return spark.read.parquet(seeds).select(
        F.col("url"), canon.alias("url_canon"), U.url_sha1(canon).alias("url_sha1"),
        host.alias("domain"), U.domain_hash(host, N_BUCKETS).alias("domain_hash"),
        F.col("priority"), F.lit(0).alias("depth"), F.lit("pending").alias("state"),
        F.lit(0).alias("attempt"),
        F.lit(EPOCH0_TS).cast("timestamp").alias("next_fetch_time"),
        F.lit(0).alias("discovered_epoch"),
    )


class SteadyCrawl(CrawlWorkload):
    """Resumed crawl with the no-payload fetcher over a pre-built state:
    url_seen at least 8x the frontier and a matching segment store, so the
    dedup cost gate picks the store probe. Link expansion appends to the
    frontier every epoch and ``compact_every=5`` puts one ``maintain()``
    compaction in every five epochs. The state is laid out as a crawl
    leaves it (frontier and dead_letter in several data dirs).

    There is no warm-up epoch: one costs about 8 s of set-up on an idle
    4-core box, over the full or a tiny copy of the state alike, which the
    time budget of the benchmark's runs does not hold. The first epoch's
    one-time costs (code generation, JIT, Python worker start: about 3 s)
    land in the first timed epoch, which is also the window's one
    maintain() epoch, so both show in ``epoch_s.max`` and the median is a
    plain epoch."""

    name = "crawl_steady"
    COMPACT_EVERY = 5
    #: pre-history: url_seen's lineage says epochs 0..PRE_EPOCHS-1 committed;
    #: the first timed epoch PRE_EPOCHS is a maintain() epoch
    PRE_EPOCHS = 9
    DEAD_LETTERS = 100
    SIZES = {
        "full": {"seeds": 12_000, "domains": 8_000, "batch": 800, "seen_x": 9,
                 "epoch_duration_s": 600},
        "tiny": {"seeds": 1_500, "domains": 200, "batch": 150, "seen_x": 9,
                 "epoch_duration_s": 600},
    }
    #: a fixed share of the frontier (1 in COVER_MOD keys) is already seen
    COVER_MOD = 4

    def input_desc(self) -> dict:
        return {"frontier": self.p["seeds"], "seen": self._seen0, "domains": self.p["domains"],
                "batch": self.p["batch"], "fetcher": "null", "epochs": self.n_timed(),
                "compact_every": self.COMPACT_EVERY}

    def setup(self) -> None:
        from etherscan_contract_crawler_spark.bench_crawl import null_fetch_session
        from etherscan_contract_crawler_spark.engine.crawl import (
            DEAD_LETTER_DDL, URL_SEEN_DDL, CrawlEngine, EngineConfig,
        )
        from etherscan_contract_crawler_spark.operators.fetch import IMAGES_DDL
        from etherscan_contract_crawler_spark.sources.seeds import FRONTIER_DDL

        p, spark = self.p, self.spark
        assert (self.PRE_EPOCHS + 1) % self.COMPACT_EVERY == 0
        seeds = seed_parquet(self.cache, p["seeds"], p["domains"], self.seed, 0.0)
        self.eng = eng = CrawlEngine(
            spark,
            EngineConfig(
                warehouse=self.warehouse, n_buckets=N_BUCKETS,
                epoch_duration_s=p["epoch_duration_s"], batch_size=p["batch"],
                expand_links=True, compact_every=self.COMPACT_EVERY,
            ),
            fetch_session_factory=null_fetch_session,
        )
        if self.tracer is not None:
            self._wire_fetch_counters()
        frontier = frontier_rows(spark, seeds)
        eng.frontier.create(FRONTIER_DDL)
        eng.url_seen.create(URL_SEEN_DDL)
        eng.images.create(IMAGES_DDL)
        eng.dead_letter.create(DEAD_LETTER_DDL)
        half = F.conv(F.substring("url_sha1", 7, 2), 16, 10).cast("int") % 2 == 0
        eng.frontier.append(frontier.filter(half), lineage={"epoch": -1})
        eng.frontier.append(frontier.filter(~half))
        n_front = eng.frontier.row_count()
        last = self.PRE_EPOCHS - 1
        covered = (
            eng.frontier.read(spark)
            .select("url_sha1", "domain_hash")
            .filter(F.conv(F.substring("url_sha1", 1, 6), 16, 10).cast("long") % self.COVER_MOD == 0)
        )
        filler = (
            spark.range(p["seen_x"] * n_front)
            .select(
                F.sha1(F.concat(F.lit(f"seen:{self.seed}:"), F.col("id").cast("string")))
                .alias("url_sha1")
            )
            .withColumn("domain_hash", F.pmod(F.xxhash64("url_sha1"), F.lit(N_BUCKETS)).cast("int"))
        )
        eng.url_seen.append(
            covered.unionByName(filler).withColumn("seen_epoch", F.lit(last)),
            lineage={"epoch": last},
        )
        eng.dead_letter.append(
            filler.limit(self.DEAD_LETTERS).select(
                "url_sha1", F.lit("https://dead.example/").alias("url"),
                F.lit("dead.example").alias("domain"), "domain_hash",
                F.lit(4).alias("attempts"), F.lit(last).alias("failed_epoch"),
            )
        )
        eng.segments.build(eng.url_seen.read(spark).select("url_sha1", "domain_hash"), last + 1)
        self._seen0 = eng.url_seen.row_count()
        self.first_epoch = self.PRE_EPOCHS

    def guard_before(self, e: int) -> list[str]:
        seen, front = self.eng.url_seen.row_count(), self.eng.frontier.row_count()
        if seen < 8 * front:
            return [f"epoch {e}: url_seen has {seen} rows, under 8x the {front} frontier rows"]
        return []

    def guard_after(self, e: int, stats: dict) -> list[str]:
        if stats.get("scheduled") != self.p["batch"]:
            return [f"epoch {e}: admitted {stats.get('scheduled')} URLs, not a full batch"]
        return []

    def check(self) -> list[str]:
        eng, spark = self.eng, self.spark
        last = self.epochs[-1]["epoch"]
        if (last + 1) % eng.cfg.compact_every:  # the window did not end on a maintain() epoch
            eng.maintain(last, force=True)
        seen = eng.url_seen.read(spark).select("url_sha1")
        problems = []
        dups = seen.groupBy("url_sha1").count().filter(F.col("count") > 1).count()
        if dups:
            problems.append(f"url_seen has {dups} duplicate keys")
        stray = (
            eng.images.read(spark).select(F.col("image_id").alias("url_sha1"))
            .join(seen, "url_sha1", "left_anti").count()
        )
        if stray:
            problems.append(f"{stray} images are not in url_seen")
        overlap = eng.frontier.read(spark).select("url_sha1").join(seen, "url_sha1", "left_semi").count()
        if overlap:
            problems.append(f"{overlap} frontier keys are already seen after maintain()")
        return problems


WORKLOADS = {w.name: w for w in (ColdCrawl, SteadyCrawl)}
