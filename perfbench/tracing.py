"""Traced runs: spans around each layer's public calls, Spark task metrics
per span from the event log, and the per-layer metric table.

Spans are recorded from the benchmark's side only: the engine's module
attributes and class methods are wrapped at run time, nothing in the
program changes. Each span sets the Spark job description to its own id,
so every job (and through it every task in the event log) belongs to the
span that submitted it. Work that runs lazily is attributed to the span
whose call finally executes it (for example the dedup plan runs inside
the landing write).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from .queries import METRICS as QUERY_METRICS

#: (name, unit) of every per-layer metric, in output order
PER_LAYER = [
    ("engine.epoch_s", "s"), ("engine.self_s", "s"), ("engine.jobs_per_epoch", "count"),
    ("engine.bootstrap_s", "s"), ("engine.maintain_s", "s"), ("engine.task_s", "s"),
    ("schedule.s", "s"), ("schedule.admitted", "count"), ("schedule.task_s", "s"),
    ("dedup.plan.store", "count"), ("dedup.plan.join", "count"),
    ("dedup.candidates", "count"), ("dedup.unseen", "count"), ("dedup.s", "s"),
    ("bloom.probe_s", "s"), ("bloom.fpr", "ratio"), ("bloom.build_delta_s", "s"),
    ("bloom.folds", "count"), ("bloom.store_bytes", "bytes"), ("bloom.task_s", "s"),
    ("fetch.land_s", "s"), ("fetch.calls", "count"), ("fetch.retries", "count"),
    ("fetch.busy_s", "s"), ("fetch.synth_ms_per_row", "ms"), ("validate.ms_per_row", "ms"),
    ("land.rows", "count"), ("land.bytes", "bytes"), ("fetch.task_s", "s"),
    ("storage.commit_s", "s"), ("storage.compact_s", "s"),
    ("storage.bytes_written_per_url", "bytes"), ("storage.task_s", "s"),
    ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.codegen_fallbacks", "count"),
    ("trace.urls_per_s", "1/s"),
] + QUERY_METRICS

#: span-name prefix -> layer whose ``<layer>.task_s`` collects its tasks
_LAYERS = ("engine", "schedule", "bloom", "fetch", "storage")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    epoch: object
    t0: float
    t1: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.epoch: object = None  # tag stamped on spans started now
        self.probe_calls = 0  # counted even while paused (plan detection)
        self._root: int | None = None  # parent for spans on pool threads
        self._paused = False
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, root: bool = False):
        if self._paused:
            yield None
            return
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].sid if stack else self._root
        s = Span(sid, name, parent, self.epoch, 0.0)
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{name}#{sid}")
        stack.append(s)
        prev_root = self._root
        if root:
            self._root = sid
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            if root:
                self._root = prev_root
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def paused(self, desc: str):
        """Benchmark-side measurement jobs: no spans, own job description."""
        prev = self.sc.getLocalProperty("spark.job.description")
        self._paused = True
        self.sc.setJobDescription(desc)
        try:
            yield
        finally:
            self._paused = False
            self.sc.setLocalProperty("spark.job.description", prev)

    def wrap(self, owner, attr: str, name: str, on_exit=None, root: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name, root=root) as s:
                out = orig(*a, **k)
                if s is not None and on_exit is not None:
                    on_exit(s, a, k, out)
                return out

        setattr(owner, attr, traced)


def make_counting_factory(inner, busy, calls, retries):
    """Fetch-session factory that times every fetcher call into Spark
    accumulators (runs inside the Python workers)."""

    def factory():
        fetch = inner()

        def counted(url_canon, key, attempt):
            t = time.perf_counter()
            try:
                return fetch(url_canon, key, attempt)
            finally:
                busy.add(time.perf_counter() - t)
                calls.add(1)
                if attempt:
                    retries.add(1)

        return counted

    return factory


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries the engine calls through."""
    from pyspark.sql.readwriter import DataFrameWriter

    import etherscan_contract_crawler_spark.engine.crawl as crawl
    from etherscan_contract_crawler_spark.operators.bloom import SegmentStore
    from etherscan_contract_crawler_spark.storage.icetable import SnapshotTable

    E = crawl.CrawlEngine
    tracer.wrap(E, "bootstrap", "engine.bootstrap")
    tracer.wrap(E, "run_epoch", "engine.epoch", root=True)
    tracer.wrap(
        E, "maintain", "engine.maintain", root=True,
        on_exit=lambda s, a, k, out: s.extra.update(did=bool(out)),
    )
    tracer.wrap(E, "pending", "engine.pending")
    tracer.wrap(crawl, "schedule_epoch", "schedule")
    tracer.wrap(crawl, "fetch_batch", "fetch.plan")

    # dedup plan: the store plan is the one that probes the segment store
    orig_unseen = crawl.unseen_with_bloom

    @functools.wraps(orig_unseen)
    def unseen(*a, **k):
        with tracer.span("dedup.plan") as s:
            n0 = tracer.probe_calls
            out = orig_unseen(*a, **k)
            if s is not None:
                s.extra["plan"] = "store" if tracer.probe_calls > n0 else "join"
            return out

    crawl.unseen_with_bloom = unseen

    orig_probe = SegmentStore.probe

    @functools.wraps(orig_probe)
    def probe(self, *a, **k):
        tracer.probe_calls += 1
        with tracer.span("bloom.probe"):
            return orig_probe(self, *a, **k)

    SegmentStore.probe = probe

    def folds(s, a, k, out):
        store, prev = a[0], (a[3] if len(a) > 3 else k.get("prev_version"))
        version = a[4] if len(a) > 4 else k.get("version")
        if prev is None:
            s.extra["folds"] = 0
            return
        try:
            new = store._meta(version)["segments"]
            old = store._meta(prev)["segments"]
        except (OSError, KeyError, ValueError):
            s.extra["folds"] = 0
            return
        s.extra["folds"] = sum(
            1 for key, ent in new.items() if key in old and ent["base"] != old[key]["base"]
        )

    tracer.wrap(SegmentStore, "build_delta", "bloom.build_delta", on_exit=folds)
    tracer.wrap(SegmentStore, "build", "bloom.build")

    from .harness import du

    def storage(attr: str, name: str) -> None:
        # every table write lands in a new dir under the table's data dir;
        # the span records the bytes of the dirs that appeared during it
        orig = getattr(SnapshotTable, attr)

        def listing(table) -> set[str]:
            try:
                return set(os.listdir(table._data_dir))
            except OSError:
                return set()

        @functools.wraps(orig)
        def traced(self, *a, **k):
            with tracer.span(name) as s:
                before = listing(self) if s is not None else set()
                out = orig(self, *a, **k)
                if s is not None:
                    s.extra["bytes"] = sum(
                        du(os.path.join(self._data_dir, d)) for d in listing(self) - before
                    )
                return out

        setattr(SnapshotTable, attr, traced)

    for m in ("commit_staged", "merge_not_matched", "stage_append", "commit_append",
              "append", "overwrite"):
        storage(m, "storage.commit")
    storage("compact", "storage.compact")

    orig_parquet = DataFrameWriter.parquet

    @functools.wraps(orig_parquet)
    def parquet(self, path, *a, **k):
        # the engine's payload landing write targets the images staging dir
        if not str(path).endswith(".raw"):
            return orig_parquet(self, path, *a, **k)
        with tracer.span("fetch.land") as s:
            out = orig_parquet(self, path, *a, **k)
            if s is not None:
                s.extra["bytes"] = du(path)
            return out

    DataFrameWriter.parquet = parquet


def measure_dedup(tracer: Tracer, eng) -> dict:
    """Untimed, after the window: run the dedup plan the next epoch would
    pick on its own (``s``: frontier read, dedup, probe or anti-join), and
    under the store plan time the segment-store probe of the frontier's
    keys alone (``probe_s``) and measure the bloom pre-filter's FPR."""
    from pyspark.sql import functions as F

    with tracer.paused("perfbench.measure"):
        cands = eng.frontier.row_count()
        n0 = tracer.probe_calls
        pending = eng.pending()
        store = tracer.probe_calls > n0
        t = time.perf_counter()
        unseen = pending.count()
        dt = time.perf_counter() - t
        fpr = probe_s = 0.0
        if store:
            v = eng.segments.versions()[-1]
            keys = (
                eng.frontier.read(eng.spark)
                .select("url_sha1", "domain_hash")
                .dropDuplicates(["url_sha1"])
                .cache()
            )
            keys.count()
            t = time.perf_counter()
            eng.segments.probe(keys, v, exact=True).write.format("noop").mode("overwrite").save()
            probe_s = time.perf_counter() - t
            exact = eng.segments.probe(keys, v, exact=True).select("url_sha1", "seen")
            maybe = eng.segments.probe(keys, v, exact=False).select("url_sha1", "bloom_maybe")
            rows = (
                maybe.join(exact, "url_sha1")
                .filter(~F.col("seen"))
                .groupBy("bloom_maybe")
                .count()
                .collect()
            )
            neg = sum(r["count"] for r in rows)
            fp = sum(r["count"] for r in rows if r["bloom_maybe"])
            fpr = fp / neg if neg else 0.0
            keys.unpersist()
    return {"candidates": cands, "unseen": unseen, "s": dt, "probe_s": probe_s, "fpr": fpr}


def microbench(seed: int, n: int = 200) -> dict:
    """Driver-side per-row cost of synthetic payload generation and of
    inline validation, over the same ``n`` keys."""
    import hashlib

    from etherscan_contract_crawler_spark.operators.validate import validate_payload_row
    from etherscan_contract_crawler_spark.sources.synthetic import payload_for_key

    keys = [hashlib.sha1(f"micro:{seed}:{i}".encode()).hexdigest() for i in range(n)]
    t = time.perf_counter()
    payloads = [payload_for_key(k) for k in keys]
    synth = time.perf_counter() - t
    for p in payloads:
        p.pop("_pixels", None)
    t = time.perf_counter()
    ok = sum(bool(validate_payload_row(p)) for p in payloads)
    val = time.perf_counter() - t
    return {
        "synth_ms": synth / len(keys) * 1000,
        "validate_ms": val / len(keys) * 1000,
        "valid": ok,
    }


def parse_eventlog(log_dir: str) -> tuple[dict[str, dict], dict[str, int]]:
    """Task metrics and job counts per job description."""
    stage_desc: dict[int, str | None] = {}
    jobs: dict[str, int] = defaultdict(int)
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith("appstatus")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    jobs[desc] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = per[stage_desc.get(ev.get("Stage ID"))]
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return per, jobs


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def per_layer(
    tracer: Tracer,
    timed: list,
    per_desc: dict[str, dict],
    jobs: dict[str, int],
    extra: dict,
) -> dict[str, float]:
    """Fold spans, event-log task metrics and the workload's own counters
    into the PER_LAYER table. Times are medians of per-epoch sums over the
    timed epochs, counts are per-epoch means, plan counts are totals; the
    dedup and bloom probe figures come from one measurement after the
    window (``measure_dedup``); ``land.rows`` counts the landed valid
    payloads; ``storage.bytes_written_per_url`` sums the data dirs the
    storage commits and compactions wrote in the window (the payload
    landing write is ``land.bytes``), per committed URL; query walls are
    zero where no query ran."""
    n = max(1, len(timed))
    urls = sum(extra.get("admitted", []))
    by_id = {s.sid: s for s in tracer.spans}
    in_window = [s for s in tracer.spans if s.epoch in timed]

    def per_epoch(names: tuple[str, ...], value=lambda s: s.wall) -> list[float]:
        sums = {e: 0.0 for e in timed}
        for s in in_window:
            if s.name in names:
                sums[s.epoch] += value(s)
        return list(sums.values())

    def med(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    def mean(xs: list[float]) -> float:
        return sum(xs) / n

    def under(s: Span, name: str) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == name:
                return True
            p = by_id[p].parent
        return False

    def top_storage(s: Span) -> bool:
        return s.parent is None or not by_id[s.parent].name.startswith("storage.")

    epochs = [s for s in in_window if s.name == "engine.epoch"]
    self_s = []
    for ep in epochs:
        kids = [
            (max(c.t0, ep.t0), min(c.t1, ep.t1))
            for c in in_window
            if c.epoch == ep.epoch and c is not ep and c.t1 > ep.t0 and c.t0 < ep.t1
            and under(c, "engine.epoch")
        ]
        self_s.append(ep.wall - _union_len(kids))
    maint_spans = [s for s in in_window if s.name == "engine.maintain" and s.extra.get("did")]
    compact = [
        sum(
            c.wall for c in in_window
            if c.name.startswith("storage.") and top_storage(c) and under(c, "engine.maintain")
            and c.epoch == m.epoch
        )
        for m in maint_spans
    ]
    plans = [s.extra.get("plan") for s in in_window if s.name == "dedup.plan"]
    # the last bootstrap is the measured crawl's (a warm-up crawl may precede it)
    boot = [s.wall for s in tracer.spans if s.name == "engine.bootstrap"]

    # Spark task metrics, by the layer of the span that submitted the job
    layer_task: dict[str, float] = defaultdict(float)
    tot: dict[str, float] = defaultdict(float)
    n_jobs = 0
    for desc, m in per_desc.items():
        if not desc or "#" not in desc:
            continue
        s = by_id.get(int(desc.rsplit("#", 1)[1]))
        if s is None or s.epoch not in timed:
            continue
        layer = s.name.split(".", 1)[0]
        layer_task[layer if layer in _LAYERS else "engine"] += m["task_s"]
        for k, v in m.items():
            tot[k] += v
    for desc, c in jobs.items():
        if desc and "#" in desc:
            s = by_id.get(int(desc.rsplit("#", 1)[1]))
            if s is not None and s.epoch in timed:
                n_jobs += c

    dd = extra.get("dedup") or {"candidates": 0, "unseen": 0, "s": 0.0, "probe_s": 0.0, "fpr": 0.0}
    out = {
        "engine.epoch_s": med([s.wall for s in epochs]),
        "engine.self_s": med(self_s),
        "engine.jobs_per_epoch": n_jobs / n,
        "engine.bootstrap_s": boot[-1] if boot else 0.0,
        "engine.maintain_s": med([s.wall for s in maint_spans]),
        "schedule.s": med(per_epoch(("schedule",))),
        "schedule.admitted": mean(extra.get("admitted", [])),
        "dedup.plan.store": float(sum(p == "store" for p in plans)),
        "dedup.plan.join": float(sum(p == "join" for p in plans)),
        "dedup.candidates": float(dd["candidates"]),
        "dedup.unseen": float(dd["unseen"]),
        "dedup.s": dd["s"],
        "bloom.probe_s": dd["probe_s"],
        "bloom.fpr": dd["fpr"],
        "bloom.build_delta_s": med(per_epoch(("bloom.build_delta", "bloom.build"))),
        "bloom.folds": mean(per_epoch(("bloom.build_delta",), lambda s: s.extra.get("folds", 0))),
        "bloom.store_bytes": float(extra.get("store_bytes", 0)),
        "fetch.land_s": med(per_epoch(("fetch.land",))),
        "fetch.calls": mean(extra.get("fetch_calls", [])),
        "fetch.retries": mean(extra.get("fetch_retries", [])),
        "fetch.busy_s": med(extra.get("fetch_busy", [])),
        "fetch.synth_ms_per_row": extra.get("micro", {}).get("synth_ms", 0.0),
        "validate.ms_per_row": extra.get("micro", {}).get("validate_ms", 0.0),
        "land.rows": mean(extra.get("landed", [])),
        "land.bytes": mean(per_epoch(("fetch.land",), lambda s: s.extra.get("bytes", 0))),
        "storage.commit_s": med(
            per_epoch(("storage.commit",), lambda s: s.wall if top_storage(s)
                      and not under(s, "engine.maintain") else 0.0)
        ),
        "storage.compact_s": med(compact),
        "storage.bytes_written_per_url": (
            sum(per_epoch(("storage.commit", "storage.compact"),
                          lambda s: s.extra.get("bytes", 0) if top_storage(s) else 0))
            / urls if urls else 0.0
        ),
        "spark.task_s": tot["task_s"] / n,
        "spark.cpu_s": tot["cpu_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.shuffle_bytes": tot["shuffle_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.codegen_fallbacks": float(extra.get("codegen_fallbacks", 0)),
        "trace.urls_per_s": float(extra.get("urls_per_s", 0.0)),
    }
    for layer in _LAYERS:
        out[f"{layer}.task_s"] = layer_task[layer] / n
    for name, _ in QUERY_METRICS:
        out[name] = extra.get("queries", {}).get(name, 0.0)
    return out
