"""Politeness scheduling invariants (SURVEY.md §5.4)."""

import pytest
from pyspark.sql import functions as F

from etherscan_contract_crawler_spark.operators.politeness import schedule_epoch
from etherscan_contract_crawler_spark.sources.seeds import seeds_to_frontier


def _pending(spark, seeds_df):
    frontier, _ = seeds_to_frontier(seeds_df, n_buckets=16)
    return frontier


def test_budget_never_exceeded(spark, tiny_seeds_df):
    pending = _pending(spark, tiny_seeds_df)
    sched = schedule_epoch(pending, epoch_duration_s=10)  # capacity 5*10=50
    per_domain = sched.groupBy("domain").count().collect()
    for r in per_domain:
        assert r["count"] <= 50, r
    # per-slot: no domain fetches more than max_calls in one slot
    per_slot = sched.groupBy("domain", "fetch_slot").count().collect()
    for r in per_slot:
        assert r["count"] <= 5, r


def test_ordering_is_canonical_within_domain(spark, tiny_seeds_df):
    sched = schedule_epoch(_pending(spark, tiny_seeds_df), epoch_duration_s=10)
    rows = sched.select("domain", "rn", "priority", "url_sha1").collect()
    by_domain = {}
    for r in rows:
        by_domain.setdefault(r.domain, []).append(r)
    for d, rs in by_domain.items():
        rs.sort(key=lambda r: r.rn)
        keys = [(-r.priority, r.url_sha1) for r in rs]
        assert keys == sorted(keys), d


@pytest.mark.slow
def test_batch_cap_takes_global_topk(spark, tiny_seeds_df):
    pending = _pending(spark, tiny_seeds_df)
    full = schedule_epoch(pending, epoch_duration_s=10)
    capped = schedule_epoch(pending, epoch_duration_s=10, batch_size=50)
    top = [
        r.url_sha1
        for r in full.orderBy(F.desc("priority"), F.asc("next_fetch_time"), F.asc("url_sha1"))
        .limit(50)
        .collect()
    ]
    got = [
        r.url_sha1
        for r in capped.orderBy(
            F.desc("priority"), F.asc("next_fetch_time"), F.asc("url_sha1")
        ).collect()
    ]
    assert got == top


def test_budget_dim_join(spark, tiny_seeds_df):
    pending = _pending(spark, tiny_seeds_df)
    domains = [r.domain for r in pending.select("domain").distinct().collect()]
    tight = domains[0]
    budgets = spark.createDataFrame(
        [(tight, 1, 5)], "domain string, max_calls int, period_s int"
    )
    sched = schedule_epoch(pending, budgets=budgets, epoch_duration_s=10)
    per_domain = {r.domain: r["count"] for r in sched.groupBy("domain").count().collect()}
    assert per_domain.get(tight, 0) <= 2  # 1 call * floor(10/5) slots
    for d, n in per_domain.items():
        if d != tight:
            assert n <= 50


@pytest.mark.slow
def test_robots_filter(spark, tiny_seeds_df):
    pending = _pending(spark, tiny_seeds_df)
    d = pending.select("domain").distinct().collect()[0].domain
    robots = spark.createDataFrame([(d, ["/address/"])], "domain string, disallow array<string>")
    sched = schedule_epoch(pending, robots=robots, epoch_duration_s=10)
    assert sched.filter(F.col("domain") == d).count() == 0
    assert sched.count() > 0


@pytest.mark.slow
def test_global_topk_matches_order_limit(spark):
    import random

    from etherscan_contract_crawler_spark.operators.politeness import (
        canonical_order,
        global_topk,
    )

    rng = random.Random(3)
    rows = [
        (
            f"k{rng.randrange(10**6):07d}",
            float(rng.randrange(100)),  # many priority ties
            "2026-01-01 00:00:00",
        )
        for _ in range(5000)
    ]
    df = spark.createDataFrame(rows, "url_sha1 string, priority double, nft string").select(
        "url_sha1", "priority", F.col("nft").cast("timestamp").alias("next_fetch_time")
    )
    for k in (1, 137, 4999, 5000, 9000):
        expect = [r["url_sha1"] for r in df.orderBy(*canonical_order()).limit(k).collect()]
        got = [
            r["url_sha1"]
            for r in global_topk(df, k).orderBy(*canonical_order()).collect()
        ]
        assert got == expect, k

    # ordering edge cases the bucket tree must place exactly as Spark's
    # sort does: repeated boundaries (one priority and time, 25 keys), a
    # -0.0 / 0.0 mix (equal in Spark's order, so the key decides), NaN
    # priorities (sort first under DESC), NULL priorities (last) and NULL
    # times (first within their priority)
    repeats = [(f"k{i % 25:02d}", 1.0, "2026-01-01 00:00:00") for i in range(3000)]
    edges = [
        (
            f"z{i:05d}",
            rng.choice([0.0, -0.0, 0.0, -0.0, float("nan"), None, 0.5]),
            rng.choice(["2026-01-01 00:00:00", "2026-01-02 00:00:00", None]),
        )
        for i in range(3000)
    ]
    for rows in (repeats, edges):
        df = spark.createDataFrame(
            rows, "url_sha1 string, priority double, nft string"
        ).select("url_sha1", "priority", F.col("nft").cast("timestamp").alias("next_fetch_time"))
        for k in (1, 137, 1500, 2999, 3001):
            expect = [r["url_sha1"] for r in df.orderBy(*canonical_order()).limit(k).collect()]
            got = [
                r["url_sha1"]
                for r in global_topk(df, k).orderBy(*canonical_order()).collect()
            ]
            assert got == expect, (rows[0][0], k)


def test_global_topk_builds_its_plan_in_o1_py4j_calls(spark):
    """The bucket column is one SQL expression: a reused-boundary call
    costs a few hundred py4j round trips whatever the bucket count, not
    one per Column function per boundary (thousands at 64 buckets)."""
    import gc
    import random

    from py4j.clientserver import ClientServerConnection

    from etherscan_contract_crawler_spark.operators.politeness import global_topk

    rng = random.Random(5)
    rows = [
        (f"u{i:05d}", float(rng.randrange(1000)), f"2026-01-01 00:{i % 60:02d}:00")
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "url_sha1 string, priority double, nft string").select(
        "url_sha1", "priority", F.col("nft").cast("timestamp").alias("next_fetch_time")
    )

    def round_trips(n_buckets: int) -> int:
        state: dict = {}
        global_topk(df, 500, n_buckets=n_buckets, state=state, defer=True)
        assert "boundaries" in state
        orig = ClientServerConnection.send_command
        calls = 0

        def counting(self, command):
            nonlocal calls
            calls += 1
            return orig(self, command)

        # py4j also sends a delete command when a JavaObject is collected:
        # collect earlier tests' garbage now, and none during the count
        gc.collect()
        gc.disable()
        ClientServerConnection.send_command = counting
        try:
            global_topk(df, 500, n_buckets=n_buckets, state=state, defer=True)
        finally:
            ClientServerConnection.send_command = orig
            gc.enable()
        state.pop("_release").unpersist()
        return calls

    n16, n256 = round_trips(16), round_trips(256)
    assert n16 < 500, n16
    assert n256 < 500, n256
    assert abs(n256 - n16) < 50, (n16, n256)


def test_fused_plan_has_mapside_window_group_limit(spark, tiny_seeds_df):
    """r3 schedule fusion: the single admission window must carry a PARTIAL
    WindowGroupLimit below its exchange (the map-side skew guard the literal
    rank conjunct unlocks) — if this regresses, hot domains flood single
    reduce partitions again."""
    sched = schedule_epoch(_pending(spark, tiny_seeds_df), epoch_duration_s=10)
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]
    partial_pos = plan.find("Partial")
    assert partial_pos != -1, "no Partial-mode WindowGroupLimit in plan"


def test_fused_matches_python_reference(spark, tiny_seeds_df):
    """The fused single-window plan equals a pure-Python reference: rank
    each domain in canonical order, keep rn <= capacity, slot = (rn-1) //
    max_calls, offset = slot * period_s. The budgets differ per domain: the
    hot domain's capacity (70) lifts the literal max_capacity above the
    default 50, and two domains are cut well below it by their own
    per-row capacity."""
    pending = _pending(spark, tiny_seeds_df)
    budgets = {
        "site00000.com": (7, 1),  # capacity 70, below its pending count
        "site00001.org": (3, 4),  # capacity 3 * floor(10 / 4) = 6
        "site00002.net": (4, 3),  # capacity 4 * floor(10 / 3) = 12
    }
    budgets_df = spark.createDataFrame(
        [(d, m, p) for d, (m, p) in budgets.items()],
        "domain string, max_calls int, period_s int",
    )
    rows = pending.select("domain", "priority", "next_fetch_time", "url_sha1").collect()
    by_domain = {}
    for r in rows:
        by_domain.setdefault(r.domain, []).append(r)
    ref = {}
    for d, rs in by_domain.items():
        max_calls, period_s = budgets.get(d, (5, 1))
        capacity = max_calls * (10 // period_s)
        rs.sort(key=lambda r: (-r.priority, r.next_fetch_time, r.url_sha1))
        for rn, r in enumerate(rs[:capacity], start=1):
            slot = (rn - 1) // max_calls
            ref[r.url_sha1] = (rn, slot, float(slot * period_s))
    assert sum(1 for r in rows if r.domain == "site00000.com") > 70

    got = {
        r["url_sha1"]: (r["rn"], r["fetch_slot"], r["scheduled_offset_s"])
        for r in schedule_epoch(pending, budgets=budgets_df, epoch_duration_s=10)
        .select("url_sha1", "rn", "fetch_slot", "scheduled_offset_s").collect()
    }
    assert got == ref


@pytest.mark.slow
def test_topk_state_reuse_is_exact(spark):
    """Boundary reuse across epochs skips the sampling job but must never
    change the answer — even when the reused boundaries are badly stale."""
    import random

    from etherscan_contract_crawler_spark.operators.politeness import global_topk

    random.seed(11)

    def mk(ids, prio_lo, prio_hi):
        rows = [
            (f"u{i:05d}", random.uniform(prio_lo, prio_hi), "d", i % 16)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "url_sha1 string, priority double, domain string, domain_hash int"
        ).withColumn("next_fetch_time", F.lit("2024-01-01 00:00:00").cast("timestamp"))

    state: dict = {}
    df1 = mk(range(3000), 0.0, 1.0)
    got1 = global_topk(df1, 500, state=state)
    exp1 = df1.orderBy(
        F.col("priority").desc(), F.col("next_fetch_time"), F.col("url_sha1")
    ).limit(500)
    assert {r.url_sha1 for r in got1.collect()} == {r.url_sha1 for r in exp1.collect()}
    assert "boundaries" in state
    frozen = list(state["boundaries"])

    # epoch 2: a RADICALLY different priority distribution (all mass above
    # every stored boundary) — reused boundaries are maximally stale
    df2 = mk(range(3000, 6000), 5.0, 6.0)
    got2 = global_topk(df2, 500, state=state)
    exp2 = df2.orderBy(
        F.col("priority").desc(), F.col("next_fetch_time"), F.col("url_sha1")
    ).limit(500)
    assert {r.url_sha1 for r in got2.collect()} == {r.url_sha1 for r in exp2.collect()}
    # staleness detected -> boundaries dropped for resampling next epoch
    assert state.get("boundaries") is None or state["boundaries"] != frozen


@pytest.mark.slow
def test_global_topk_defer_matches_eager_and_releases(spark):
    """defer=True must return the identical row set as the eager path,
    leave the pending-set cache in state['_release'] for the caller, and
    unpersist a predecessor when an aborted epoch never released it."""
    import random

    from etherscan_contract_crawler_spark.operators.politeness import global_topk

    random.seed(23)
    rows = [
        (f"u{i:05d}", random.random(), "d", i % 16) for i in range(3000)
    ]
    df = spark.createDataFrame(
        rows, "url_sha1 string, priority double, domain string, domain_hash int"
    ).withColumn("next_fetch_time", F.lit("2024-01-01 00:00:00").cast("timestamp"))

    eager = {r.url_sha1 for r in global_topk(df, 500, state={}).collect()}

    state: dict = {}
    deferred = global_topk(df, 500, state=state, defer=True)
    assert "_release" in state, "deferred cache handle must be recorded"
    got = {r.url_sha1 for r in deferred.collect()}
    assert got == eager

    # simulate an aborted epoch: caller never released; the next epoch's
    # schedule (a FRESH pending DataFrame, as in the engine) must unpersist
    # the predecessor instead of leaking it
    first_rel = state["_release"]
    df2 = df.filter(F.col("domain_hash") >= 0)  # new plan object, same rows
    global_topk(df2, 500, state=state, defer=True)
    assert state["_release"] is not first_rel
    assert first_rel.storageLevel.useMemory is False  # unpersisted

    # re-scheduling the IDENTICAL object must NOT evict its own cache
    # (persist() returns self, so predecessor and successor alias)
    same = state["_release"]
    global_topk(same, 500, state=state, defer=True)
    assert state["_release"] is same
    assert same.storageLevel.useMemory  # still cached

    # normal release path
    state.pop("_release").unpersist()
