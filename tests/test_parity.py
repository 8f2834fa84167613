"""Parity: engine vs the reference-semantics oracle (SURVEY.md §5.2).

Asserts (a) the ordered fetch sequence per epoch and (b) the final URL-seen /
images / dead-letter sets, under identical seed list + politeness budget —
the north_star's correctness gate.
"""

import pytest

from etherscan_contract_crawler_spark.engine import crawl
from etherscan_contract_crawler_spark.engine.crawl import CrawlEngine, EngineConfig
from etherscan_contract_crawler_spark.operators.politeness import canonical_order
from etherscan_contract_crawler_spark.oracle.reference_oracle import run_oracle


def _schedule_orders(monkeypatch) -> list[list[str]]:
    """Wrap the engine's schedule step: each non-empty schedule's url_sha1
    sequence in canonical crawl order is appended to the returned list. The
    schedule is cached first, so the engine fetches exactly the rows read."""
    orders: list[list[str]] = []
    real = crawl.schedule_epoch

    def schedule_epoch(*a, **k):
        scheduled = real(*a, **k).cache()
        order = [
            r.url_sha1
            for r in scheduled.orderBy(*canonical_order()).select("url_sha1").collect()
        ]
        if order:
            orders.append(order)
        return scheduled

    monkeypatch.setattr(crawl, "schedule_epoch", schedule_epoch)
    return orders


def _run_engine(spark, seeds_df, tmp_path, monkeypatch, **cfg_kw):
    orders = _schedule_orders(monkeypatch)
    eng = CrawlEngine(
        spark, EngineConfig(warehouse=str(tmp_path / "wh"), n_buckets=16, **cfg_kw)
    )
    eng.bootstrap(seeds_df)
    eng.run(max_epochs=30)
    seen = {r.url_sha1 for r in eng.url_seen.read(spark).select("url_sha1").collect()}
    images = {r.image_id for r in eng.images.read(spark).select("image_id").collect()}
    dead = {r.url_sha1 for r in eng.dead_letter.read(spark).select("url_sha1").collect()}
    return eng, orders, seen, images, dead


@pytest.mark.parametrize(
    "gate",
    [
        pytest.param("auto", marks=pytest.mark.slow),   # cost gate picks per epoch
        pytest.param("store", marks=pytest.mark.slow),  # gate at 0: store every epoch
        "join",  # gate out of reach: exact anti-join every epoch — the fast-loop leg
    ],
)
def test_engine_matches_oracle(
    spark, tiny_seed_rows, tiny_seeds_df, tmp_path, monkeypatch, gate
):
    if gate != "auto":
        ratio = 0 if gate == "store" else float("inf")
        monkeypatch.setattr(crawl, "STORE_DEDUP_SEEN_RATIO", ratio)
    eng, orders, seen, images, dead = _run_engine(
        spark, tiny_seeds_df, tmp_path, monkeypatch, epoch_duration_s=10, batch_size=150,
    )
    oracle = run_oracle(
        tiny_seed_rows, epoch_duration_s=10, batch_size=150, max_epochs=30
    )
    assert orders == oracle.epochs, "crawl ordering diverged"
    assert seen == oracle.seen, "URL-seen set diverged"
    assert images == oracle.images
    assert dead == oracle.dead


@pytest.mark.slow
def test_engine_matches_oracle_with_expansion(
    spark, tiny_seed_rows, tiny_seeds_df, tmp_path, monkeypatch
):
    eng, orders, seen, images, dead = _run_engine(
        spark, tiny_seeds_df, tmp_path, monkeypatch, epoch_duration_s=10, batch_size=120,
        expand_links=True,
    )
    oracle = run_oracle(
        tiny_seed_rows, epoch_duration_s=10, batch_size=120, max_epochs=30,
        expand_links=True,
    )
    assert orders == oracle.epochs
    assert seen == oracle.seen
    assert images == oracle.images
    assert dead == oracle.dead
    # expansion actually discovered something: more URLs seen than seeded
    seeded = eng.frontier.read(spark, version=1).select("url_sha1").collect()
    assert any(len(o) for o in orders)
    assert len(seen) > len({r.url_sha1 for r in seeded})


def test_rejected_rows_match_oracle(spark, tiny_seed_rows, tiny_seeds_df, tmp_path):
    from etherscan_contract_crawler_spark.sources.seeds import seeds_to_frontier

    _, rejects = seeds_to_frontier(tiny_seeds_df, n_buckets=16)
    oracle = run_oracle(tiny_seed_rows, max_epochs=0)
    assert rejects.count() == oracle.rejected
