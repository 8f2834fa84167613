"""Pins for the round-5 operator batch: Iceberg-maintenance planning
(compaction bins, snapshot expiry), the self-trained bigram LM perplexity
filter, and curriculum ordering."""

import math

import pytest
from pyspark.sql import functions as F

from etherscan_contract_crawler_spark.analytics.sampling import curriculum_order
from etherscan_contract_crawler_spark.analytics.text import lm_perplexity_filter
from etherscan_contract_crawler_spark.storage.maintenance import (
    rewrite_data_files_plan,
    snapshot_expiry_plan,
)


def test_compaction_greedy_bins_and_passthrough(spark):
    rows = [
        # partition 0: three small files -> bin 0 (10+10), bin 1 (10)
        (0, 1, 10), (0, 2, 10), (0, 3, 10),
        # partition 0: one big file -> passthrough
        (0, 4, 100),
        # partition 1: a lone small file -> bin 0, but no rewrite
        (1, 5, 10),
    ]
    df = spark.createDataFrame(rows, ["part_id", "file_id", "n_bytes"])
    out = {
        r["file_id"]: r
        for r in rewrite_data_files_plan(
            df, target_bytes=20, small_threshold=50, min_input_files=2
        ).collect()
    }
    assert (out[1]["bin"], out[2]["bin"], out[3]["bin"]) == (0, 0, 1)
    assert out[1]["do_rewrite"] and out[2]["do_rewrite"]
    assert not out[3]["do_rewrite"]  # singleton bin
    assert out[4]["bin"] is None and not out[4]["do_rewrite"]  # big file
    assert not out[5]["do_rewrite"]  # lone small file in its partition


def test_compaction_partition_merge_invariance(spark):
    rows = [(i % 3, i, 5 + i % 7) for i in range(60)]
    cols = ["part_id", "file_id", "n_bytes"]

    def run(n):
        return sorted(
            map(tuple, rewrite_data_files_plan(
                spark.createDataFrame(rows, cols).repartition(n),
                target_bytes=25, small_threshold=100,
            ).collect())
        )

    assert run(1) == run(13)


def test_snapshot_expiry_reason_precedence_and_recent(spark):
    # ts in seconds; newest = 1000; retention window 100 s
    rows = [
        (1, 1000, False),  # retain_last
        (2, 990, True),    # head wins over retain_last
        (3, 980, False), (4, 970, False), (5, 960, False),  # retain_last
        (6, 950, False),   # rank 6 but within 100 s of 1000 -> recent
        (7, 800, False),   # expire
    ]
    df = spark.createDataFrame(rows, ["snapshot_id", "committed_at_s", "is_ref_head"])
    out = {
        r["snapshot_id"]: r
        for r in snapshot_expiry_plan(df, retain_last=5, retain_s=100).collect()
    }
    assert out[2]["reason"] == "head"
    assert out[1]["reason"] == "retain_last"
    assert out[6]["reason"] == "recent" and out[6]["keep"]
    assert out[7]["reason"] == "expire" and not out[7]["keep"]
    assert out[7]["age_rank"] == 7


def test_lm_perplexity_hand_value_and_split(spark):
    # reference slice = doc_id % 10 == 0 -> only doc 0 ("a b a b"):
    # bigrams a->b (x2), b->a (x1); c1: a=2, b=1; V = 2
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "z z")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in lm_perplexity_filter(docs, max_neg_logp=1.0).collect()}
    # doc 1: one bigram a->b: -ln((2+1)/(2+2)) = ln(4/3)
    assert abs(out[1]["neg_logp"] - round(math.log(4 / 3), 4)) < 1e-9
    # doc 2: unseen bigram z->z: -ln((0+1)/(0+2)) = ln 2
    assert abs(out[2]["neg_logp"] - round(math.log(2), 4)) < 1e-9
    assert out[1]["keep"] is True and out[2]["keep"] is True
    strict = {r["doc_id"]: r for r in lm_perplexity_filter(docs, max_neg_logp=0.5).collect()}
    assert strict[1]["keep"] is True and strict[2]["keep"] is False


def test_lm_perplexity_empty_reference_slice(spark):
    # no doc_id % 10 == 0 -> no reference model: V = 0 and every
    # denominator is 0 -> DIVIDE_BY_ZERO under ANSI mode, NULL without it
    from pyspark.errors import ArithmeticException

    docs = spark.createDataFrame([(1, "a b a b"), (2, "z z")], ["doc_id", "text"])
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        lm_perplexity_filter(docs, max_neg_logp=1.0).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        out = lm_perplexity_filter(docs, max_neg_logp=1.0).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    assert sorted((r["doc_id"], r["n_bigrams"]) for r in out) == [(1, 3), (2, 1)]
    assert all(r["neg_logp"] is None and r["keep"] is None for r in out)


def test_curriculum_rejects_fractional_difficulty(spark):
    docs = spark.createDataFrame([(1, 0.5), (2, 1.5)], ["doc_id", "difficulty"])
    with pytest.raises(TypeError, match="integral"):
        curriculum_order(docs)


def test_curriculum_positions_gapfree_and_monotone(spark):
    docs = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(200)], ["doc_id", "difficulty"]
    )
    out = curriculum_order(docs, n_buckets=4).collect()
    positions = sorted(r["position"] for r in out)
    assert positions == list(range(1, 201))
    # every doc in a lower bucket sits before every doc in a higher bucket
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["position"])
    buckets = sorted(by_bucket)
    for a, b in zip(buckets, buckets[1:]):
        assert max(by_bucket[a]) < min(by_bucket[b])
    # bucket is monotone in difficulty bands
    for r in out:
        assert r["bucket"] == (4 * r["difficulty"]) // 100


def test_curriculum_repartition_invariance(spark):
    rows = [(i, (i * 13) % 50) for i in range(120)]

    def run(n):
        df = spark.createDataFrame(rows, ["doc_id", "difficulty"]).repartition(n)
        return sorted(map(tuple, curriculum_order(df, n_buckets=5).collect()))

    assert run(1) == run(11)


def test_rendezvous_minimal_movement_and_stability(spark):
    from etherscan_contract_crawler_spark.operators.politeness import (
        rendezvous_assign,
    )

    domains = spark.createDataFrame(
        [(f"d{i}",) for i in range(1000)], ["domain"]
    )
    out = rendezvous_assign(domains, n_slots=20, prev_slots=16).collect()
    moved = sum(1 for r in out if r["moved"])
    # HRW rescale 16 -> 20: expected move fraction (20-16)/20 = 0.2
    assert 0.1 < moved / len(out) < 0.3
    # every moved domain landed in a NEW slot (16..19) — HRW's guarantee
    assert all(r["slot"] >= 16 for r in out if r["moved"])
    # slots are used roughly uniformly (no empty slot at 1000 domains)
    slots = {r["slot"] for r in out}
    assert slots == set(range(20))
    # stability: same n -> identical assignment
    again = rendezvous_assign(domains.repartition(7), n_slots=20).collect()
    a = {r["domain"]: r["slot"] for r in out}
    assert all(a[r["domain"]] == r["slot"] for r in again)


def test_crawl_sessions_gap_boundary(spark):
    import datetime

    from etherscan_contract_crawler_spark.streaming.lateness import (
        crawl_sessions,
    )

    base = datetime.datetime(2026, 1, 1)

    def at(s):
        return base + datetime.timedelta(seconds=s)

    rows = [
        ("a", at(0)), ("a", at(600)),        # exactly gap -> SAME session
        ("a", at(600 + 601)),                # > gap -> new session
        ("b", at(0)),                        # other domain independent
    ]
    df = spark.createDataFrame(rows, ["domain", "ts"])
    out = sorted(
        (r["domain"], r["n_fetches"])
        for r in crawl_sessions(df, gap_s=600).collect()
    )
    assert out == [("a", 1), ("a", 2), ("b", 1)]


def test_crawl_sessions_runs_under_readstream(spark, tmp_path):
    """The operator's claim is that the same session_window expression runs
    unchanged as a streaming agg: drive it through readStream + watermark
    (append mode, availableNow) and check the closed sessions match the
    batch answer for the same input."""
    import datetime
    import os

    from etherscan_contract_crawler_spark.streaming.lateness import (
        crawl_sessions,
    )

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    base = datetime.datetime(2026, 1, 1)
    rows = [
        ("a", base), ("a", base + datetime.timedelta(seconds=300)),
        ("a", base + datetime.timedelta(seconds=2000)),
        ("b", base + datetime.timedelta(seconds=100)),
        # late high-water event so every session above is watermark-closed
        ("z", base + datetime.timedelta(seconds=100000)),
    ]
    ddl = "domain string, ts timestamp"
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(ddl).parquet(in_dir).withWatermark("ts", "1 hour")
    q = (
        crawl_sessions(stream, gap_s=600)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["domain"], r["n_fetches"])
        for r in spark.read.parquet(out_dir).collect()
        if r["domain"] != "z"
    )
    assert got == [("a", 1), ("a", 2), ("b", 1)]
    batch = sorted(
        (r["domain"], r["n_fetches"])
        for r in crawl_sessions(
            spark.createDataFrame(rows, ddl), gap_s=600
        ).collect()
        if r["domain"] != "z"
    )
    assert got == batch


def test_hamilton_allocation_exact_and_bounded(spark):
    from etherscan_contract_crawler_spark.operators.politeness import (
        hamilton_allocate,
    )

    demand = spark.createDataFrame(
        [("a", 7), ("b", 3), ("c", 5), ("d", 1)], ["domain", "n_pending"]
    )
    # shortage: capacity 10 of 16 -> sum(alloc) == 10 exactly, each
    # alloc <= demand, proportionality within 1 of the real quota
    out = {r["domain"]: r["alloc"] for r in hamilton_allocate(demand, 10).collect()}
    assert sum(out.values()) == 10
    for dom, dem in (("a", 7), ("b", 3), ("c", 5), ("d", 1)):
        assert 0 <= out[dom] <= dem
        assert abs(out[dom] - 10 * dem / 16) < 1
    # covered: capacity >= total -> everyone gets full demand
    full = {r["domain"]: r["alloc"] for r in hamilton_allocate(demand, 99).collect()}
    assert full == {"a": 7, "b": 3, "c": 5, "d": 1}


def test_tokenizer_fertility_hand_values(spark):
    from etherscan_contract_crawler_spark.analytics.text import (
        tokenizer_fertility,
    )

    docs = spark.createDataFrame(
        [("en", "ab cd"), ("en", "e,f"), ("de", "x")],
        ["lang", "text"],
    )
    out = {r["lang"]: r for r in tokenizer_fertility(docs).collect()}
    # en: words 'ab','cd' + 'e,f' = 3; tokens ab,cd,e,f = 4; bytes 5+3 = 8
    assert (out["en"]["n_words"], out["en"]["n_tokens"], out["en"]["n_bytes"]) == (3, 4, 8)
    assert abs(out["en"]["fertility"] - round(4 / 3, 6)) < 1e-12
    assert out["de"]["fertility"] == 1.0 and out["de"]["bytes_per_token"] == 1.0
