"""Round-4 late additions: anchor-text agg, n-gram novelty, shard
assignment, aspect buckets — semantics each oracle can't pin alone."""

from etherscan_contract_crawler_spark.analytics.graph import anchor_text_agg
from etherscan_contract_crawler_spark.analytics.multimodal import (
    ASPECT_BUCKETS,
    aspect_bucket,
)
from etherscan_contract_crawler_spark.analytics.packing import shard_assign
from etherscan_contract_crawler_spark.analytics.text import ngram_novelty


def test_anchor_text_modal_with_tiebreak(spark):
    edges = spark.createDataFrame(
        [
            # dst 1: 'b' x2, 'a' x2 -> tie broken lexically -> 'a'
            (10, 1, "b"), (11, 1, "b"), (12, 1, "a"), (13, 1, "a"),
            # dst 2: repeat src counts once in n_srcs, twice in inlinks
            (20, 2, "z"), (20, 2, "z"), (21, 2, "y"),
        ],
        ["src", "dst", "anchor"],
    )
    out = {r["dst"]: r for r in anchor_text_agg(edges).collect()}
    assert out[1]["n_inlinks"] == 4 and out[1]["n_srcs"] == 4
    assert out[1]["top_anchor"] == "a" and out[1]["top_anchor_n"] == 2
    assert out[2]["n_inlinks"] == 3 and out[2]["n_srcs"] == 2
    assert out[2]["top_anchor"] == "z" and out[2]["top_anchor_n"] == 2


def test_ngram_novelty_unique_vs_shared(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # 1 trigram, unique
            (2, "one two three four"),        # 2 trigrams, both shared w/ 3
            (3, "one two three four five"),   # 3 trigrams, 2 shared + 1 unique
            (4, "too short"),                 # no trigram -> absent
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_grams"] == 1 and out[1]["novelty"] == 1.0
    assert out[2]["n_grams"] == 2 and out[2]["n_unique"] == 0
    assert out[3]["n_grams"] == 3 and out[3]["n_unique"] == 1
    assert abs(out[3]["novelty"] - round(1 / 3, 4)) < 1e-9


def test_shard_assign_balances_each_band(spark):
    # 64 docs in one size band, 16 in another; 4 shards, 1 salt ->
    # exact round-robin within each band
    rows = [(i, 100) for i in range(64)] + [(1000 + i, 900) for i in range(16)]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = shard_assign(docs, n_shards=4, band_width=512, n_salts=1)
    per = {
        (r["band"], r["shard"]): r["count"]
        for r in out.groupBy("band", "shard").count().collect()
    }
    assert all(per[(0, s)] == 16 for s in range(4))
    assert all(per[(1, s)] == 4 for s in range(4))


def test_shard_assign_deterministic_across_partitionings(spark):
    rows = [(i, 37 * (i % 29) + 5) for i in range(300)]
    docs1 = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    docs2 = docs1.repartition(13)
    a = {r["doc_id"]: r["shard"] for r in shard_assign(docs1).collect()}
    b = {r["doc_id"]: r["shard"] for r in shard_assign(docs2).collect()}
    assert a == b


def test_aspect_bucket_nearest_and_tiebreak(spark):
    rows = [
        (1, 512, 512),   # exactly 1:1
        (2, 1000, 2100), # 476 -> 1:2
        (3, 875, 1000),  # 875 milli, equidistant 750/1000 -> smaller (3:4)
        (4, 4000, 100),  # extreme wide -> clamps to 2:1
    ]
    df = spark.createDataFrame(rows, ["image_id", "w", "h"])
    out = {r["image_id"]: r for r in aspect_bucket(df).collect()}
    assert out[1]["bucket"] == "1:1" and out[1]["target_w"] == 512
    assert out[2]["bucket"] == "1:2"
    assert out[3]["bucket"] == "3:4"
    assert out[4]["bucket"] == "2:1" and out[4]["target_h"] == 384
    # every target is a multiple of 64 (batcher contract)
    for _, _, tw, th in ASPECT_BUCKETS:
        assert tw % 64 == 0 and th % 64 == 0


def test_oov_rate_vocab_cut_tiebreak(spark):
    from etherscan_contract_crawler_spark.analytics.text import oov_rate

    # freq: 'a' x3; 'b','c' x2 each (tie at the K=2 cut -> 'b' in, 'c' out)
    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in oov_rate(docs, vocab_size=2).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1
    assert out[2]["n_oov"] == 1 and abs(out[2]["oov_rate"] - 0.3333) < 1e-9


def test_fetch_chunked_emit_one_row_per_input(spark, monkeypatch):
    # chunked Arrow emit must preserve the one-row-per-input contract
    # exactly, across chunk boundaries (737 % 64 != 0 on purpose)
    import pyspark.sql.functions as F

    from etherscan_contract_crawler_spark.operators import fetch as fetch_mod
    from etherscan_contract_crawler_spark.operators.fetch import fetch_batch

    monkeypatch.setattr(fetch_mod, "EMIT_ROWS", 64)
    n = 737
    scheduled = spark.range(n).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1"),
        F.concat(F.lit("https://d"), (F.col("id") % 9).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("https://d"), (F.col("id") % 9).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url_canon"),
        F.concat(F.lit("d"), (F.col("id") % 9).cast("string"),
                 F.lit(".example.com")).alias("domain"),
        (F.col("id") % 97).cast("int").alias("domain_hash"),
        F.lit(1.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0.0).alias("scheduled_offset_s"),
        (F.col("id") % 5).cast("int").alias("fetch_slot"),
    )
    out = fetch_batch(scheduled).select("url_sha1", "status").cache()
    assert out.count() == n
    assert out.select("url_sha1").distinct().count() == n
    out.unpersist()
