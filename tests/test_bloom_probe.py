"""Segment-store probe contract: full rows in, the same rows plus a flag out;
the sub-segment key without a Python-built dim."""

import datetime as dt

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etherscan_contract_crawler_spark.operators.bloom import SegmentStore
from etherscan_contract_crawler_spark.oracle.reference_oracle import sha1_py
from etherscan_contract_crawler_spark.sources.seeds import FRONTIER_DDL


def _frontier_rows(keys_by_bucket):
    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for b, keys in sorted(keys_by_bucket.items()):
        for i, k in enumerate(keys):
            url = f"https://d{b}.example/address/0x{k}#code"
            rows.append(
                (url, url.lower(), k, f"d{b}.example", b, (i % 7) / 7.0, i % 3,
                 "pending", i % 2, t, b)
            )
    return rows


def test_probe_returns_input_rows_plus_seen_on_split_buckets(spark, tmp_path):
    """Buckets 0-1 split into sub-segments, 2-5 do not, 6-7 are absent from
    the store; full 11-column frontier rows come back with exactly one added
    column whose value is Python set membership, and the other columns as
    given."""
    sizes = {0: 450, 1: 330, 2: 60, 3: 60, 4: 20, 5: 5}
    seen_keys = {b: [sha1_py(f"s{b}:{i}") for i in range(n)] for b, n in sizes.items()}
    seen = spark.createDataFrame(
        [(k, b) for b, ks in seen_keys.items() for k in ks],
        "url_sha1 string, domain_hash int",
    )
    store = SegmentStore(str(tmp_path / "segs"), 8, target_keys_per_segment=100)
    store.build(seen, version=1)
    n_sub = store._meta(1)["n_sub"]
    assert n_sub[0] == 5 and n_sub[1] == 4 and n_sub[2] == 1
    assert 6 not in n_sub and 7 not in n_sub

    cand_keys = {
        b: seen_keys.get(b, [])[::3] + [sha1_py(f"f{b}:{i}") for i in range(40)]
        for b in range(8)
    }
    rows = _frontier_rows(cand_keys)
    frontier = spark.createDataFrame(rows, FRONTIER_DDL)
    probed = store.probe(frontier, 1, exact=True)
    assert probed.columns == frontier.columns + ["seen"]

    members = {k for ks in seen_keys.values() for k in ks}
    got = [tuple(r) for r in probed.collect()]
    assert sorted(r[:-1] for r in got) == sorted(tuple(r) for r in frontier.collect())
    assert all(r[-1] == (r[2] in members) for r in got)
    assert sum(r[-1] for r in got) == sum(len(ks[::3]) for ks in seen_keys.values())

    # the sub-segment key equals the broadcast-dim formula it replaced
    dim = spark.createDataFrame(list(n_sub.items()), "domain_hash int, _n_sub int")
    old = frontier.join(F.broadcast(dim), "domain_hash", "left").select(
        "url_sha1",
        F.when(F.col("_n_sub").isNull() | (F.col("_n_sub") <= 1), F.lit(0))
        .otherwise(
            F.pmod(
                F.conv(F.substring("url_sha1", 33, 8), 16, 10).cast("long"),
                F.col("_n_sub"),
            )
        )
        .cast("int")
        .alias("_sub"),
    )
    new = store._with_sub(frontier, n_sub).select("url_sha1", "_sub")
    assert dict(new.collect()) == dict(old.collect())
    assert {s for _, s in new.collect()} == set(range(5))


def _keyed(spark, n, prefix, n_buckets=4):
    sha = F.sha1(F.concat(F.lit(prefix), F.col("id").cast("string")))
    return spark.range(n).select(
        sha.alias("url_sha1"),
        F.pmod(F.conv(F.substring(sha, 1, 4), 16, 10).cast("long"), F.lit(n_buckets))
        .cast("int")
        .alias("domain_hash"),
    )


def test_unsplit_store_probe_and_delta_build_use_no_local_data(spark, tmp_path, monkeypatch):
    """On a store where no bucket splits (the steady case), neither the probe
    nor the incremental build plans a local-data dim: no Python job over a
    driver-side collection, no broadcast join."""
    seen = _keyed(spark, 600, "s")
    store = SegmentStore(str(tmp_path / "segs"), 4)
    store.build(seen, version=1)
    assert set(store._meta(1)["n_sub"].values()) == {1}

    delta = _keyed(spark, 200, "d")
    plan = (
        store.probe(delta.union(seen.limit(50)), 1, exact=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("LocalTableScan", "ExistingRDD", "BroadcastExchange"):
        assert node not in plan, plan

    def no_local_data(*a, **k):
        raise AssertionError("createDataFrame called on the store path")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_local_data)
    store.build_delta(delta, seen.union(delta), 1, 2)
    got = store.probe(delta.union(seen.limit(50)), 2, exact=True)
    assert got.filter(~F.col("seen")).count() == 0
    fresh = store.probe(_keyed(spark, 300, "f"), 2, exact=True)
    assert fresh.filter(F.col("seen")).count() == 0


@pytest.mark.parametrize("bad", ["abc", "z" * 40])
def test_probe_rejects_non_digest_keys(spark, tmp_path, bad):
    seen = spark.createDataFrame([(sha1_py("a"), 0)], "url_sha1 string, domain_hash int")
    store = SegmentStore(str(tmp_path / "segs"), 1)
    store.build(seen, version=1)
    cands = spark.createDataFrame([(bad, 0)], "url_sha1 string, domain_hash int")
    with pytest.raises(Exception, match="sha1 hex|non-hexadecimal"):
        store.probe(cands, 1, exact=True).collect()
