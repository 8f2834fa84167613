"""Bloom + sorted-key-run segment store: no false negatives; exact probe."""

import numpy as np
import pytest

from etherscan_contract_crawler_spark.operators.bloom import SegmentStore
from etherscan_contract_crawler_spark.oracle.reference_oracle import sha1_py


def _keys(n, salt=""):
    return [sha1_py(f"k{i}{salt}") for i in range(n)]


def test_segment_store_no_false_negatives(spark, tmp_path):
    n_buckets = 8
    seen_rows = [(k, int(k[:4], 16) % n_buckets) for k in _keys(2000)]
    seen = spark.createDataFrame(seen_rows, "url_sha1 string, domain_hash int")
    store = SegmentStore(str(tmp_path / "segs"), n_buckets)
    built = store.build(seen, version=1)
    assert sum(built.values()) == 2000
    probed = store.probe(seen, version=1)
    # every inserted key must come back maybe=True
    assert probed.filter(~probed.bloom_maybe).count() == 0


def test_segment_store_definitely_new_is_correct(spark, tmp_path):
    n_buckets = 8
    seen = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets) for k in _keys(1000)],
        "url_sha1 string, domain_hash int",
    )
    store = SegmentStore(str(tmp_path / "segs"), n_buckets)
    store.build(seen, version=1)
    fresh = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets) for k in _keys(1000, salt="y")],
        "url_sha1 string, domain_hash int",
    )
    probed = store.probe(fresh, version=1).toPandas()
    # most fresh keys skip the join; any that don't are just extra probes
    assert (~probed.bloom_maybe).mean() > 0.95


def test_probe_without_segment_marks_all_new(spark, tmp_path):
    store = SegmentStore(str(tmp_path / "segs"), 4)
    seen = spark.createDataFrame([("a" * 40, 0)], "url_sha1 string, domain_hash int")
    store.build(seen, version=1)
    other_bucket = spark.createDataFrame(
        [(sha1_py("z"), 3)], "url_sha1 string, domain_hash int"
    )
    probed = store.probe(other_bucket, version=1).collect()
    assert probed[0].bloom_maybe is False


def test_sub_segmentation_bounds_segment_size(spark, tmp_path):
    """Scale-aware level-2 segmentation: a bucket holding many keys splits
    into n_sub bounded sub-segments (r1 VERDICT #1 — per-task memory must not
    grow with bucket key count)."""
    import os

    n_buckets, target = 2, 500
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=target)
    seen = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets) for k in _keys(4000)],
        "url_sha1 string, domain_hash int",
    )
    store.build(seen, version=1)
    vdir = tmp_path / "segs" / "v000001"
    segs = [f for f in os.listdir(vdir) if f.startswith("seg") and f.endswith(".npz")]
    assert len(segs) >= 4  # ~2000 keys/bucket over target 500 -> >=4 subs
    for f in segs:
        seg = np.load(vdir / f)
        assert int(seg["n"]) <= int(target * 1.5)  # bounded per segment
    # membership still exact across the split
    probed = store.probe(seen, version=1)
    assert probed.filter(~probed.bloom_maybe).count() == 0


def test_delta_then_rebuild_keeps_membership(spark, tmp_path):
    """Delta OR-in, headroom-exhaustion rebuild (which re-splits the bucket),
    and hardlink carry-over all preserve no-false-negatives."""
    n_buckets = 4
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=400)
    base = [(k, int(k[:4], 16) % n_buckets) for k in _keys(800)]
    seen1 = spark.createDataFrame(base, "url_sha1 string, domain_hash int")
    store.build(seen1, version=1)
    # delta > headroom for some segments -> per-bucket rebuild path runs
    extra = [(k, int(k[:4], 16) % n_buckets) for k in _keys(2400, salt="d")]
    delta = spark.createDataFrame(extra, "url_sha1 string, domain_hash int")
    all_seen = spark.createDataFrame(base + extra, "url_sha1 string, domain_hash int")
    store.build_delta(delta, all_seen, prev_version=1, version=2)
    assert store.versions() == [1, 2]
    probed = store.probe(all_seen, version=2)
    assert probed.filter(~probed.bloom_maybe).count() == 0


def test_partial_build_is_invisible(spark, tmp_path):
    """Atomic publish (r1 ADVICE): a crash mid-build leaves only a .tmp dir;
    versions() must not report it, so the engine's staleness guard degrades
    to the exact anti-join instead of probing a half-built version."""
    import os

    store = SegmentStore(str(tmp_path / "segs"), 4)
    seen = spark.createDataFrame(
        [(k, int(k[:4], 16) % 4) for k in _keys(100)], "url_sha1 string, domain_hash int"
    )
    store.build(seen, version=1)
    # simulate a crashed v2 build: tmp dir exists with a partial segment
    os.makedirs(tmp_path / "segs" / "v000002.tmp", exist_ok=True)
    assert store.versions() == [1]
    store.build_delta(seen.limit(10), seen, prev_version=1, version=2)
    assert store.versions() == [1, 2]
    store.expire(keep_last=1)
    assert store.versions() == [2]


@pytest.mark.slow
def test_ten_million_key_store_bounded_segments(spark, tmp_path):
    """r1 VERDICT #1 'done' criterion: build+probe a >=10^7-key store with
    per-segment memory asserted under budget. Keys generated JVM-side."""
    import os

    from pyspark.sql import functions as F

    n, n_buckets, target = 10_000_000, 8, 1_000_000
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=target)
    seen = spark.range(n).select(
        F.sha1(F.col("id").cast("string")).alias("url_sha1"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int").alias("domain_hash"),
    )
    counts = store.build(seen, version=1)
    assert sum(counts.values()) == n
    vdir = tmp_path / "segs" / "v000001"
    segs = [f for f in os.listdir(vdir) if f.startswith("seg") and f.endswith(".npz")]
    assert len(segs) >= 8 * (n // n_buckets // target)  # parallelism scales with keys
    budget_bytes = 16 * 1024 * 1024  # bitmap budget per segment task
    for f in segs:
        seg = np.load(vdir / f)
        assert int(seg["n"]) <= int(target * 1.5)
        assert seg["bitmap"].nbytes < budget_bytes
    # membership: every inserted key in a 200k sample must come back maybe
    sample = seen.filter(F.pmod(F.xxhash64("url_sha1"), F.lit(50)) == 0)
    assert store.probe(sample, version=1).filter(~F.col("bloom_maybe")).count() == 0
    # fresh keys mostly skip the join
    fresh = spark.range(n, n + 200_000).select(
        F.sha1(F.concat(F.lit("f"), F.col("id").cast("string"))).alias("url_sha1"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).cast("int").alias("domain_hash"),
    )
    probed = store.probe(fresh, version=1)
    n_fresh = probed.count()
    n_skip = probed.filter(~F.col("bloom_maybe")).count()
    assert n_skip / n_fresh > 0.95


def test_bloom_fpr_measured(spark, tmp_path):
    """FIXTURES.md §8 'small' purpose: measured FPR sanity (bits_per_key=12,
    k=7 -> theoretical ~0.3%)."""
    n_buckets = 4
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, bits_per_key=12)
    seen = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets) for k in _keys(5000)],
        "url_sha1 string, domain_hash int",
    )
    store.build(seen, version=1)
    probe = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets) for k in _keys(5000, salt="q")],
        "url_sha1 string, domain_hash int",
    )
    fpr = store.probe(probe, version=1).toPandas().bloom_maybe.mean()
    assert fpr < 0.02


def test_exact_membership_no_errors_across_deltas(spark, tmp_path):
    """LSM exact mode: zero false positives AND zero false negatives vs a
    python set, across base build + two delta runs + a fold rebuild."""
    from pyspark.sql import functions as F

    n_buckets = 4
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=300)

    def df_of(keys):
        return spark.createDataFrame(
            [(k, int(k[:4], 16) % n_buckets) for k in keys],
            "url_sha1 string, domain_hash int",
        )

    base = _keys(600)
    d1 = _keys(200, salt="d1")
    d2 = _keys(900, salt="d2")  # big delta -> 2x-target fold triggers
    store.build(df_of(base), version=1)
    store.build_delta(df_of(d1), df_of(base + d1), 1, 2)
    store.build_delta(df_of(d2), df_of(base + d1 + d2), 2, 3)

    inserted = set(base + d1 + d2)
    fresh = _keys(800, salt="nope")
    probe_all = df_of(list(inserted) + fresh)
    got = {r["url_sha1"]: r["seen"] for r in store.probe(probe_all, 3, exact=True).collect()}
    for k in inserted:
        assert got[k] is True, "false negative"
    for k in fresh:
        assert got[k] is False, "false positive"
    # delta versions carry hardlinked bases + small run files
    import os

    v2 = [f for f in os.listdir(tmp_path / "segs" / "v000002") if ".r" in f and f.endswith(".npz")]
    assert v2, "delta version should hold LSM run files"


def test_unseen_exact_path_matches_anti_join(spark, tmp_path):
    """The engine's store-based dedup (no url_seen join) must equal the
    exact anti-join answer row-for-row."""
    from etherscan_contract_crawler_spark.operators.dedup import (
        anti_join_seen,
        unseen_with_bloom,
    )

    n_buckets = 4
    seen_keys = _keys(1500)
    cand_keys = seen_keys[700:] + _keys(900, salt="new")
    seen = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets) for k in seen_keys],
        "url_sha1 string, domain_hash int",
    )
    cands = spark.createDataFrame(
        [(k, int(k[:4], 16) % n_buckets, i) for i, k in enumerate(cand_keys)],
        "url_sha1 string, domain_hash int, payload int",
    )
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=400)
    store.build(seen, version=1)
    via_store = {tuple(r) for r in unseen_with_bloom(cands, seen, store, 1).collect()}
    via_join = {tuple(r) for r in anti_join_seen(cands, seen).collect()}
    assert via_store == via_join
    assert len(via_store) == 900


def test_delta_build_never_links_and_copies_nothing(spark, tmp_path, monkeypatch):
    """Object-store compatibility (r2 VERDICT #3): a delta version carries
    prior segments by MANIFEST REFERENCE — os.link must never run (S3/HDFS
    have no hardlinks), and the new version dir must contain only the new
    run files + manifest, not copies of prior bases."""
    import os as _os

    def _no_link(*a, **kw):
        raise AssertionError("os.link is forbidden: object stores have no hardlinks")

    monkeypatch.setattr(_os, "link", _no_link)
    n_buckets = 4
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=400)
    base = [(k, int(k[:4], 16) % n_buckets) for k in _keys(300)]
    store.build(spark.createDataFrame(base, "url_sha1 string, domain_hash int"), version=1)
    extra = [(k, int(k[:4], 16) % n_buckets) for k in _keys(100, salt="d")]
    delta = spark.createDataFrame(extra, "url_sha1 string, domain_hash int")
    all_seen = spark.createDataFrame(base + extra, "url_sha1 string, domain_hash int")
    store.build_delta(delta, all_seen, prev_version=1, version=2)

    v2_files = sorted(_os.listdir(tmp_path / "segs" / "v000002"))
    assert "meta.json" in v2_files
    seg_files = [f for f in v2_files if f.startswith("seg")]
    assert seg_files and all(".r" in f for f in seg_files), (
        "delta dir must hold only run files (bases stay referenced in v1): "
        f"{seg_files}"
    )
    # exact membership still sees base + delta through the manifest
    got = {
        r["url_sha1"]: r["seen"]
        for r in store.probe(all_seen, 2, exact=True).collect()
    }
    assert all(got.values())


def test_expire_retains_referenced_dirs(spark, tmp_path):
    """A version past keep_last loses its manifest but its FILES survive as
    long as a retained manifest references them (Iceberg expiry semantics);
    probes through the retained version keep working."""
    import os as _os

    n_buckets = 2
    store = SegmentStore(str(tmp_path / "segs"), n_buckets, target_keys_per_segment=1000)
    base = [(k, int(k[:4], 16) % n_buckets) for k in _keys(200)]
    store.build(spark.createDataFrame(base, "url_sha1 string, domain_hash int"), version=1)
    keys_cum = list(base)
    for v in (2, 3):
        extra = [(k, int(k[:4], 16) % n_buckets) for k in _keys(50, salt=f"d{v}")]
        keys_cum += extra
        store.build_delta(
            spark.createDataFrame(extra, "url_sha1 string, domain_hash int"),
            spark.createDataFrame(keys_cum, "url_sha1 string, domain_hash int"),
            v - 1,
            v,
        )
    assert store.versions() == [1, 2, 3]
    expired = store.expire(keep_last=1)
    assert expired == [1, 2]
    assert store.versions() == [3]
    # v1 holds the bases v3's manifest references — files must survive
    assert _os.path.isdir(tmp_path / "segs" / "v000001")
    assert not _os.path.exists(tmp_path / "segs" / "v000001" / "meta.json")
    all_df = spark.createDataFrame(keys_cum, "url_sha1 string, domain_hash int")
    got = {r["url_sha1"]: r["seen"] for r in store.probe(all_df, 3, exact=True).collect()}
    assert all(got.values())


def test_pre_manifest_version_dirs_are_invisible(spark, tmp_path):
    """r2 ADVICE: a workdir written by the pre-manifest store format (no
    meta.json / no segments key) must be ignored by versions() — the engine
    then degrades to the exact anti-join and a full rebuild heals — instead
    of crashing probe/build_delta with FileNotFoundError."""
    import json as _json
    import os as _os

    store = SegmentStore(str(tmp_path / "segs"), 2)
    # fake an old-format version dir: segment files, meta without 'segments'
    old = tmp_path / "segs" / "v000001"
    _os.makedirs(old)
    with open(old / "meta.json", "w") as f:
        _json.dump({"n_sub": {"0": 1}, "n_keys": {"0": 10}, "exact": True}, f)
    (old / "seg00000_0000.npz").write_bytes(b"not-a-real-npz")
    assert store.versions() == []
    # and a dir with no meta at all
    _os.makedirs(tmp_path / "segs" / "v000002")
    assert store.versions() == []
    # building fresh on top still works
    seen = spark.createDataFrame(
        [(k, int(k[:4], 16) % 2) for k in _keys(50)], "url_sha1 string, domain_hash int"
    )
    store.build(seen, version=3)
    assert store.versions() == [3]


def test_bloom_fpr_gate_removes_its_temp_store(spark, tmp_path, monkeypatch):
    """The bloom_fpr_gate driver query builds its segment store in a temp
    dir; the dir must be gone once the query returns, and the returned rows
    must not depend on it."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    sf = tmp_path / "sf"
    spark.range(2000).select(F.col("id").alias("o_orderkey")).write.parquet(
        str(sf / "orders.parquet")
    )
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    [row] = entry.QUERIES["bloom_fpr_gate"](spark, str(sf)).collect()
    assert row.n_seen == row.n_fresh == 2000
    assert row.no_false_negatives and row.fpr_le_2pct
    assert not list(scratch.glob("bloom_gate_*"))
