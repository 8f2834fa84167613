"""Segmented URL-seen membership store: bloom + exact sorted key runs
(SURVEY.md §4, M3; LSM layout added in round 2).

Why segmented: at the 10^10-key target a single Bloom filter is ~11.2 GiB of
bits at 1% FPR — un-broadcastable. Segmentation is TWO-LEVEL:

  * level 1 — ``domain_hash`` bucket, the SAME bucketing as the frontier, so
    probe/build tasks co-partition with the frontier shuffle;
  * level 2 — ``_sub`` sub-segment within a bucket, derived from an
    independent slice of the sha1 digest, with ``n_sub = ceil(bucket_keys /
    target_keys_per_segment)``. Per-task memory is bounded by
    ``target_keys_per_segment`` no matter how many keys a bucket
    accumulates, and probe parallelism grows with the key count (10^10 keys
    → ~2.5k segment tasks) instead of being capped at the bucket count.

Why LSM runs (round 2): the first design OR-ed each epoch's delta into the
segment bitmaps, which rewrites O(segment) bytes per touched segment per
epoch, and exact dedup still needed a Spark anti-join that SCANS the whole
url_seen table every epoch — the last O(total)-per-epoch costs in the
engine. Now a segment is:

    seg{b}_{s}.npz        — immutable BASE: bloom bitmap + n
    seg{b}_{s}.keys.npy   — immutable sorted 20-byte digests (mmap-able)
    seg{b}_{s}.r{j}.npz   — delta RUN j: its own small bloom + n
    seg{b}_{s}.r{j}.keys.npy — run j's sorted digests

An epoch's delta build WRITES ONE NEW RUN per touched segment — O(delta)
bytes — and references everything else through the version's RUN MANIFEST
(round 3; r2 VERDICT #3): ``meta.json`` records, per segment, the base file
and run files as store-root-relative paths into the immutable version dirs
where they were first written — exactly how ``storage/icetable.py`` data
dirs reference parquet files. No hardlinks (object stores have none), no
per-task directory listing (the manifest rides a Spark broadcast into the
probe/delta tasks): at the 10^10 design point a version holds ~2.5k
segments × (base + ≤6 runs), and the old ``os.link``-everything +
``os.listdir``-per-task design cost O(segments) links per epoch and
O(segments²) filesystem metadata calls per probe. Membership is EXACT:
bloom(base) ∨ bloom(runs) short-circuits the misses, and the hits are
verified by binary search (``np.searchsorted``) over the memory-mapped
sorted key files — no Spark join against url_seen at all. When a segment
accumulates MAX_RUNS runs (or outgrows 2× target) its bucket is rebuilt,
folding the runs into a fresh base and re-splitting ``n_sub`` — the LSM
compaction, on the same cadence math as classic leveled stores. Fold
triggers are decided from manifest-recorded key counts — no file opens.

Versions publish ATOMICALLY: everything builds into ``v{N}.tmp`` and one
rename makes it live; a crash mid-build leaves no partial version that
``versions()`` could mistake for complete (the engine's staleness guard then
degrades to the exact Spark anti-join, which is always correct).

Guarantees (property-tested): the bloom has NO false negatives; the exact
key runs have NO false positives and NO false negatives — the exact probe
IS the dedup answer. The blooms are only its pre-filter: at 12 bits/key
with 2x headroom and k=7 each passes ~6e-5 of fresh keys on to the binary
search (a segment ORs its base's and ≤MAX_RUNS runs' blooms), so no
second-stage filter (e.g. a cuckoo table) in front of the key runs could
save a measurable share of searches.

Hashing: url_sha1 is already a uniform 160-bit digest; h1/h2 are its first
two 64-bit words, bit_i = (h1 + i*h2) mod m (standard double hashing); the
sub-segment key uses hex chars 33-40, independent of h1/h2; the exact runs
store the full 20-byte digest (no truncation — parity never rides on a
probability).

Reference analog: the in-memory ``set`` seen-check
(blockchain-multichain-monitor.py:28, :83-85) and dir-existence probes
(contract_crawler.py:364-365, :378-379).
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _digests(sha1_hex: pa.ChunkedArray) -> np.ndarray:
    """Each sha1 hex digest of an Arrow string column as its 20 raw bytes
    (S20: lexicographic order == numeric digest order), decoded in one
    C-speed pass over the column's value buffer — no per-row Python object."""
    arr = sha1_hex.combine_chunks()
    offsets = np.frombuffer(
        arr.buffers()[1], np.int64 if pa.types.is_large_string(arr.type) else np.int32
    )[arr.offset : arr.offset + len(arr) + 1]
    if arr.null_count or (np.diff(offsets) != 40).any():
        raise ValueError("url_sha1 must hold 40-char sha1 hex digests")
    hexed = memoryview(arr.buffers()[2])[offsets[0] : offsets[-1]]
    return np.frombuffer(bytes.fromhex(hexed.tobytes().decode("ascii")), dtype="S20")


def _h1h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """First two big-endian 64-bit words of each S20 digest."""
    words = keys.view(np.uint8).reshape(-1, 20)[:, :16].copy().view(">u8")
    return words[:, 0].astype(np.uint64), words[:, 1].astype(np.uint64) | np.uint64(1)


def _bloom_params(
    n_keys: int, bits_per_key: int = 12, n_hashes: int = 7, headroom: float = 2.0
) -> tuple[int, int]:
    m = max(64, int(n_keys * bits_per_key * headroom))
    return m, n_hashes


def _or_bits(bitmap: np.ndarray, idx: np.ndarray) -> None:
    """OR bit positions ``idx`` into ``bitmap`` (uint8, little-bit-endian).

    sort + reduceat instead of np.bitwise_or.at: ufunc.at is unbuffered and
    ~50x slower; this is the hot loop of a multi-million-key segment build.
    """
    u = np.unique(idx)  # sorted unique bit positions
    if not len(u):
        return
    byte = (u >> np.uint64(3)).astype(np.int64)
    val = (np.uint8(1) << (u & np.uint64(7)).astype(np.uint8))
    starts = np.flatnonzero(np.diff(byte, prepend=byte[0] - 1))
    bitmap[byte[starts]] |= np.bitwise_or.reduceat(val, starts)


def _bloom_insert(bitmap: np.ndarray, m: int, k: int, h1: np.ndarray, h2: np.ndarray) -> None:
    mm = np.uint64(m)
    for i in range(k):
        _or_bits(bitmap, (h1 + np.uint64(i) * h2) % mm)


def _bloom_test(bitmap: np.ndarray, m: np.uint64, k: int, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    maybe = np.ones(len(h1), dtype=bool)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % m
        bit = (bitmap[(idx >> np.uint64(3)).astype(np.int64)]
               >> (idx & np.uint64(7)).astype(np.uint8)) & 1
        maybe &= bit.astype(bool)
    return maybe


def _sorted_contains(sorted_keys: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Exact membership of ``keys`` in ``sorted_keys`` (both S20) — binary
    search; sorted_keys may be a np.memmap (only O(log n) pages touched)."""
    if not len(sorted_keys):
        return np.zeros(len(keys), dtype=bool)
    pos = np.searchsorted(sorted_keys, keys)
    pos_c = np.minimum(pos, len(sorted_keys) - 1)
    return (pos < len(sorted_keys)) & (np.asarray(sorted_keys[pos_c]) == keys)


def _probe_segment(root: str, ent: dict, keys: np.ndarray, exact: bool) -> np.ndarray:
    """Membership flags of the S20 ``keys`` in one segment (its manifest
    entry ``ent``: a base and its runs). Not ``exact``: the OR of the
    blooms. ``exact``: each bloom hit verified by binary search over the
    mmap'd sorted keys of the file whose bloom passed it."""
    h1, h2 = _h1h2(keys)
    paths = [os.path.join(root, *rel.split("/")) for rel in [ent["base"], *ent["runs"]]]
    maybes = []
    for path in paths:
        seg = np.load(path)
        maybes.append(_bloom_test(seg["bitmap"], np.uint64(int(seg["m"])), int(seg["k"]), h1, h2))
    maybe = np.logical_or.reduce(maybes)
    if not exact:
        return maybe
    idx = np.flatnonzero(maybe)
    hits = keys[idx]
    found = np.zeros(len(idx), dtype=bool)
    for path, file_maybe in zip(paths, maybes):
        sel = file_maybe[idx] & ~found
        if sel.any():
            sorted_keys = np.load(SegmentStore._keys_name(path), mmap_mode="r")
            found[sel] = _sorted_contains(sorted_keys, hits[sel])
    seen = np.zeros(len(keys), dtype=bool)
    seen[idx] = found
    return seen


def _one_row(**cols) -> pa.Table:
    """One-row grouped-map result (Python ints arrive as Spark longs)."""
    return pa.table({k: [v] for k, v in cols.items()})


def _write_segment(
    build_dir: str, name: str, keys: np.ndarray, bits_per_key: int, n_hashes: int
) -> int:
    """Write one segment file pair into ``build_dir``: a bloom sized for the
    S20 digests ``keys`` as ``name`` (.npz) and the sorted digests beside it
    (.keys.npy), each saved under a task-unique tmp name and renamed into
    place. Returns the key count."""
    n = len(keys)
    m, k = _bloom_params(n, bits_per_key, n_hashes)
    bitmap = np.zeros((m + 7) // 8, dtype=np.uint8)
    _bloom_insert(bitmap, m, k, *_h1h2(keys))
    path = os.path.join(build_dir, name)
    kpath = os.path.join(build_dir, SegmentStore._keys_name(name))
    # tmp names keep the final suffix: np.savez/np.save append one otherwise
    tmp, ktmp = (f"{p[:-4]}.tmp{os.getpid()}{p[-4:]}" for p in (path, kpath))
    np.savez_compressed(tmp, bitmap=bitmap, m=np.int64(m), k=np.int64(k), n=np.int64(n))
    os.replace(tmp, path)
    np.save(ktmp, np.sort(keys))
    os.replace(ktmp, kpath)
    return n


class SegmentStore:
    """Filesystem-backed, versioned membership segments (see module doc).

    On a cluster the root is shared storage (HDFS/S3 via a local mount or
    download-to-tmp); each task touches only its own segment's files, and
    manifest references across versions mean an epoch's new version costs
    O(delta) bytes of new data — version dirs are immutable once published,
    which is the object-store-compatible contract (write-once, no links, no
    renames of individual files after publish).
    """

    MAX_RUNS = 6  # LSM fold trigger: probe cost stays O(1 base + ≤6 runs)

    def __init__(
        self,
        root: str,
        n_buckets: int,
        bits_per_key: int = 12,
        n_hashes: int = 7,
        target_keys_per_segment: int = 4_000_000,
    ):
        self.root = root
        self.n_buckets = n_buckets
        self.bits_per_key = bits_per_key
        self.n_hashes = n_hashes
        self.target_keys = target_keys_per_segment

    # ---------- paths / metadata ----------
    def _ver_dir(self, version: int, tmp: bool = False) -> str:
        d = os.path.join(self.root, f"v{version:06d}")
        return d + ".tmp" if tmp else d

    @staticmethod
    def _base_name(bucket: int, sub: int) -> str:
        return f"seg{bucket:05d}_{sub:04d}.npz"

    @staticmethod
    def _run_name(bucket: int, sub: int, j: int) -> str:
        return f"seg{bucket:05d}_{sub:04d}.r{j:03d}.npz"

    @staticmethod
    def _keys_name(npz_name: str) -> str:
        return npz_name[:-4] + ".keys.npy"

    def versions(self) -> list[int]:
        """Published, USABLE versions only — .tmp build dirs and dirs lacking
        a run-manifest meta.json (e.g. written by a pre-manifest store
        format) are invisible (r2 ADVICE: a resumed pre-upgrade workdir must
        degrade to the exact anti-join + full rebuild, not crash)."""
        if not os.path.isdir(self.root):
            return []
        out = []
        for d in os.listdir(self.root):
            if not (d.startswith("v") and not d.endswith(".tmp") and d[1:].isdigit()):
                continue
            try:
                with open(os.path.join(self.root, d, "meta.json")) as f:
                    if "segments" in json.load(f):
                        out.append(int(d[1:]))
            except (OSError, ValueError):
                continue
        return sorted(out)

    def expire(self, keep_last: int = 2) -> list[int]:
        """Iceberg-style snapshot expiry: versions beyond the newest
        ``keep_last`` lose their MANIFEST (meta.json — versions() stops
        listing them), and a version dir's FILES are reclaimed only once no
        retained manifest references them (manifests point into older
        immutable dirs instead of copying their files). Also sweeps stale
        .tmp build dirs and unusable pre-manifest dirs. Active segments fold
        every ≤MAX_RUNS epochs, so the referenced-dir set stays bounded by
        O(base-build epochs + MAX_RUNS), not O(history)."""
        if not os.path.isdir(self.root):
            return []
        vs = self.versions()
        kept = set(vs[-keep_last:]) if keep_last > 0 else set()
        referenced = {f"v{v:06d}" for v in kept}
        for v in kept:
            for ent in self._meta(v)["segments"].values():
                referenced.add(ent["base"].split("/", 1)[0])
                for r in ent["runs"]:
                    referenced.add(r.split("/", 1)[0])
        expired: list[int] = []
        newest = max(vs, default=-1)
        for d in os.listdir(self.root):
            if d.endswith(".tmp"):
                if d[1:-4].isdigit() and int(d[1:-4]) <= newest:
                    shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                continue
            if not (d.startswith("v") and d[1:].isdigit()):
                continue
            v = int(d[1:])
            if v in kept:
                continue
            if d in referenced:
                # expired version whose files are still referenced: drop only
                # its manifest; the immutable files stay until unreferenced
                try:
                    os.remove(os.path.join(self.root, d, "meta.json"))
                    expired.append(v)
                except OSError:
                    pass
            else:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
                expired.append(v)
        return sorted(expired)

    def _meta(self, version: int) -> dict:
        with open(os.path.join(self._ver_dir(version), "meta.json")) as f:
            raw = json.load(f)
        return {
            "n_sub": {int(k): int(v) for k, v in raw["n_sub"].items()},
            "n_keys": {int(k): int(v) for k, v in raw["n_keys"].items()},
            # segment key "{bucket}_{sub}" -> {base, n_base, runs, run_ns};
            # file paths are store-root-relative into immutable version dirs
            "segments": raw.get("segments", {}),
        }

    def _write_meta(
        self,
        build_dir: str,
        n_sub: dict[int, int],
        n_keys: dict[int, int],
        segments: dict[str, dict],
    ) -> None:
        tmp = os.path.join(build_dir, "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {"n_sub": {str(k): v for k, v in n_sub.items()},
                 "n_keys": {str(k): v for k, v in n_keys.items()},
                 "segments": segments,
                 "target_keys_per_segment": self.target_keys},
                f,
            )
        os.replace(tmp, os.path.join(build_dir, "meta.json"))

    def _publish(self, version: int) -> None:
        """Atomic version flip: the complete build dir replaces v{N} in one
        rename. A crash before this line leaves only a .tmp dir that
        versions() ignores — never a half-built live version."""
        final = self._ver_dir(version)
        if os.path.isdir(final):
            shutil.rmtree(final)  # replayed epoch: discard the old complete build
        os.rename(self._ver_dir(version, tmp=True), final)

    @staticmethod
    def _with_sub(df: DataFrame, n_sub: dict[int, int]) -> DataFrame:
        """Append the sub-segment key. The Spark expression is the single
        source of truth (numpy side never re-derives it): hex chars 33-40 of
        the sha1, mod the bucket's n_sub; 0 for a bucket that is absent or
        unsplit. Built as ONE SQL string with the split buckets' n_sub
        inlined as a CASE — no dim DataFrame, so no Python job to build it
        and no broadcast join; the steady store (no split bucket) gets a
        literal 0."""
        split = sorted((int(b), int(n)) for b, n in n_sub.items() if int(n) > 1)
        if not split:
            return df.withColumn("_sub", F.lit(0))
        cases = " ".join(f"WHEN {b} THEN {n}" for b, n in split)
        return df.withColumn(
            "_sub",
            F.expr(
                "CAST(coalesce(pmod(CAST(conv(substr(url_sha1, 33, 8), 16, 10) AS BIGINT), "
                f"CASE domain_hash {cases} END), 0) AS INT)"
            ),
        )

    def _bucket_counts(self, df: DataFrame) -> dict[int, int]:
        return {
            int(r["domain_hash"]): int(r["n"])
            for r in df.groupBy("domain_hash").agg(F.count("*").alias("n")).collect()
        }

    def _n_sub_for(self, counts: dict[int, int]) -> dict[int, int]:
        return {b: max(1, math.ceil(c / self.target_keys)) for b, c in counts.items()}

    # ---------- build ----------
    def build(self, seen: DataFrame, version: int) -> dict[int, int]:
        """Full build from the url_seen table (cols url_sha1, domain_hash).

        Returns {bucket: n_keys}. Distributed: one grouped-map task per
        (bucket, sub) segment; per-task memory bounded by
        target_keys_per_segment."""
        counts = self._bucket_counts(seen)
        n_sub = self._n_sub_for(counts)
        build_dir = self._ver_dir(version, tmp=True)
        shutil.rmtree(build_dir, ignore_errors=True)
        os.makedirs(build_dir, exist_ok=True)
        built = self._build_into(build_dir, seen, n_sub)
        rel = f"v{version:06d}"  # the name build_dir publishes to
        segments = {
            f"{b}_{s}": {
                "base": f"{rel}/{self._base_name(b, s)}",
                "n_base": n,
                "runs": [],
                "run_ns": [],
            }
            for b, s, n in built
        }
        self._write_meta(build_dir, n_sub, counts, segments)
        self._publish(version)
        return counts

    def _build_into(
        self, build_dir: str, seen: DataFrame, n_sub: dict[int, int]
    ) -> list[tuple[int, int, int]]:
        bits_per_key, n_hashes = self.bits_per_key, self.n_hashes
        base_name = self._base_name

        # grouped-map functions carry no type hints: applyInArrow would try to
        # infer the UDF kind from them
        def build_segment(key, table):
            bucket, sub = key[0].as_py(), key[1].as_py()
            n = _write_segment(
                build_dir, base_name(bucket, sub), _digests(table["url_sha1"]),
                bits_per_key, n_hashes,
            )
            return _one_row(domain_hash=bucket, _sub=sub, n_keys=n)

        rows = (
            self._with_sub(seen.select("url_sha1", "domain_hash"), n_sub)
            .groupBy("domain_hash", "_sub")
            .applyInArrow(build_segment, schema="domain_hash long, _sub long, n_keys long")
            .collect()
        )
        return [(int(r["domain_hash"]), int(r["_sub"]), int(r["n_keys"])) for r in rows]

    def build_delta(
        self,
        delta: DataFrame,
        seen: DataFrame,
        prev_version: int | None,
        version: int,
        delta_counts: dict[int, int] | None = None,
    ) -> dict[int, int]:
        """Incremental build — O(epoch delta), the LSM append path.

        The new version dir holds ONLY this epoch's new run files (small
        bloom + sorted keys over just the delta, one per touched segment);
        everything untouched is carried forward by REFERENCE in the new
        version's run manifest — no hardlinks, no copies, object-store
        compatible. The fold decision (a segment reaching MAX_RUNS runs or
        2x target keys flags its bucket for rebuild — the compaction step,
        folding base+runs into a fresh base and re-splitting n_sub) is taken
        from manifest-recorded key counts, so delta tasks open no
        pre-existing files at all. Falls back to a full build when there is
        no previous (usable) version.

        ``delta_counts``: optional pre-known {bucket: rows} for the delta
        (e.g. from the engine's landed-file stats) — skips the counting job.
        """
        if prev_version is None:
            return self.build(seen, version)
        prev_meta = self._meta(prev_version)
        prev_n_sub, prev_n_keys = prev_meta["n_sub"], prev_meta["n_keys"]
        prev_segments = prev_meta["segments"]
        build_dir = self._ver_dir(version, tmp=True)
        shutil.rmtree(build_dir, ignore_errors=True)
        os.makedirs(build_dir, exist_ok=True)

        bits_per_key, n_hashes = self.bits_per_key, self.n_hashes
        base_name, run_name = self._base_name, self._run_name
        max_runs, target_keys = self.MAX_RUNS, self.target_keys

        if delta_counts is None:
            delta_counts = self._bucket_counts(delta)
        # new buckets get their own n_sub from the delta size alone
        eff_n_sub = dict(prev_n_sub)
        for b, c in delta_counts.items():
            eff_n_sub.setdefault(b, max(1, math.ceil(c / target_keys)))

        spark = delta.sparkSession
        # manifest rides a broadcast (once per executor, not per task): each
        # delta task reads only its own segment's entry
        bc_segments = spark.sparkContext.broadcast(prev_segments)

        def delta_segment(key, table):
            bucket, sub = key[0].as_py(), key[1].as_py()
            ent = bc_segments.value.get(f"{bucket}_{sub}")
            n_new = table.num_rows
            if ent is not None:
                # fold trigger from manifest counts alone — no file opens
                n_total = int(ent["n_base"]) + sum(ent["run_ns"]) + n_new
                if len(ent["runs"]) + 1 > max_runs or n_total > 2 * target_keys:
                    return _one_row(domain_hash=bucket, n_new=n_new, rebuilt=True, _sub=sub)
            # brand-new segment: fresh base from the delta alone; otherwise
            # run index = len(prev runs): deterministic, so the driver
            # derives the same name for the manifest without a return trip
            name = (
                base_name(bucket, sub) if ent is None
                else run_name(bucket, sub, len(ent["runs"]))
            )
            _write_segment(
                build_dir, name, _digests(table["url_sha1"]), bits_per_key, n_hashes
            )
            return _one_row(domain_hash=bucket, n_new=n_new, rebuilt=False, _sub=sub)

        res = (
            self._with_sub(delta.select("url_sha1", "domain_hash"), eff_n_sub)
            .groupBy("domain_hash", "_sub")
            .applyInArrow(
                delta_segment, schema="domain_hash long, n_new long, rebuilt boolean, _sub long"
            )
            .collect()
        )
        bc_segments.destroy()
        n_keys = dict(prev_n_keys)
        for b, c in delta_counts.items():
            n_keys[b] = n_keys.get(b, 0) + c
        rel = f"v{version:06d}"
        rebuild = sorted({r["domain_hash"] for r in res if r["rebuilt"]})
        segments = {
            k: dict(v, runs=list(v["runs"]), run_ns=list(v["run_ns"]))
            for k, v in prev_segments.items()
        }
        for r in res:
            b = int(r["domain_hash"])
            if r["rebuilt"] or b in rebuild:
                continue  # the whole bucket folds below; ignore stray runs
            s = int(r["_sub"])
            ent = segments.get(f"{b}_{s}")
            if ent is None:  # brand-new segment: base lives in THIS version
                segments[f"{b}_{s}"] = {
                    "base": f"{rel}/{base_name(b, s)}",
                    "n_base": int(r["n_new"]),
                    "runs": [],
                    "run_ns": [],
                }
            else:  # appended run lives in THIS version
                j = len(ent["runs"])
                ent["runs"].append(f"{rel}/{run_name(b, s, j)}")
                ent["run_ns"].append(int(r["n_new"]))
        # LSM compaction: buckets flagged for rebuild fold into fresh bases
        # (written into THIS version dir; their old files in prior dirs are
        # simply no longer referenced and get reclaimed by expire())
        if rebuild:
            sub_seen = seen.filter(F.col("domain_hash").isin(rebuild))
            rb_counts = self._bucket_counts(sub_seen)
            rb_n_sub = self._n_sub_for(rb_counts)
            for b in rebuild:
                for key in [k for k in segments if k.startswith(f"{b}_")]:
                    del segments[key]
            built = self._build_into(build_dir, sub_seen, rb_n_sub)
            for b, s, n in built:
                segments[f"{b}_{s}"] = {
                    "base": f"{rel}/{base_name(b, s)}",
                    "n_base": n,
                    "runs": [],
                    "run_ns": [],
                }
            eff_n_sub.update(rb_n_sub)
            n_keys.update(rb_counts)
        self._write_meta(build_dir, eff_n_sub, n_keys, segments)
        self._publish(version)
        return n_keys

    # ---------- probe ----------
    def probe(self, candidates: DataFrame, version: int, exact: bool = False) -> DataFrame:
        """Membership probe, grouped by (domain_hash, sub) so each task reads
        one bounded segment's files once. Returns ``candidates`` — every
        input column, as given — plus one flag column:

        exact=True: ``seen`` — EXACT membership (bloom short-circuits the
        misses; hits are verified against the mmap'd sorted key runs).
        exact=False: ``bloom_maybe`` — the bloom pre-filter the exact probe
        runs, on its own: False means DEFINITELY unseen (no false
        negatives); True goes on to the binary search. Used to measure the
        pre-filter's false-positive rate.

        The rows cross into Python as Arrow (``applyInArrow``): only
        ``url_sha1`` is decoded to numpy, and the other columns go back as
        the Arrow buffers they came in, never converted — so probing full
        rows costs about what probing their keys would.
        """
        meta = self._meta(version)
        root = self.root
        out_col = "seen" if exact else "bloom_maybe"
        # run manifest rides a broadcast (once per executor): each probe task
        # resolves its segment's base + run file paths from it directly — no
        # directory listing, no filename regex (r2 VERDICT: the old
        # listdir-per-task design did O(segments²) metadata calls per epoch)
        bc_segments = candidates.sparkSession.sparkContext.broadcast(meta["segments"])

        def probe_segment(key, table):
            bucket, sub = key[0].as_py(), key[1].as_py()
            ent = bc_segments.value.get(f"{bucket}_{sub}")
            flag = np.zeros(table.num_rows, dtype=bool)
            if ent is not None:
                flag = _probe_segment(root, ent, _digests(table["url_sha1"]), exact)
            return table.drop_columns(["_sub"]).append_column(out_col, pa.array(flag))

        from pyspark.sql import types as T

        schema = T.StructType(
            list(candidates.schema.fields) + [T.StructField(out_col, T.BooleanType())]
        )
        return (
            self._with_sub(candidates, meta["n_sub"])
            .groupBy("domain_hash", "_sub")
            .applyInArrow(probe_segment, schema=schema)
        )
