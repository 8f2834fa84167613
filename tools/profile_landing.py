"""Landing-write profiler (r4 VERDICT #2a/b): isolate the epoch's payload
LANDING leg — the parquet write of ~3-50 KB binary blobs — from the fetch
compute, and measure (1) per-mode throughput at 4 vs 16 cores, (2) whether
a raw sharded-file landing (the WARC shape) beats the parquet writer, and
(3) the box's own concurrent-file-write ceiling with zero Spark in the
loop. If every mode — including plain multiprocessing appends — scales
4->16 at the same ~0.6, the residual is the box's one-socket write
bandwidth, not the engine.

Modes (each its own subprocess so every level gets a fresh JVM):
  current   the engine's landing shape: plannedWrite off,
            maxConcurrentOutputFileWriters=3, partitionBy(valid),
            compression none, dictionary off, 8 MB blocks
  nopart    same, no dynamic partitioning (writer overhead isolation)
  bigblock  current with 128 MB row groups (buffering-vs-churn tradeoff)
  rawbin    mapInPandas appending payload bytes to one .bin per task +
            a parquet manifest (url_key, file, offset, length) — the
            "land blobs as raw sharded files" alternative
  mpbase    multiprocessing file-append of the same bytes, no Spark —
            the hardware ceiling for this write pattern

Usage: python tools/profile_landing.py [n_rows=120000] [repeats=2]
Writes PROFILE_LANDING.json next to the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/tmp/profile_landing_src.parquet"
OUT = "/tmp/profile_landing_out"


def gen_source(n_rows: int) -> int:
    """Materialize n_rows fetched-result rows once (32 cores, untimed)."""
    from etherscan_contract_crawler_spark.session import get_spark

    spark = get_spark(app_name="gen-landing-src", cpus=32)
    import hashlib

    import pandas as pd

    def synth(iter_pdf):
        from etherscan_contract_crawler_spark.sources.synthetic import (
            payload_for_key,
        )

        for pdf in iter_pdf:
            rows = []
            for i in pdf["id"]:
                key = hashlib.sha1(f"landing{int(i)}".encode()).hexdigest()
                p = payload_for_key(key)
                p.pop("_pixels", None)
                p["valid"] = True
                rows.append(p)
            out = pd.DataFrame(rows)
            yield out[["image_id", "bytes", "w", "h", "fmt", "caption",
                       "phash", "valid"]]

    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long, valid boolean")
    df = spark.range(n_rows).repartition(64).mapInPandas(synth, schema)
    df.write.mode("overwrite").option("compression", "none").parquet(SRC)
    total = (
        spark.read.parquet(SRC)
        .selectExpr("sum(length(bytes)) AS b").first()["b"]
    )
    spark.stop()
    return int(total)


def _worker_body(mode: str, cpus: int) -> None:
    """Subprocess: read the source, run ONE timed write of `mode`."""
    from pyspark.sql import functions as F

    from etherscan_contract_crawler_spark.session import get_spark

    spark = get_spark(app_name=f"landing-{mode}-{cpus}", cpus=cpus)
    df = spark.read.parquet(SRC)
    df.count()  # warm scan path / page cache
    dst = f"{OUT}/{mode}-{cpus}"
    shutil.rmtree(dst, ignore_errors=True)
    t0 = time.time()
    if mode in ("current", "nopart", "bigblock"):
        prev = spark.conf.get("spark.sql.optimizer.plannedWrite.enabled", "true")
        spark.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
        spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", "3")
        w = (
            df.write.mode("overwrite")
            .option("compression", "none")
            .option("parquet.block.size",
                    128 * 1024 * 1024 if mode == "bigblock" else 8 * 1024 * 1024)
            .option("parquet.enable.dictionary", "false")
        )
        if mode != "nopart":
            w = w.partitionBy("valid")
        w.parquet(dst)
        spark.conf.set("spark.sql.optimizer.plannedWrite.enabled", prev)
    elif mode == "rawbin":
        os.makedirs(dst, exist_ok=True)

        def dump(iter_pdf):
            import pandas as pd

            tid = os.getpid()
            path = f"{dst}/part-{tid}-{time.time_ns()}.bin"
            off = 0
            with open(path, "ab") as f:
                for pdf in iter_pdf:
                    recs = []
                    for key, b in zip(pdf["image_id"], pdf["bytes"]):
                        f.write(b)
                        recs.append((key, path, off, len(b)))
                        off += len(b)
                    yield pd.DataFrame(
                        recs, columns=["image_id", "file", "offset", "length"]
                    )

        manifest = df.mapInPandas(
            dump, "image_id string, file string, offset long, length long"
        )
        manifest.write.mode("overwrite").parquet(f"{dst}/_manifest")
    wall = time.time() - t0
    print(json.dumps({"mode": mode, "cpus": cpus, "wall_s": round(wall, 2)}))
    spark.stop()


def _mp_append(args):
    lo, hi, path = args
    import hashlib

    from etherscan_contract_crawler_spark.sources.synthetic import payload_for_key

    with open(path, "ab") as f:
        for i in range(lo, hi):
            key = hashlib.sha1(f"landing{i}".encode()).hexdigest()
            f.write(payload_for_key(key, with_phash=False)["bytes"])


def mp_baseline(n_rows: int, cpus: int) -> float:
    """No-Spark ceiling: same bytes, plain process pool appends. Includes
    payload synthesis (same as the Spark legs' upstream scan is warm, so
    this is an upper bound on achievable write concurrency, not a pure
    disk number)."""
    import multiprocessing as mp

    d = f"{OUT}/mp-{cpus}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    chunks = [
        (w * n_rows // cpus, (w + 1) * n_rows // cpus, f"{d}/w{w}.bin")
        for w in range(cpus)
    ]
    t0 = time.time()
    with mp.get_context("fork").Pool(cpus) as pool:
        pool.map(_mp_append, chunks)
    return time.time() - t0


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    if len(sys.argv) > 3 and sys.argv[3] == "--worker":
        _worker_body(sys.argv[4], int(sys.argv[5]))
        return
    total_bytes = gen_source(n_rows)
    res: dict = {"n_rows": n_rows, "payload_mb": round(total_bytes / 1e6, 1),
                 "modes": {}}
    for mode in ("current", "nopart", "bigblock", "rawbin"):
        for cpus in (4, 16):
            walls, errors = [], []
            for _ in range(repeats):
                # one hung attempt is recorded and skipped, so it cannot
                # lose the modes already measured
                try:
                    p = subprocess.run(
                        [sys.executable, os.path.abspath(__file__),
                         str(n_rows), str(repeats), "--worker", mode, str(cpus)],
                        capture_output=True, text=True, timeout=900, cwd=REPO,
                    )
                except subprocess.TimeoutExpired:
                    errors.append("timeout after 900 s")
                    continue
                line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
                if line:
                    walls.append(json.loads(line[-1])["wall_s"])
                else:
                    errors.append(p.stderr[-300:])
            entry = {}
            if walls:
                entry["wall_s"] = min(walls)
                entry["mb_per_s"] = round(total_bytes / 1e6 / min(walls), 1)
            if errors:
                entry["errors"] = errors
            res["modes"][f"{mode}-{cpus}"] = entry
    for cpus in (4, 16):
        wall = min(mp_baseline(n_rows, cpus) for _ in range(repeats))
        res["modes"][f"mpbase-{cpus}"] = {
            "wall_s": round(wall, 2),
            "mb_per_s": round(total_bytes / 1e6 / wall, 1),
        }
    for mode in ("current", "nopart", "bigblock", "rawbin", "mpbase"):
        a, b = res["modes"].get(f"{mode}-4"), res["modes"].get(f"{mode}-16")
        if a and b and "wall_s" in a and "wall_s" in b:
            res[f"eff_4_to_16_{mode}"] = round(a["wall_s"] / b["wall_s"] / 4.0, 3)
    with open(os.path.join(REPO, "PROFILE_LANDING.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
