"""SparkSession factory tuned for the crawl engine.

Local-mode defaults follow the sandbox (single JVM, N threads); the same
settings map 1:1 to a multi-executor cluster via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def machine_cpus() -> int:
    """CPUs this process may run on (its affinity mask, which honours
    taskset/cgroup pinning where ``os.cpu_count`` does not)."""
    return len(os.sched_getaffinity(0))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: a quarter of the machine's ``MemTotal``, at
    least 4g — local mode runs every task inside this one JVM."""
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                break
        else:
            raise ValueError(f"no MemTotal line in {meminfo}")
    return f"{max(4, kib // (4 << 20))}g"


#: Shuffle-partition default: match core count, not the 200 default — on a
#: real cluster this is set to ~2-3x total executor cores instead.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or machine_cpus())


def get_spark(
    app_name: str = "crawl-frontier-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # ParallelGC with a capped thread count and a fixed young gen: G1 on this
    # VM's memory subsystem anti-scales catastrophically under >8 concurrent
    # task threads (measured 3-5x wall-clock inflation on identical jobs,
    # BASELINE.md §sandbox-noise); throughput GC removes it entirely.
    gc_opts = (
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={min(cpus, 8)} -Xmn2g"
    )
    # SPARK_GRAFT_MASTER overrides local[N] — a deployment setting: point
    # the session at a cluster master (e.g. spark://host:7077). `cpus` then
    # means TOTAL cores requested from the cluster (spark.cores.max) and the
    # executor JVMs get the same throughput-GC flags as the local driver.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image payloads are binary blobs — keep Arrow batches memory-safe
        # (SURVEY.md §7 "binary payloads through Arrow"; sweep in
        # BASELINE.md §arrow-batch)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # rank-filter -> WindowGroupLimit (map-side partial top-k per window
        # key) is the schedule phase's skew guard; the default threshold
        # (1000) is below a long epoch's per-domain capacity (max_calls x
        # epoch_duration), which would silently drop the partial
        .config("spark.sql.optimizer.windowGroupLimitThreshold", str(1 << 22))
        # the epoch's commit wave submits independent table jobs from a
        # thread pool (engine/crawl.py); FAIR keeps one wide job from
        # head-of-line-blocking the small concurrent writes. At local[1]
        # there is nothing to share — round-robining the single task slot
        # between jobs only thrashes locality — so keep FIFO there.
        .config("spark.scheduler.mode", "FAIR" if cpus > 1 else "FIFO")
        # PySpark 4 defaults DataFrame debugging on: every Column function
        # call then also captures its Python call site and pays extra py4j
        # round trips (active session, conf read, origin set and clear) —
        # driver time that plan-building loops pay per call. Error messages
        # lose only the Python call-site context; pass
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}
        # to get it back while debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("spark://"):
        import sys

        # standalone executors get no cwd-on-sys.path: ship the package by
        # path (same box) and pin the worker python to this interpreter —
        # on a real multi-host cluster this is the --py-files zip instead
        # (tools/submit.sh builds it)
        pkg_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        builder = (
            builder.config("spark.executorEnv.PYTHONPATH", pkg_root)
            .config("spark.pyspark.python", sys.executable)
            .config("spark.cores.max", str(cpus))
            .config(
                "spark.executor.cores",
                os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "2"),
            )
            .config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "6g"),
            )
            .config("spark.executor.extraJavaOptions", gc_opts)
            # Arrow batches stream python->JVM over the same box; keep the
            # default shuffle codec — the point of this mode is to pay real
            # serialization + network shuffle between executor processes.
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # the engine's concurrent commit wave tags per-thread scheduler pools
    # via setLocalProperty from ThreadPoolExecutor workers (crawl.py), which
    # is only thread-safe under PySpark pinned-thread mode (default since
    # Spark 3.2). With it disabled the pool tag can land on shared JVM
    # threads and leak onto unrelated jobs — fail loudly instead (r3 ADVICE).
    if os.environ.get("PYSPARK_PIN_THREAD", "true").lower() == "false":
        raise RuntimeError(
            "PYSPARK_PIN_THREAD=false breaks the engine's per-thread "
            "scheduler-pool tagging (concurrent commit wave); unset it or "
            "use pinned-thread mode"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
