"""Per-change benchmark of the crawl engine.

    python3 perfbench/run.py --workload crawl_cold --seed 1 --seconds 36 --trace 0

Run from the repository root. Workloads (``workloads.py``):

* ``crawl_cold``   fresh crawl, synthetic payload fetcher, exact anti-join
                   dedup: the per-row fetch/validate/landing path.
* ``crawl_steady`` resumed crawl, no-payload fetcher, url_seen >= 8x the
                   frontier: store-probe dedup, bloom delta builds, link
                   expansion and maintain() compaction.

Every run starts one Spark session at ``local[nproc]`` with a driver heap
sized to the machine, builds its inputs from ``--seed`` (the seed list is
cached per (n, domains, seed) under ``.perfbench/cache``), sets up its
state (``setup_s`` runs from session start to the first timed epoch), runs
the timed epochs, checks the crawl against its oracle or invariants, stops
every process it started and prints the result as the last line of stdout:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``END_TO_END``); ``--trace 1``
records spans and the Spark event log and reports the per-layer metrics
(``tracing.PER_LAYER``), including its own ``trace.urls_per_s``: the gap
to the untraced ``urls_per_s`` is the tracing overhead. The traced
``crawl_cold`` run also times one analytics/functions query per module on
the crawl's output (``queries.py``). Lines before the
result carry the environment fingerprint and a human-readable summary.
All scratch files (warehouse, Spark local dirs, logs) live under
``.perfbench/run`` in the current directory and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: (name, unit) of every end-to-end metric
END_TO_END = [
    ("urls_per_s", "1/s"),
    ("epoch_s.p50", "s"),
    ("epoch_s.max", "s"),
    ("wall_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("warehouse_bytes_per_url", "bytes"),
]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: seconds-long inputs for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etherscan_contract_crawler_spark")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench")
    work, cache = os.path.join(base, "run"), os.path.join(base, "cache")
    harness.clean_dir(work)
    harness.prepare_env(ROOT, work)
    log_path = os.path.join(work, "stderr.log")
    progress = os.fdopen(harness.capture_stderr(log_path), "w", buffering=1)

    def say(msg: str) -> None:
        print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=progress)

    rss = harness.RssSampler().start()
    eventlog = os.path.join(work, "eventlog")
    extra_conf = {}
    if args.trace:
        os.makedirs(eventlog, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = tracer = wl = None
    run: dict = {}  # measurements taken while Spark is up
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, f"perfbench-{args.workload}", extra_conf)
        say(f"session up in {time.perf_counter() - t0:.1f} s")
        if args.trace:
            from perfbench import tracing

            tracer = tracing.Tracer(spark.sparkContext)
            tracing.install(tracer)
        wl = WORKLOADS[args.workload](
            spark, args.seed, args.seconds, work, cache, size=args.size, tracer=tracer
        )
        wl.setup()
        run["setup_s"] = time.perf_counter() - t0
        say(f"set-up done in {run['setup_s']:.1f} s; timing {wl.n_timed()} epochs")
        steal0 = harness.cpu_steal_s()
        wl.window()
        run["peak"] = rss.stop()
        run["steal_s"] = harness.cpu_steal_s() - steal0
        run["wh_bytes"] = harness.du(wl.warehouse)
        run["store_bytes"] = harness.du(wl.eng.segments.root)
        run["seen_rows"] = wl.seen_rows()
        say("window done: " + ", ".join(f"e{r['epoch']} {r['wall']:.2f}s" for r in wl.epochs))
        if tracer is not None:
            # benchmark-side measurements run after the window, so they
            # neither warm up nor slow down the timed epochs
            wl.extra["dedup"] = tracing.measure_dedup(tracer, wl.eng)
            if args.workload == "crawl_cold":
                from perfbench import queries

                wl.extra["micro"] = tracing.microbench(args.seed)
                wl.extra["queries"], run["query_problems"] = queries.run_all(
                    tracer, wl.eng.frontier.read(spark), wl.eng.images.read(spark)
                )
                run["query_ops"] = len(queries.QUERIES)
        run["check_problems"] = wl.check()
        say(f"check done: {len(run['check_problems'])} problems")
        run["fingerprint"] = harness.fingerprint(spark, wl.warehouse)
    except Exception:
        traceback.print_exc(file=progress)
        run = {}
    finally:
        rss.stop()
        if spark is not None:
            harness.stop_all(spark)
            say("all processes stopped")
    if not run:
        say(f"run failed; Spark log kept at {log_path}")
        return 1
    try:
        report(args, wl, tracer, run, log_path, eventlog)
    except Exception:
        traceback.print_exc(file=progress)
        return 1
    harness.clean_dir(work)
    return 0


def report(args, wl, tracer, run: dict, log_path: str, eventlog: str) -> None:
    """Fold the run into metrics and print the fingerprint, a summary and
    the result line."""
    timed = wl.epochs
    walls = [r["wall"] for r in timed]
    urls = wl.committed_urls()
    wall = sum(walls)
    urls_per_s = urls / wall if wall else 0.0
    check_problems = run["check_problems"]
    query_problems = run.get("query_problems", [])
    # an operation is an epoch or (traced crawl_cold) a layer query
    attempted = len(wl.epochs) + run.get("query_ops", 0)
    epoch_failures = sum(1 for r in wl.epochs if r["problems"])
    failed = min(attempted, epoch_failures + len(check_problems) + len(query_problems))
    problems = [p for r in wl.epochs for p in r["problems"]] + check_problems + query_problems

    if args.trace:
        from perfbench import tracing

        with open(log_path, errors="replace") as f:
            fallbacks = sum("CodeGenerator: Failed to compile" in line for line in f)
        wl.extra.update(
            store_bytes=run["store_bytes"],
            codegen_fallbacks=fallbacks,
            urls_per_s=urls_per_s,
        )
        per_desc, jobs = tracing.parse_eventlog(eventlog)
        values = tracing.per_layer(tracer, [r["epoch"] for r in timed], per_desc, jobs, wl.extra)
        metrics = {n: {"value": values[n], "unit": u} for n, u in tracing.PER_LAYER}
    else:
        values = {
            "urls_per_s": urls_per_s,
            "epoch_s.p50": statistics.median(walls) if walls else 0.0,
            "epoch_s.max": max(walls) if walls else 0.0,
            "wall_s": wall,
            "setup_s": run["setup_s"],
            "peak_rss_mb": run["peak"] / (1 << 20),
            "warehouse_bytes_per_url": (
                run["wh_bytes"] / run["seen_rows"] if run["seen_rows"] else 0.0
            ),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": wl.input_desc(), "urls_committed": urls, "epoch_walls_s": walls,
        "error_rate": failed / attempted if attempted else 1.0,
        "cpu_steal_s": run["steal_s"],
        "problems": problems[:20],
    }
    print(json.dumps({"fingerprint": run["fingerprint"]}))
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))


if __name__ == "__main__":
    sys.exit(main())
