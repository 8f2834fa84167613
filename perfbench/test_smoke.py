"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is emitted with its unit,
in both modes and on every workload, that the crawl correctness check
catches a planted wrong URL set, and that the steady state's frontier
rows equal the engine's own seed ingest. The subprocess runs take about a minute
each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import END_TO_END
from perfbench.tracing import PER_LAYER
from perfbench.workloads import WORKLOADS, compare_with_oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_emitted_metric_tables():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_check_catches_planted_wrong_url_set():
    from etherscan_contract_crawler_spark.oracle.reference_oracle import run_oracle
    from etherscan_contract_crawler_spark.sources.synthetic import gen_seed_rows

    rows = gen_seed_rows(400, n_domains=10, seed=5)
    oracle = run_oracle(rows, epoch_duration_s=10, batch_size=60, max_epochs=3)
    epochs = [set(e) for e in oracle.epochs]
    assert len(epochs) == 3
    assert compare_with_oracle(epochs, set(oracle.images), set(oracle.dead), oracle) == []

    # one URL crawled an epoch late: same overall seen set, wrong order
    moved = next(iter(epochs[1]))
    late = [epochs[0], epochs[1] - {moved}, epochs[2] | {moved}]
    problems = compare_with_oracle(late, set(oracle.images), set(oracle.dead), oracle)
    assert [p.split(":")[0] for p in problems] == ["epoch 1", "epoch 2"]

    # a URL the oracle never crawled
    planted = [epochs[0] | {"0" * 40}, epochs[1], epochs[2]]
    assert compare_with_oracle(planted, set(oracle.images), set(oracle.dead), oracle)

    # an image swapped for a dead letter
    key = next(iter(oracle.images))
    assert compare_with_oracle(
        epochs, set(oracle.images) - {key}, set(oracle.dead) | {key}, oracle
    )


def test_steady_frontier_matches_seeds_to_frontier(tmp_path):
    from etherscan_contract_crawler_spark.sources.seeds import seeds_to_frontier
    from perfbench import harness
    from perfbench.workloads import N_BUCKETS, SteadyCrawl, frontier_rows, seed_parquet

    tiny = SteadyCrawl.SIZES["tiny"]
    spark = harness.start_spark(str(tmp_path), "perfbench-smoke")
    try:
        seeds = seed_parquet(str(tmp_path), tiny["seeds"], tiny["domains"], 3, 0.0)
        got = frontier_rows(spark, seeds)
        want = seeds_to_frontier(spark.read.parquet(seeds), N_BUCKETS)[0]
        assert got.columns == want.columns
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    finally:
        harness.stop_all(spark)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_every_metric_is_emitted(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    got = [(n, m["unit"]) for n, m in result["metrics"].items()]
    assert got == want
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
