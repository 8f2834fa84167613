"""The driver keeps only the last 2,000 bytes of stdout (every shipped
BENCH_r*.json has a "tail" of exactly 2,000 chars; round 3's summary line
outgrew it and shipped parsed:null). bench.tail_safe must make the final
line fit that window whole, never dropping the north_rule gate."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _scaling_detail() -> dict:
    """A run_scaling() result: three runs per level, one of them failed
    with a long stderr tail (detail only — the compact block drops it)."""
    def run(thr):
        if thr is None:
            return {"error": "x" * 500}
        return {"cpus": 1, "urls": 120000, "wall_s": round(120000 / thr, 2),
                "urls_per_sec": thr}

    return {
        "harness": "spark-submit --py-files",
        "local1": {"median_urls_per_sec": 738.4,
                   "runs": [run(738.4), run(722.9), run(741.3)]},
        "local4": {"median_urls_per_sec": 2689.35,
                   "runs": [run(2727.7), run(2651.0), run(None)]},
        "scaling_efficiency_n_to_4n": 0.911,
        "gate": {"rule": "scaling_efficiency_n_to_4n >= 0.8 (north_rule)",
                 "value": 0.911, "verdict": "PASS"},
    }


def _summary(m, n_queries: int) -> dict:
    return {
        "metric": "bench_total_wall",
        "value": 804.65,
        "unit": "sec",
        "queries": {f"query_name_number_{i:03d}": round(i * 0.37, 2)
                    for i in range(n_queries)},
        "sf": 0.1,
        "crawl_scaling": m._compact_scaling(_scaling_detail()),
        "detail_file": "BENCH_DETAIL.json",
    }


def test_small_summary_untouched():
    m = _bench()
    s = _summary(m, 5)
    assert m.tail_safe(s) == s


def test_fits_driver_window_at_every_query_count():
    m = _bench()
    for n in (25, 70, 132, 185, 500):
        line = json.dumps(m.tail_safe(_summary(m, n)))
        assert len(line) <= m.DRIVER_TAIL_BYTES, (n, len(line))
        got = json.loads(line)  # the driver can parse the whole line
        # the north_rule gate is never dropped
        assert got["crawl_scaling"]["gate"]["verdict"] == "PASS"
        assert got["crawl_scaling"] == _summary(m, n)["crawl_scaling"]
        assert got["crawl_scaling"]["local4"]["urls_per_sec"] == [2727.7, 2651.0, None]
        if n > 30:
            assert got["queries_truncated_see_detail_file"] is True
            assert got["detail_file"] == "BENCH_DETAIL.json"


def test_input_not_mutated():
    m = _bench()
    s = _summary(m, 200)
    before = json.dumps(s)
    m.tail_safe(s)
    assert json.dumps(s) == before
