"""Per-change benchmark for the crawl engine (``python3 perfbench/run.py``).

Workloads, metrics and the run contract are described in ``run.py``.
"""
