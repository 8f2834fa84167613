"""The analytics/* and functions/* layers, timed on the crawl's own output.

No crawl epoch runs these operators, so the traced ``crawl_cold`` run
times them after its window on what the crawl left behind: the frontier
(URLs) and the landed images (bytes, caption, phash). Each query is one
public function of one module, written to the no-op sink; its figure is
the median of ``REPS`` timed writes after one untimed warm-up write.

Each query also has a check on its result that holds for the synthetic
crawl by construction; a query that raises or fails its check counts as a
failed operation of the run.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPS = 3


def _rows_equal(df: DataFrame, src: DataFrame) -> str | None:
    got, want = df.count(), src.count()
    return None if got == want else f"{got} rows for {want} input rows"


def _q_surt(frontier, images):
    from etherscan_contract_crawler_spark.functions import urls as U

    return frontier.select("url_sha1", U.surt_key("url").alias("surt"),
                           U.trap_signals("url").alias("trap"))


def _q_psl(frontier, images):
    from etherscan_contract_crawler_spark.functions import urls as U
    from etherscan_contract_crawler_spark.functions.psl import registrable_domain_psl

    return frontier.select("domain", registrable_domain_psl(U.url_host("url")).alias("reg"))


def _check_psl(df, frontier, images):
    # every synthetic seed host is its own registrable domain
    bad = df.filter(F.col("reg") != F.col("domain")).count()
    return f"{bad} hosts map to another registrable domain" if bad else None


def _q_mime(frontier, images):
    from etherscan_contract_crawler_spark.functions.media import sniff_mime

    return images.select("image_id", sniff_mime(F.col("bytes")).alias("mime"))


def _q_exif(frontier, images):
    from etherscan_contract_crawler_spark.functions.exif import exif_extract

    return exif_extract(images)


def _q_phash(frontier, images):
    from etherscan_contract_crawler_spark.analytics.phash import phash_neardup_pairs

    return phash_neardup_pairs(images.select(F.col("image_id").alias("doc_id"), "phash"))


def _check_phash(df, frontier, images):
    # random pixels per key: no two landed images are near-duplicates
    n = df.count()
    return f"{n} near-duplicate image pairs" if n else None


def _docs(images):
    return images.select(F.col("image_id").alias("doc_id"), F.col("caption").alias("text"))


def _q_quality(frontier, images):
    from etherscan_contract_crawler_spark.analytics.text import quality_score

    return quality_score(_docs(images))


def _q_dedup(frontier, images):
    from etherscan_contract_crawler_spark.analytics.dedup import exact_dedup_groups

    return exact_dedup_groups(_docs(images))


def _check_dedup(df, frontier, images):
    # every caption carries its own key
    n = df.count()
    return f"{n} duplicate caption groups" if n else None


def _q_gates(frontier, images):
    from etherscan_contract_crawler_spark.analytics.multimodal import pair_gates

    return pair_gates(images.select("image_id", "w", "h", "fmt", "caption"))


def _q_quantiles(frontier, images):
    from etherscan_contract_crawler_spark.analytics.stats import grouped_quantiles

    return grouped_quantiles(images.select(F.length("bytes").alias("n_bytes"), "fmt"),
                             "n_bytes", "fmt")


def _q_sample(frontier, images):
    from etherscan_contract_crawler_spark.analytics.sampling import stratified_sample

    return stratified_sample(frontier, "url_sha1", "domain", {}, default_rate=0.5)


def _check_sample(df, frontier, images):
    n, total = df.count(), frontier.count()
    return None if 0 < n < total else f"kept {n} of {total} rows at rate 0.5"


#: (name, build(frontier, images) -> DataFrame, check -> problem or None);
#: one public function per module of analytics/* and functions/* that
#: applies to crawl output
QUERIES = [
    ("urls_surt", _q_surt, lambda df, f, i: _rows_equal(df, f)),
    ("psl_domain", _q_psl, _check_psl),
    ("media_sniff", _q_mime, lambda df, f, i: _rows_equal(df, i)),
    ("exif_extract", _q_exif, lambda df, f, i: _rows_equal(df, i)),
    ("phash_pairs", _q_phash, _check_phash),
    ("caption_quality", _q_quality, lambda df, f, i: _rows_equal(df, i)),
    ("caption_dedup", _q_dedup, _check_dedup),
    ("pair_gates", _q_gates, lambda df, f, i: _rows_equal(df, i)),
    ("size_quantiles", _q_quantiles, None),
    ("domain_sample", _q_sample, _check_sample),
]

METRICS = [(f"query.{name}_s", "s") for name, *_ in QUERIES]


def run_all(tracer, frontier: DataFrame, images: DataFrame) -> tuple[dict[str, float], list[str]]:
    """Time every query; returns ({metric: seconds}, [problem, ...])."""
    times, problems = {}, []
    for name, build, check in QUERIES:
        with tracer.paused(f"perfbench.query.{name}"):
            try:
                df = build(frontier, images)
                walls = []
                for _ in range(REPS + 1):
                    t = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t)
                times[f"query.{name}_s"] = statistics.median(walls[1:])
                problem = check(df, frontier, images) if check else None
            except Exception as exc:  # counted as a failed operation; the run goes on
                traceback.print_exc(file=sys.stderr)
                problem = f"raised {type(exc).__name__}: {exc}"
        if problem:
            problems.append(f"query {name}: {problem}")
    return times, problems
