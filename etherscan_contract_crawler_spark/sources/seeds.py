"""S1 — seed ingestion: CSV/DataFrame -> canonical frontier rows.

Reference: ``load_addresses_from_csv`` extracts one column, lowercases, and
collapses to a set (contract_crawler.py:358-362, :420); invalid addresses are
logged and skipped (:472-474). Spark-first: one declarative plan — read,
validity-split, canonicalize, sha1, dedup by key — that Catalyst pushes into
the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import urls as U

#: FIXTURES.md §3 — the engine's working-table schema.
FRONTIER_DDL = (
    "url string, url_canon string, url_sha1 string, domain string, domain_hash int, "
    "priority double, depth int, state string, attempt int, "
    "next_fetch_time timestamp, discovered_epoch int"
)

SEED_CSV_SCHEMA = "block long, tx_hash string, url string, priority double"

#: Deterministic scheduling origin (the reference has no event time at all;
#: epochs are logical). Tests/oracles pin this.
EPOCH0_TS = "2026-01-01 00:00:00"


def seeds_to_frontier(
    seeds: DataFrame,
    n_buckets: int = 32,
    epoch: int = 0,
    validity_re: str = U.ETH_ADDRESS_RE,
) -> tuple[DataFrame, DataFrame]:
    """Project seed rows to frontier rows; returns (frontier, rejects).

    Dedup-by-key keeps the max priority per canonical URL (the reference's
    ``set`` collapse, contract_crawler.py:420, made deterministic — its own
    iteration order is hash-order, SURVEY.md §8 B4). The aggregation is a
    map-side-combinable hash agg, not a window, so it scales without a sort.
    """
    key = U.url_key_projection(F.col("url"))
    enriched = seeds.withColumn("_key", key).withColumn(
        "_valid", F.regexp_like(F.col("_key"), F.lit(validity_re))
    )
    rejects = enriched.filter(~F.col("_valid")).drop("_valid")
    valid = enriched.filter(F.col("_valid"))

    canon = valid.select(
        F.col("url"),
        U.canonicalize_url(F.col("url")).alias("url_canon"),
        F.col("priority"),
    ).withColumn("url_sha1", U.url_sha1(F.col("url_canon")))

    frontier = (
        canon.groupBy("url_sha1")
        .agg(
            F.min("url").alias("url"),
            F.min("url_canon").alias("url_canon"),
            F.max("priority").alias("priority"),
        )
        # the host gets its own projection: inlined into every public-suffix
        # sub-expression of registrable_domain, its regex chain grows the
        # generated class past the JVM's 64 KB method limit, and the whole
        # stage falls back to interpreted evaluation
        .withColumn("_host", F.nullif(U.url_host(F.col("url_canon")), F.lit("")))
        .select(
            "url",
            "url_canon",
            "url_sha1",
            U.registrable_domain(F.col("_host"), is_host=True).alias("domain"),
            F.lit(None).cast("int").alias("domain_hash"),
            "priority",
            F.lit(0).alias("depth"),
            F.lit("pending").alias("state"),
            F.lit(0).alias("attempt"),
            F.lit(EPOCH0_TS).cast("timestamp").alias("next_fetch_time"),
            F.lit(epoch).alias("discovered_epoch"),
        )
        .withColumn("domain_hash", U.domain_hash(F.col("domain"), n_buckets))
    )
    return frontier, rejects
