"""J1/J2 — URL-seen dedup: segment-store membership + exact anti-join backstop.

Reference semantics: drop already-seen keys BEFORE any fetch —
``addresses.difference(ignored)`` (contract_crawler.py:466-468), dir-existence
probe (:378-379), monitor seen-check (blockchain-multichain-monitor.py:83-85).
That dedup-before-fetch ordering is the reference's one real optimization
(SURVEY.md §4 O1); Catalyst cannot reorder across the Python fetch barrier,
so this module constructs the plan in that order by hand.

Two plans, both exact:

STORE PATH (the 10^10 path — no url_seen scan at all):
  candidates --(grouped probe: bloom short-circuit + binary search over
               mmap'd sorted key runs)--> seen: boolean (EXACT)
  unseen = filter(~seen). The url_seen TABLE is never joined — the per-epoch
  dedup cost is O(candidates × log(segment)), not O(total seen). This is
  what kills the last O(total)-per-epoch stage in the engine: a Spark
  anti-join must scan/build over the whole seen side every epoch no matter
  how good the pre-filter is.

JOIN PATH (no usable store version — missing, or stale after a crash):
  exact left_anti join of the candidates against url_seen (sort-merge at
  scale; both sides pre-bucketed by domain_hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import SegmentStore

__all__ = ["anti_join_seen", "unseen_with_bloom"]


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact J1: candidates not present in seen (key: url_sha1)."""
    return candidates.join(seen.select("url_sha1"), on="url_sha1", how="left_anti")


def unseen_with_bloom(
    candidates: DataFrame,
    seen: DataFrame,
    store: SegmentStore | None,
    version: int | None,
) -> DataFrame:
    """Store-accelerated J1: probes published store ``version`` (the caller
    has checked it is current); the exact join when there is no store."""
    if store is None or version is None:
        return anti_join_seen(candidates, seen)
    cols = candidates.columns  # the USING join moves the key column first
    # probe a 2-column PROJECTION, not the full rows: the probe's cost is
    # dominated by the Arrow round trip into Python (measured ~0.3 ms/row
    # single-core for 10-column frontier rows), and only the key columns
    # participate. The discovered seen-keys set is bounded by the
    # CANDIDATE count — so the anti-join that re-applies it to the full
    # rows never touches the url_seen table and stays independent of
    # total-seen size (AQE broadcasts it when small).
    seen_keys = (
        store.probe(candidates.select("url_sha1", "domain_hash"), version, exact=True)
        .filter(F.col("seen"))
        .select("url_sha1")
    )
    return candidates.join(seen_keys, "url_sha1", "left_anti").select(cols)


def url_alias_groups(
    pages: DataFrame,
    url_col: str = "url",
    content_col: str = "content",
) -> DataFrame:
    """Mirror/alias detection: URLs serving byte-identical content collapse
    into one alias group and the group elects a canonical URL — the
    lexicographically-least SURT key, the same stable rule web archives use
    (crawl-side twin of analytics dedup_canonical, which keeps the best
    DOCUMENT; this keeps the best ADDRESS and teaches the frontier to stop
    re-fetching known mirrors).

    Output one row per multi-member group:
    (checksum, canonical_url, n_aliases, n_hosts).

    Plan shape: checksum is computed in the scan projection (the payload
    column itself is never shuffled); ONE exchange on the 128-bit checksum;
    min_by picks the canonical without a window; n_hosts (distinct hosts
    per group) rides the same agg via a pre-projected host key. At 10^10
    URLs the group-by key is effectively unique outside true mirrors, so
    partial aggregation collapses nothing but costs nothing either — the
    exchange is the irreducible cost and it carries (checksum, surt, host),
    never the content bytes.
    """
    from ..functions.urls import surt_key

    keyed = pages.select(
        F.md5(F.col(content_col)).alias("checksum"),
        surt_key(F.col(url_col)).alias("surt"),
        F.col(url_col).alias("url"),
    )
    return (
        keyed.groupBy("checksum")
        .agg(
            # order key is (surt, url) flattened to one string so the pick
            # is total even when two URLs share a SURT (min_by over a bare
            # surt would be tie-nondeterministic across partitionings)
            F.min_by("url", F.concat_ws("\n", F.col("surt"), F.col("url"))).alias(
                "canonical_url"
            ),
            F.count("*").cast("long").alias("n_aliases"),
            F.count_distinct(F.split_part(F.col("surt"), F.lit(")"), F.lit(1))).cast(
                "long"
            ).alias("n_hosts"),
        )
        .filter(F.col("n_aliases") > 1)
    )


def frontier_gc(
    frontier: DataFrame,
    seen: DataFrame,
    dead: DataFrame,
    key_col: str = "url_key",
    domain_col: str = "domain",
) -> DataFrame:
    """Frontier garbage collection with a per-domain retention report.

    A long crawl's frontier accretes URLs that will never be fetched
    again: keys the seen set already covers (re-discovered by expansion)
    and keys the dead-letter table retired (attempts exhausted,
    engine/crawl.py's dead-letter path). Compacting them out keeps the
    per-epoch schedule scan proportional to LIVE work — at a 10^10-URL
    frontier the dropped fraction is most of the table. The reference's
    analog is ``addresses.difference(ignored)`` (contract_crawler.py:468)
    applied once at startup; a persistent frontier needs it as a
    maintenance pass WITH an audit trail of what was dropped and why.

    Returns one row per domain: (domain, kept, dropped_seen,
    dropped_dead). Precedence: a key in both tables counts as
    dropped_seen — the seen set is ground truth that the work happened;
    dead-letter is advisory. :func:`frontier_gc_keep` returns the
    retained ROWS under the same membership rule.

    Scale notes: ONE pass over the frontier — two LEFT joins marking
    membership plus one hash agg (map-side combinable, output is
    domain-cardinality) instead of the naive two anti-joins + three
    counts = three frontier scans. Both probe sides project to the bare
    key and dedup first, so the join state is keys-only; at 10^10 scale
    both joins are sort-merge on the same key, and AQE plans them off
    one exchange of the frontier.
    """
    key = F.col(key_col)
    s = (
        seen.select(F.col(key_col).alias("_sk"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    d = (
        dead.select(F.col(key_col).alias("_dk"))
        .distinct()
        .withColumn("_dead", F.lit(1))
    )
    j = frontier.join(s, key == F.col("_sk"), "left").join(
        d, key == F.col("_dk"), "left"
    )
    live = F.col("_seen").isNull() & F.col("_dead").isNull()
    return j.groupBy(domain_col).agg(
        F.sum(live.cast("long")).alias("kept"),
        F.sum(F.col("_seen").isNotNull().cast("long")).alias("dropped_seen"),
        F.sum(
            (F.col("_seen").isNull() & F.col("_dead").isNotNull()).cast("long")
        ).alias("dropped_dead"),
    )


def frontier_gc_keep(
    frontier: DataFrame,
    seen: DataFrame,
    dead: DataFrame,
    key_col: str = "url_key",
) -> DataFrame:
    """Row-keeping companion of :func:`frontier_gc`: the retained frontier
    itself (same membership rule — a key in seen OR dead is dropped, so
    precedence never matters for keeping). Two keys-only left_anti joins;
    at scale both are sort-merge off one frontier exchange, and the
    compaction write consumes the result directly."""
    s = seen.select(F.col(key_col)).distinct()
    d = dead.select(F.col(key_col)).distinct()
    return frontier.join(s, on=key_col, how="left_anti").join(
        d, on=key_col, how="left_anti"
    )
