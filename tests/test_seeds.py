"""sources/seeds.py: seed ingest compiles to Java and derives the same
registrable domains as the URL-level expression."""

import hashlib

from pyspark.sql import functions as F

from etherscan_contract_crawler_spark.functions import urls as U
from etherscan_contract_crawler_spark.oracle.reference_oracle import registrable_domain_py
from etherscan_contract_crawler_spark.sources.seeds import SEED_CSV_SCHEMA, seeds_to_frontier

#: public-suffix corner cases (exact, wildcard, exception-free, ports,
#: userinfo, upper case) and a scheme-less string with no host at all
HOSTS = [
    "https://etherscan.io", "https://www.ck", "https://user.github.io",
    "https://a.b.example.co.uk:443", "http://EXAMPLE.com:8080", "https://x.y.z.blogspot.com",
    "https://user:pw@api.city.kawasaki.jp", "https://sub.bscscan.com", "garbage",
]


def _seed_rows(n=203):
    rows = []
    for i in range(n):
        addr = "0x" + hashlib.sha1(f"seed{i}".encode()).hexdigest()
        rows.append((i, f"0xt{i}", f"{HOSTS[i % len(HOSTS)]}/address/{addr}#code", i / n))
    return rows


def test_seed_ingest_compiles_without_fallback(spark):
    """The domain projection must fit one generated class: with codegen's
    interpreted fallback off, a method past the JVM's 64 KB limit raises."""
    seeds = spark.createDataFrame(_seed_rows(), SEED_CSV_SCHEMA)
    frontier, _ = seeds_to_frontier(seeds, n_buckets=16)
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        # collect(), not count(): count() prunes the domain column away
        got = {r.url_sha1: r.domain for r in frontier.select("url_sha1", "domain").collect()}
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    want = {
        r.url_sha1: r.domain
        for r in frontier.select(
            "url_sha1", U.registrable_domain(F.col("url_canon")).alias("domain")
        ).collect()
    }
    assert len(got) == 203
    assert got == want
    by_url = {r.url_sha1: r.url for r in frontier.select("url_sha1", "url").collect()}
    for k, dom in got.items():
        if by_url[k].startswith("garbage"):
            assert dom is None
        else:
            assert dom == registrable_domain_py(by_url[k]), by_url[k]
