"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or an analytics
operator the engine adds) expressed on the driver's TPC-H-ish tables; each
``oracle_sql()`` entry is the equivalent ANSI SQL for DuckDB. Column names
and types are aligned on both sides (aggregates aliased identically, counts
cast to BIGINT, ranks to INT) because the driver compares schema + value
hashes.

Crawl-domain operators are exercised on *synthetic URLs derived
deterministically from the tables* (sha256-based), so the DuckDB oracle can
reproduce them byte-for-byte.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etherscan_contract_crawler_spark.analytics.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
)
from etherscan_contract_crawler_spark.analytics.similarity import cosine_topk, lsh_bucket_topk
from etherscan_contract_crawler_spark.analytics.text import (
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from etherscan_contract_crawler_spark.functions import text as TXT
from etherscan_contract_crawler_spark.operators.politeness import schedule_epoch

# ---------------------------------------------------------------- helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _synth_url(domain_col, key_col):
    """Deterministic synthetic URL shared with the SQL oracle:
    https://site{custkey%20:05d}.example.com/address/0x{sha256(orderkey%3000)[:40]}#code"""
    return F.concat(
        F.lit("https://site"),
        F.lpad(domain_col.cast("string"), 5, "0"),
        F.lit(".example.com/address/0x"),
        F.substring(F.sha2(key_col.cast("string"), 256), 1, 40),
        F.lit("#code"),
    )


_SQL_URL = (
    "'https://site' || lpad(CAST(o_custkey % 20 AS VARCHAR), 5, '0') || "
    "'.example.com/address/0x' || substr(sha256(CAST(o_orderkey % 3000 AS VARCHAR)), 1, 40) "
    "|| '#code'"
)

_SQL_WORDS = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# ------------------------------------------------- crawl-domain operators
# S1/F2/F3/E3 — seed ingest: synthesize URLs, dedup by key, keep max priority
@_q(
    "seed_ingest_dedup",
    f"""
    SELECT url, max(priority) AS priority, CAST(count(*) AS BIGINT) AS n_dups
    FROM (SELECT {_SQL_URL} AS url, o_totalprice AS priority FROM orders)
    GROUP BY url
    """,
)
def seed_ingest_dedup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    url = _synth_url(F.col("o_custkey") % 20, F.col("o_orderkey") % 3000)
    return (
        o.select(url.alias("url"), F.col("o_totalprice").alias("priority"))
        .groupBy("url")
        .agg(F.max("priority").alias("priority"), F.count("*").alias("n_dups"))
    )


# P1 — validity regex filter (contract_crawler.py:367-369)
@_q(
    "validity_filter",
    """
    SELECT p_partkey, addr FROM (
      SELECT p_partkey,
             CASE WHEN p_size % 7 = 0
                  THEN substr('0x' || substr(sha256(p_name),1,40), 1, 30)
                  ELSE '0x' || substr(sha256(p_name),1,40) END AS addr
      FROM part)
    WHERE regexp_matches(addr, '^0x[a-f0-9]{40}$')
    """,
)
def validity_filter(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    full = F.concat(F.lit("0x"), F.substring(F.sha2(F.col("p_name"), 256), 1, 40))
    addr = F.when(F.col("p_size") % 7 == 0, F.substring(full, 1, 30)).otherwise(full)
    return (
        p.select("p_partkey", addr.alias("addr"))
        .filter(F.col("addr").rlike("^0x[a-f0-9]{40}$"))
    )


# F2 extension — registrable-domain extraction under full PSL semantics
# (functions/psl.py: exact/wildcard/exception rules, longest match). The SQL
# oracle computes the domain independently with DuckDB list ops over the SAME
# bundled rule sets; synthetic hosts exercise every rule class.
def _psl_sql_lists():
    from etherscan_contract_crawler_spark.functions.psl import (
        PSL_EXACT,
        PSL_WILDCARD,
    )

    exact2 = ", ".join(f"'{s}'" for s in sorted(PSL_EXACT) if s.count(".") == 1)
    exact3 = ", ".join(f"'{s}'" for s in sorted(PSL_EXACT) if s.count(".") == 2)
    wild1 = ", ".join(f"'{s}'" for s in sorted(PSL_WILDCARD) if "." not in s)
    wild2 = ", ".join(f"'{s}'" for s in sorted(PSL_WILDCARD) if s.count(".") == 1)
    return exact2, exact3, wild1, (wild2 or "''")


_E2, _E3, _W1, _W2 = _psl_sql_lists()

_SQL_PSL_HOST = """
    CASE p_partkey % 8
      WHEN 0 THEN 'a.b.h' || CAST(p_partkey AS VARCHAR) || '.com'
      WHEN 1 THEN 'x.h' || CAST(p_partkey AS VARCHAR) || '.co.uk'
      WHEN 2 THEN 'y.h' || CAST(p_partkey AS VARCHAR) || '.github.io'
      WHEN 3 THEN 'z.h' || CAST(p_partkey AS VARCHAR) || '.s3.amazonaws.com'
      WHEN 4 THEN 'w.h' || CAST(p_partkey AS VARCHAR) || '.foo.ck'
      WHEN 5 THEN 'sub.h' || CAST(p_partkey AS VARCHAR) || '.www.ck'
      WHEN 6 THEN 'h' || CAST(p_partkey AS VARCHAR) || '.unknowntld'
      ELSE 'deep.a.h' || CAST(p_partkey AS VARCHAR) || '.ac.uk'
    END
"""


@_q(
    "registrable_domain_psl",
    f"""
    WITH hosts AS (SELECT p_partkey, {_SQL_PSL_HOST} AS host FROM part),
    l AS (
      SELECT p_partkey, host, string_split(host, '.') AS labs,
             len(string_split(host, '.')) AS n
      FROM hosts
    ),
    s AS (
      SELECT p_partkey, host, labs, n,
        CASE
          WHEN n >= 2 AND array_to_string(list_slice(labs, n-1, n), '.') = 'www.ck' THEN 1
          WHEN n > 3 AND (array_to_string(list_slice(labs, n-2, n), '.') IN ({_E3})
                          OR array_to_string(list_slice(labs, n-1, n), '.') IN ({_W2})) THEN 3
          WHEN n > 2 AND (array_to_string(list_slice(labs, n-1, n), '.') IN ({_E2})
                          OR labs[n] IN ({_W1})) THEN 2
          ELSE 1
        END AS sl
      FROM l
    )
    SELECT p_partkey, host,
           CASE WHEN n <= sl OR n <= 1 THEN host
                ELSE array_to_string(list_slice(labs, n-sl, n), '.') END AS domain
    FROM s
    """,
)
def registrable_domain_psl_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions import urls as U

    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey").cast("string")
    m = F.col("p_partkey") % 8

    def h(*parts):
        return F.concat(*[F.lit(x) if isinstance(x, str) else x for x in parts])

    host = (
        F.when(m == 0, h("a.b.h", pk, ".com"))
        .when(m == 1, h("x.h", pk, ".co.uk"))
        .when(m == 2, h("y.h", pk, ".github.io"))
        .when(m == 3, h("z.h", pk, ".s3.amazonaws.com"))
        .when(m == 4, h("w.h", pk, ".foo.ck"))
        .when(m == 5, h("sub.h", pk, ".www.ck"))
        .when(m == 6, h("h", pk, ".unknowntld"))
        .otherwise(h("deep.a.h", pk, ".ac.uk"))
    )
    return p.select(
        "p_partkey",
        host.alias("host"),
        U.registrable_domain(host, is_host=True).alias("domain"),
    )


# P6/F11 — URL -> key projection (contract_crawler.py:328, :337)
@_q(
    "url_key_extract",
    f"""
    SELECT DISTINCT split_part(split_part(url, '/', -1), '#', 1) AS url_key
    FROM (SELECT {_SQL_URL} AS url FROM orders)
    """,
)
def url_key_extract(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    url = _synth_url(F.col("o_custkey") % 20, F.col("o_orderkey") % 3000)
    key = F.substring_index(F.element_at(F.split(url, "/"), -1), "#", 1)
    return o.select(key.alias("url_key")).distinct()


# J1 — anti-join dedup-before-fetch (contract_crawler.py:466-468)
@_q(
    "anti_join_unseen",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000)
    """,
)
def anti_join_unseen(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


# J2/E1 — union of seen sets (contract_crawler.py:466)
@_q(
    "union_seen",
    """
    SELECT DISTINCT k FROM (
      SELECT c_custkey AS k FROM customer
      UNION ALL SELECT o_custkey AS k FROM orders)
    """,
)
def union_seen(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.unionByName(o).distinct()


# E2 — set difference (contract_crawler.py:468)
@_q(
    "except_frontier",
    """
    SELECT DISTINCT o_custkey AS k FROM orders
    EXCEPT SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
    """,
)
def except_frontier(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    rich = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("k"))
    )
    return o.subtract(rich)


# W1 — priority ordering / top-k per partition
@_q(
    "priority_topk",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer) WHERE rn <= 10
    """,
)
def priority_topk(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


# W2 — politeness fetch slots (intended 5/period budget, contract_crawler.py:373)
@_q(
    "politeness_slots",
    """
    SELECT user_id, event_id, CAST(rn AS INT) AS rn,
           CAST(floor((rn - 1) / 5) AS INT) AS fetch_slot
    FROM (SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events)
    """,
)
def politeness_slots(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .select(
            "user_id",
            "event_id",
            "rn",
            F.floor((F.col("rn") - 1) / 5).cast("int").alias("fetch_slot"),
        )
    )


# W3 — retry backoff as data (contract_crawler.py:134; monitor backoff :36-47)
@_q(
    "retry_backoff",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(5 * pow(2, least(l_linenumber, 6)) AS BIGINT) AS backoff_s
    FROM lineitem
    """,
)
def retry_backoff(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(5) * F.pow(F.lit(2), F.least(F.col("l_linenumber"), F.lit(6))))
        .cast("long")
        .alias("backoff_s"),
    )


# W4/F7 — file-sequence numbering {n:0>2}_{total:0>2} (contract_crawler.py:203-207)
@_q(
    "seq_numbering",
    """
    SELECT l_orderkey, l_linenumber,
           lpad(CAST(rn AS VARCHAR), 2, '0') || '_' || lpad(CAST(total AS VARCHAR), 2, '0')
             || '_' || CAST(l_partkey AS VARCHAR) AS fname
    FROM (SELECT l_orderkey, l_linenumber, l_partkey,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey) AS rn,
                 count(*) OVER (PARTITION BY l_orderkey) AS total
          FROM lineitem)
    """,
)
def seq_numbering(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the fixture — pin the full
    # tiebreak so both engines assign identical sequence numbers
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    wp = Window.partitionBy("l_orderkey")
    fname = F.concat(
        F.lpad(F.row_number().over(w).cast("string"), 2, "0"),
        F.lit("_"),
        F.lpad(F.count("*").over(wp).cast("string"), 2, "0"),
        F.lit("_"),
        F.col("l_partkey").cast("string"),
    )
    return li.select("l_orderkey", "l_linenumber", fname.alias("fname"))


# A1 — group-by checksum + having (find-duplicates.py:7-24)
@_q(
    "group_having_dups",
    """
    SELECT checksum, CAST(count(*) AS BIGINT) AS n_members,
           min(l_orderkey) AS keep_id, max(l_orderkey) AS max_id
    FROM (SELECT md5(l_returnflag || l_linestatus || CAST(l_linenumber AS VARCHAR)) AS checksum,
                 l_orderkey FROM lineitem)
    GROUP BY checksum HAVING count(*) > 1
    """,
)
def group_having_dups(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    checksum = F.md5(
        F.concat(
            F.col("l_returnflag"), F.col("l_linestatus"), F.col("l_linenumber").cast("string")
        )
    )
    return (
        li.select(checksum.alias("checksum"), "l_orderkey")
        .groupBy("checksum")
        .agg(
            F.count("*").alias("n_members"),
            F.min("l_orderkey").alias("keep_id"),
            F.max("l_orderkey").alias("max_id"),
        )
        .filter(F.col("n_members") > 1)
    )


# A2 — per-group ordered concat + md5 (solidity-naive-checksum.py:17-34, order
# pinned by line number — the reference used unstable os.listdir order, §8 B5)
@_q(
    "content_checksum",
    """
    SELECT l_orderkey,
           md5(string_agg(CAST(l_partkey AS VARCHAR), ''
                          ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR))) AS checksum
    FROM lineitem GROUP BY l_orderkey
    """,
)
def content_checksum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pair = F.struct(F.col("l_linenumber").alias("ln"), F.col("l_partkey").cast("string").alias("pk"))
    return li.groupBy("l_orderkey").agg(
        F.md5(
            F.array_join(F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["pk"]), "")
        ).alias("checksum")
    )


# P7/O3 — selector fallback chain (contract_crawler.py:209-227)
@_q(
    "selector_fallback",
    """
    SELECT p_partkey,
           coalesce(CASE WHEN p_size > 40 THEN p_type END,
                    CASE WHEN p_retailprice > 1500 THEN p_brand END,
                    'default') AS chosen
    FROM part
    """,
)
def selector_fallback(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    chosen = F.coalesce(
        F.when(F.col("p_size") > 40, F.col("p_type")),
        F.when(F.col("p_retailprice") > 1500, F.col("p_brand")),
        F.lit("default"),
    )
    return p.select("p_partkey", chosen.alias("chosen"))


# P8 — header-zip projection dict(zip(headers, cells)) (contract_crawler.py:144-145)
@_q(
    "header_zip",
    """
    SELECT event_id, event_type AS etype,
           CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS eval_s
    FROM events
    """,
)
def header_zip(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("type"), F.lit("val")),
        F.array(
            F.col("event_type"),
            F.floor(F.col("value") * 100).cast("long").cast("string"),
        ),
    )
    return e.select(
        "event_id", m.getItem("type").alias("etype"), m.getItem("val").alias("eval_s")
    )


# P5 — sentinel (empty-checksum) filter (find-duplicates.py:5, :16-17)
@_q(
    "sentinel_filter",
    """
    SELECT doc_id, md5(s) AS checksum FROM (
      SELECT doc_id, CASE WHEN n_chars % 13 = 0 THEN '' ELSE substr(text, 1, 10) END AS s
      FROM documents)
    WHERE md5(s) <> 'd41d8cd98f00b204e9800998ecf8427e'
    """,
)
def sentinel_filter(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    s = F.when(F.col("n_chars") % 13 == 0, F.lit("")).otherwise(F.substring(F.col("text"), 1, 10))
    return (
        d.select("doc_id", F.md5(s).alias("checksum"))
        .filter(F.col("checksum") != "d41d8cd98f00b204e9800998ecf8427e")
    )


# P4 — numeric-prefix filter: drop texts starting with a digit
# (line-number gutters, contract_crawler.py:48-49, :224)
@_q(
    "numeric_prefix_filter",
    """
    SELECT doc_id, s FROM (
      SELECT doc_id, CASE WHEN doc_id % 4 = 0
                          THEN CAST(doc_id AS VARCHAR) || substr(text, 1, 20)
                          ELSE substr(text, 1, 20) END AS s
      FROM documents)
    WHERE NOT regexp_matches(s, '^[0-9]')
    """,
)
def numeric_prefix_filter(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    s = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.col("doc_id").cast("string"), F.substring(F.col("text"), 1, 20)),
    ).otherwise(F.substring(F.col("text"), 1, 20))
    return d.select("doc_id", s.alias("s")).filter(~TXT.starts_with_digit(F.col("s")))


# F1 — path-safe sanitize (contract_crawler.py:44-46)
@_q(
    "sanitize_name",
    r"""
    SELECT p_partkey,
           substr(regexp_replace(p_name, '[^a-zA-Z0-9\-_\.]', '_', 'g'), 1, 255) AS safe_name
    FROM part
    """,
)
def sanitize_name(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", TXT.to_path_name("p_name").alias("safe_name"))


# F4 — comment/whitespace normalization (solidity-naive-checksum.py:6-10)
@_q(
    "strip_comments",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(regexp_replace(
                '/* hdr */ ' || text || ' // tail', '/\*.*?\*/', '', 'gs'),
                '//[^\n]*', '', 'g'), '\s+', ' ', 'g'))) AS norm_md5
    FROM documents
    """,
)
def strip_comments(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    injected = F.concat(F.lit("/* hdr */ "), F.col("text"), F.lit(" // tail"))
    return d.select(
        "doc_id", F.md5(TXT.strip_comments_normalize(injected)).alias("norm_md5")
    )


# F5 — regex-extract integer with separators (contract_crawler.py:170-175)
@_q(
    "extract_count_int",
    """
    SELECT o_orderkey,
           CAST(replace(regexp_extract('a total of ' || CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) || ' txns',
                                       'a total of ([0-9,]+)', 1), ',', '') AS INT) AS n
    FROM orders
    """,
)
def extract_count_int(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    s = F.concat(
        F.lit("a total of "),
        F.floor(F.col("o_totalprice")).cast("long").cast("string"),
        F.lit(" txns"),
    )
    return o.select(
        "o_orderkey", TXT.extract_count_int(s, r"a total of ([0-9,]+)").alias("n")
    )


# F9 — JSON decode (contract_crawler.py:385-397)
@_q(
    "json_extract_field",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events
    """,
)
def json_extract_field(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


# P2/T2 — monitor creation/call split + per-branch counts
# (blockchain-multichain-monitor.py:76-88)
@_q(
    "monitor_split",
    """
    SELECT event_type, branch, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT event_type,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 10 = 0
                  THEN 'creation' ELSE 'call' END AS branch
      FROM events)
    GROUP BY event_type, branch
    """,
)
def monitor_split(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    branch = F.when(
        F.get_json_object("props", "$.k").cast("int") % 10 == 0, F.lit("creation")
    ).otherwise(F.lit("call"))
    return (
        e.select("event_type", branch.alias("branch"))
        .groupBy("event_type", "branch")
        .agg(F.count("*").alias("n"))
    )


# T2/A4 — stateful dedup keep-first semantics (monitor seen set)
@_q(
    "stream_dedup_first",
    """
    SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS first_epoch,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_dedup_first(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("first_epoch"),
        F.count("*").alias("n_events"),
    )


# J4 — broadcast lookup join (fix-imports-solidity.py:27-33)
@_q(
    "broadcast_lookup_join",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def broadcast_lookup_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


# W1+W2 composed — the flagship: one politeness-scheduled epoch over a
# synthetic frontier (the engine's schedule_epoch operator, SQL-checkable
# because the tiebreak key here is the URL itself)
@_q(
    "crawl_schedule_epoch",
    f"""
    SELECT url, domain, priority, CAST(rn AS INT) AS rn,
           CAST(floor((rn - 1) / 5) AS INT) AS fetch_slot
    FROM (
      SELECT url, domain, priority,
             row_number() OVER (PARTITION BY domain
                                ORDER BY priority DESC, url ASC) AS rn
      FROM (SELECT {_SQL_URL} AS url,
                   'site' || lpad(CAST(o_custkey % 20 AS VARCHAR), 5, '0') || '.example.com' AS domain,
                   o_totalprice AS priority
            FROM orders))
    WHERE rn <= 300
    """,
)
def crawl_schedule_epoch(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    url = _synth_url(F.col("o_custkey") % 20, F.col("o_orderkey") % 3000)
    domain = F.concat(
        F.lit("site"), F.lpad((F.col("o_custkey") % 20).cast("string"), 5, "0"),
        F.lit(".example.com"),
    )
    frontier = o.select(
        url.alias("url"),
        url.alias("url_canon"),
        url.alias("url_sha1"),  # tiebreak key: the URL itself (SQL-reproducible)
        domain.alias("domain"),
        F.col("o_totalprice").alias("priority"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("next_fetch_time"),
    )
    sched = schedule_epoch(frontier, epoch_duration_s=60)  # capacity 5*60=300
    return sched.select("url", "domain", "priority", "rn", "fetch_slot")


# J3 — positional zip join: pair i-th file name with i-th body
# (contract_crawler.py:270 — zip(files, sources))
@_q(
    "positional_zip_join",
    """
    WITH a AS (
      SELECT l_orderkey,
             list(CAST(l_partkey AS VARCHAR)
                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS files,
             list(CAST(l_suppkey AS VARCHAR)
                  ORDER BY l_linenumber, l_partkey, l_suppkey) AS bodies
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           CAST(unnest(generate_series(1, len(files))) - 1 AS INT) AS pos,
           unnest(files) AS fname, unnest(bodies) AS body
    FROM a
    """,
)
def positional_zip_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    item = F.struct(
        F.col("l_linenumber").alias("ln"),
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
    )
    arrays = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(item)).alias("items")
    ).select(
        "l_orderkey",
        F.transform("items", lambda s: s["pk"].cast("string")).alias("files"),
        F.transform("items", lambda s: s["sk"].cast("string")).alias("bodies"),
    )
    return arrays.select(
        "l_orderkey",
        F.posexplode(F.arrays_zip("files", "bodies")).alias("pos", "z"),
    ).select("l_orderkey", F.col("pos").cast("int"), F.col("z.files").alias("fname"), F.col("z.bodies").alias("body"))


# J4/F6 — import resolution: regex basename -> broadcast index join with
# node_modules fallback (fix-imports-solidity.py:27-39, :68)
@_q(
    "import_resolution",
    """
    WITH idx AS (
      SELECT DISTINCT 'part' || CAST(p_partkey AS VARCHAR) || '.sol' AS basename,
             'contracts/part' || CAST(p_partkey AS VARCHAR) || '.sol' AS path
      FROM part WHERE p_partkey % 500 < 400),
    imports AS (
      SELECT l_orderkey, l_linenumber,
             regexp_extract('import "../lib/part' || CAST(l_partkey % 500 AS VARCHAR) || '.sol";',
                            '".*/(\\w+\\.sol)";', 1) AS basename
      FROM lineitem)
    SELECT l_orderkey, l_linenumber, i.basename,
           coalesce(idx.path, 'node_modules/' || i.basename) AS resolved
    FROM imports i LEFT JOIN idx ON i.basename = idx.basename
    """,
)
def import_resolution(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    idx = (
        p.filter(F.col("p_partkey") % 500 < 400)
        .select(
            F.concat(F.lit("part"), F.col("p_partkey").cast("string"), F.lit(".sol")).alias("basename"),
            F.concat(F.lit("contracts/part"), F.col("p_partkey").cast("string"), F.lit(".sol")).alias("path"),
        )
        .distinct()
    )
    li = _t(spark, sf_dir, "lineitem")
    line = F.concat(
        F.lit('import "../lib/part'), (F.col("l_partkey") % 500).cast("string"), F.lit('.sol";')
    )
    imports = li.select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_extract(line, r'".*/(\w+\.sol)";', 1).alias("basename"),
    )
    return imports.join(F.broadcast(idx), "basename", "left").select(
        "l_orderkey",
        "l_linenumber",
        "basename",
        F.coalesce(F.col("path"), F.concat(F.lit("node_modules/"), F.col("basename"))).alias("resolved"),
    )


# skew — salted two-stage aggregation (hot keys: l_returnflag has 3 values);
# oracle is the plain GROUP BY: salting must not change the answer
@_q(
    "salted_groupby",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_groupby(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = salted_agg(
        li,
        ["l_returnflag"],
        "l_orderkey",
        {"n": (F.count("*"), F.sum("n")), "revenue": (F.sum(rev), F.sum("revenue"))},
        n_salts=16,
    )
    return out.select("l_returnflag", "n", F.round("revenue", 2).alias("revenue"))


# ops metrics — cube over (returnflag, linestatus): the domain×fmt crawl
# metrics rollup (SURVEY.md §2.4 ⊘ row)
@_q(
    "cube_metrics",
    """
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_metrics(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


# F7/F8/F10 — zero-pad, timestamp format, hex encode
@_q(
    "scalar_misc",
    """
    SELECT o_orderkey, lower(to_hex(o_orderkey)) AS hexkey,
           strftime(o_orderdate, '%Y%m%d') AS day_str,
           lpad(CAST(o_custkey % 1000 AS VARCHAR), 5, '0') AS padded
    FROM orders
    """,
)
def scalar_misc(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lower(F.hex(F.col("o_orderkey"))).alias("hexkey"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("day_str"),
        F.lpad((F.col("o_custkey") % 1000).cast("string"), 5, "0").alias("padded"),
    )


# lag/lead + cumulative windows — gap-based sessionization of events
@_q(
    "sessionize_events",
    """
    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS INT) AS session_idx,
           CAST(is_new AS INT) AS is_new_session
    FROM (SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                                         ORDER BY ts, event_id))) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events)
    """,
)
def sessionize_events(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, gap_s=1800)
    return s.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "session_idx",
        F.col("is_new_session").cast("int").alias("is_new_session"),
    )


# ------------------------------------------------- data-pipeline operators

# exact dedup over an augmented corpus (1/3 of docs duplicated)
_SQL_CORPUS = """
  (SELECT doc_id, text FROM documents
   UNION ALL
   SELECT doc_id + 1000000000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0)
"""


@_q(
    "dedup_exact",
    f"""
    SELECT md5(text) AS checksum, CAST(count(*) AS BIGINT) AS n_members,
           min(doc_id) AS keep_id, max(doc_id) AS max_id
    FROM {_SQL_CORPUS} GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"), "text"
    )
    return exact_dedup_groups(d.unionByName(dup))


_SQL_SHINGLES_150 = f"""
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents WHERE doc_id < 150))
"""


@_q(
    "dedup_jaccard_pairs",
    f"""
    WITH sh AS ({_SQL_SHINGLES_150}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(c / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(c / (sa.n_sh + sb.n_sh - c), 6) >= 0.1
    """,
)
def dedup_jaccard_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return jaccard_pairs(d, n=3, threshold=0.1)


@_q(
    "dedup_minhash_sig",
    f"""
    WITH sh AS ({_SQL_SHINGLES_150})
    SELECT doc_id, CAST(j AS INT) AS j,
           min(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS mh
    FROM sh, range(0, 12) t(j)
    GROUP BY doc_id, j
    """,
)
def dedup_minhash_sig(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sigs = minhash_signatures(d, n_hashes=12)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("j", "mh")
    ).select("doc_id", F.col("j").cast("int").alias("j"), "mh")


@_q(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH sh AS ({_SQL_SHINGLES_150}),
    mh AS (
      SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS mh
      FROM sh, range(0, 12) t(j) GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 3 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS bh
      FROM mh GROUP BY doc_id, j // 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands_shared
    FROM bands a JOIN bands b USING (band, bh)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    """,
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return minhash_lsh_pairs(d, n_hashes=12, bands=4)


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(32)
    )
    bits = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    return f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_WORDS}) AS token FROM documents),
    h AS (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS hv FROM tok),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM s
    """


@_q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"))


# embedding-cosine near-dup: corpus = embeddings(vec_id<300) plus scaled
# copies (cosine-invariant ×2) of every 5th vector; pairs with cosine>=0.99
# are exactly the planted copies. Exact self-join is the oracle; the scale
# path pre-buckets with the hyperplane LSH of lsh_bucket_topk.
@_q(
    "dedup_embedding_cosine",
    """
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 300
      UNION ALL
      SELECT vec_id + 1000000000000 AS vec_id,
             CAST(list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 300 AND vec_id % 5 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.99
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import cosine_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    copies = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x.cast("double") * 2).cast("float")).alias("embedding"),
    )
    corpus = e.select("vec_id", "embedding").unionByName(copies)
    return cosine_neardup_pairs(corpus, threshold=0.99)


@_q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
    s AS (SELECT query_id, vec_id AS neighbor_id,
                 round(list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])), 4) AS score
          FROM embeddings, q WHERE vec_id <> query_id)
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank,
           score
    FROM s QUALIFY rank <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk(e, q, k=5)


# dedup CLUSTERING — connected components over dup edges via iterative
# min-label propagation (analytics/dedup.py neardup_components, a
# driver-looped iterative algorithm). Edges: chains within exact-fingerprint
# groups (lag over the group window), so multi-hop propagation is exercised.
# Oracle: DuckDB recursive-CTE transitive closure — an independent
# formulation of the same components.
@_q(
    "dedup_components",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), chain AS (
      SELECT doc_id, lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) AS prev FROM d
    ), sym AS (
      SELECT prev AS a, doc_id AS b FROM chain WHERE prev IS NOT NULL
      UNION
      SELECT doc_id AS a, prev AS b FROM chain WHERE prev IS NOT NULL
    ), reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
    ), m AS (SELECT a, min(b) AS mn FROM reach GROUP BY a)
    SELECT d.doc_id,
           CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS component
    FROM d LEFT JOIN m ON m.a = d.doc_id
    """,
)
def dedup_components(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import neardup_components

    docs = _t(spark, sf_dir, "documents")
    fp = fingerprint(docs)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    chain = fp.withColumn("prev", F.lag("doc_id").over(w)).filter(
        F.col("prev").isNotNull()
    )
    edges = chain.select(F.col("prev").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return neardup_components(docs.select("doc_id"), edges)


# approximate ANN (LSH-bucketed) — no SQL oracle by design (approximate op);
# driver records the weaker rows-only check. Recall pinned by
# tests/test_analytics_extra.py::test_ann_lsh_recall_floor.
@_q("ann_lsh_topk")
def ann_lsh_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return lsh_bucket_topk(e, q, k=5, n_planes=6)


# approximate ANN (IVF-flat: coarse-quantizer cells + n_probe) — the second
# classic scale path; rows-only for the same reason, recall pinned by
# tests/test_analytics_extra.py::test_ann_ivf_recall_floor_and_partition
@_q("ann_ivf_topk")
def ann_ivf_topk(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(e, q, k=5, n_centroids=16, n_probe=8)


def _langid_sql() -> str:
    hit_cols = ", ".join(
        "len(list_intersect(w, [{}])) AS {}_hits".format(
            ", ".join(f"'{s}'" for s in ws), lang
        )
        for lang, ws in STOPWORDS.items()
    )
    langs = sorted(STOPWORDS)  # alphabetical tie-break: first wins
    m = "greatest(" + ", ".join(f"{la}_hits" for la in langs) + ")"
    case = "CASE WHEN {m} < 1 THEN 'unknown' {whens} END".format(
        m=m, whens=" ".join(f"WHEN {la}_hits = {m} THEN '{la}'" for la in langs)
    )
    return f"""
    SELECT doc_id, {case} AS lang_guess,
           CAST(CASE WHEN {m} >= 1 THEN {m} ELSE 0 END AS INT) AS hits
    FROM (SELECT doc_id, {hit_cols} FROM
          (SELECT doc_id, {_SQL_WORDS} AS w FROM documents))
    """


@_q("text_lang_id", _langid_sql())
def text_lang_id(spark, sf_dir):
    return lang_id(_t(spark, sf_dir, "documents"))


@_q(
    "text_token_count",
    """
    SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    return token_count(_t(spark, sf_dir, "documents"))


def _quality_sql() -> str:
    en = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    return f"""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_punct AS BIGINT) AS n_punct,
           round(0.4 * least(n_chars / 500.0, 1.0)
                 + 0.3 * least(en_hits / 5.0, 1.0)
                 + 0.3 * (1.0 - CASE WHEN n_chars > 0
                                     THEN n_punct / CAST(n_chars AS DOUBLE)
                                     ELSE 0.0 END), 6) AS quality
    FROM (SELECT doc_id, length(text) AS n_chars,
                 len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                 len(list_intersect({_SQL_WORDS}, [{en}])) AS en_hits
          FROM documents)
    """


@_q("text_quality", _quality_sql())
def text_quality(spark, sf_dir):
    return quality_score(_t(spark, sf_dir, "documents"))


@_q(
    "text_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    return fingerprint(_t(spark, sf_dir, "documents"))


def _retention_sql() -> str:
    """The full training-data retention decision as one SQL statement —
    composed from the SAME aligned fragments the individual text queries
    use, so a drift in any one of them breaks two oracles."""
    return f"""
    WITH lang AS ({_langid_sql()}),
    q AS ({_quality_sql()}),
    t AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
          FROM documents),
    fp AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
           FROM documents),
    canon AS (SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint)
    SELECT l.doc_id, l.lang_guess, q.quality, t.n_tokens,
           CAST(f.doc_id = c.keep_id AS BOOLEAN) AS is_canonical,
           CAST(l.lang_guess <> 'unknown' AND q.quality >= 0.5
                AND t.n_tokens BETWEEN 10 AND 100000
                AND f.doc_id = c.keep_id AS BOOLEAN) AS keep
    FROM lang l
    JOIN q ON q.doc_id = l.doc_id
    JOIN t ON t.doc_id = l.doc_id
    JOIN fp f ON f.doc_id = l.doc_id
    JOIN canon c ON c.fingerprint = f.fingerprint
    """


# the end-to-end training-data retention decision: language ∧ quality ∧
# token bounds ∧ exact-dedup canonicality — the pipeline composition a data
# curator actually runs (each predicate is its own oracle-checked operator
# above; this query pins their composition)
@_q("corpus_retention", _retention_sql())
def corpus_retention(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    lang = lang_id(docs).select("doc_id", "lang_guess")
    q = quality_score(docs).select("doc_id", "quality")
    toks = token_count(docs)
    fp = fingerprint(docs)
    canon = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_id"))
    return (
        lang.join(q, "doc_id")
        .join(toks, "doc_id")
        .join(fp, "doc_id")
        .join(canon, "fingerprint")
        .withColumn("is_canonical", F.col("doc_id") == F.col("keep_id"))
        .withColumn(
            "keep",
            (F.col("lang_guess") != "unknown")
            & (F.col("quality") >= 0.5)
            & F.col("n_tokens").between(10, 100000)
            & F.col("is_canonical"),
        )
        .select("doc_id", "lang_guess", "quality", "n_tokens", "is_canonical", "keep")
    )


# rolling-hash winnowing fingerprints (MOSS) — k=8-gram hashes, window w=4
@_q(
    "text_winnow_fingerprint",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS pos, norm
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM documents WHERE doc_id < 100))
    SELECT DISTINCT doc_id,
           min(CAST(('0x' || substr(md5(substr(norm, pos, 8)), 1, 15)) AS BIGINT))
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM g
    """,
)
def text_winnow_fingerprint(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_fingerprints(d, k=8, w=4)


# ------------------------------------------------- multimodal (rows-only)
@_q("images_decode_validate")
def images_decode_validate(spark, sf_dir):
    """input_hint payload plumbing: build the deterministic image+caption
    table for 64 keys derived from documents, decode+validate (PSNR/caption/
    phash). No SQL oracle (binary codecs aren't SQL) — rows-only check."""
    from collections.abc import Iterator

    import pandas as pd

    from etherscan_contract_crawler_spark.operators.fetch import IMAGES_DDL
    from etherscan_contract_crawler_spark.operators.validate import validate_payloads
    from etherscan_contract_crawler_spark.sources.synthetic import payload_for_key

    keys = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(F.sha1(F.col("doc_id").cast("string")).alias("key"))
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [payload_for_key(k) for k in pdf["key"]]
            out = pd.DataFrame(
                {
                    "image_id": [r["image_id"] for r in rows],
                    "bytes": [r["bytes"] for r in rows],
                    "w": pd.array([r["w"] for r in rows], dtype="Int32"),
                    "h": pd.array([r["h"] for r in rows], dtype="Int32"),
                    "fmt": [r["fmt"] for r in rows],
                    "caption": [r["caption"] for r in rows],
                    "phash": pd.array([r["phash"] for r in rows], dtype="Int64"),
                }
            )
            yield out

    images = keys.mapInPandas(gen, schema=IMAGES_DDL)
    v = validate_payloads(images)
    return v.select(
        "image_id", "valid", "dims_ok", "caption_ok", "phash_ok",
        F.floor(F.col("psnr_db")).cast("int").alias("psnr_floor_db"),
    )


# robots acquisition + filtering end-to-end (operators/robots.py parse +
# operators/politeness.py:58 robots_filter). The injected session publishes
# rules for domains chosen by md5(domain) so DuckDB can rebuild the dim
# independently; the Spark side parses REAL robots.txt bodies (comments,
# other-agent groups, explicit allow-all) through acquire_robots.
# (r2 VERDICT #4 — the reference crawls with no robots handling,
# contract_crawler.py:32-36; the north_star demands the cache.)
def _oracle_robots_session():
    import hashlib

    def fetch(domain: str) -> str | None:
        c = hashlib.md5(domain.encode()).hexdigest()[0]
        if c in "0123":
            rules = "\n".join(f"Disallow: /address/0x{x:x}" for x in range(8))
            return (
                "# oracle robots\n"
                "User-agent: other-bot\nDisallow: /\n\n"
                f"User-agent: *\n{rules}\nDisallow:\n"
            )
        if c in "4567":
            return "User-agent: *\nDisallow:\n"  # explicit allow-all
        return None

    return fetch


@_q(
    "robots_filter",
    """
    WITH f AS (
      SELECT DISTINCT
        'site' || lpad(CAST(o_custkey % 20 AS VARCHAR), 5, '0')
               || '.example.com' AS domain,
        '/address/0x' || substr(sha256(CAST(o_orderkey % 3000 AS VARCHAR)), 1, 40) AS path
      FROM orders)
    SELECT domain, 'https://' || domain || path AS url_canon
    FROM f
    WHERE NOT (substr(md5(domain), 1, 1) IN ('0','1','2','3')
               AND substr(path, 12, 1) < '8')
    """,
)
def robots_filter_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import robots_filter
    from etherscan_contract_crawler_spark.operators.robots import acquire_robots

    o = _t(spark, sf_dir, "orders")
    domain = F.concat(
        F.lit("site"),
        F.lpad((F.col("o_custkey") % 20).cast("string"), 5, "0"),
        F.lit(".example.com"),
    )
    path = F.concat(
        F.lit("/address/0x"),
        F.substring(F.sha2((F.col("o_orderkey") % 3000).cast("string"), 256), 1, 40),
    )
    frontier = o.select(
        domain.alias("domain"),
        F.concat(F.lit("https://"), domain, path).alias("url_canon"),
    ).distinct()
    robots = acquire_robots(frontier, _oracle_robots_session)
    return robots_filter(frontier, robots).select("domain", "url_canon")


# Full RFC 9309 wildcard robots matching (operators/robots.py keeps rules
# VERBATIM; politeness.robots_filter compiles '*' -> '.*' and terminal '$'
# -> end anchor JVM-side, literal rules stay on the startswith fast path;
# specificity = raw-rule octet length, Allow wins ties). Every domain gets
# the same 4-rule wildcard body; the oracle independently re-derives each
# rule as an explicit anchored regex/prefix with its octet rank — no shared
# compiler.
def _wildcard_robots_session():
    def fetch(domain: str) -> str | None:
        return (
            "User-agent: *\n"
            "Disallow: /address/0x0*\n"
            "Allow: /address/0x00*\n"
            "Disallow: /files/*.pdf$\n"
            "Disallow: /*/tmp/\n"
        )

    return fetch


@_q(
    "robots_wildcard_filter",
    """
    WITH f AS (
      SELECT DISTINCT
        'site' || lpad(CAST(o_custkey % 20 AS VARCHAR), 5, '0')
               || '.example.com' AS domain,
        CASE o_orderkey % 6
          WHEN 0 THEN '/address/0x0' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)
          WHEN 1 THEN '/address/0x00' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 5)
          WHEN 2 THEN '/files/doc' || CAST(o_orderkey % 50 AS VARCHAR) || '.pdf'
          WHEN 3 THEN '/files/doc' || CAST(o_orderkey % 50 AS VARCHAR) || '.pdfx'
          WHEN 4 THEN '/a/tmp/page' || CAST(o_orderkey % 50 AS VARCHAR)
          ELSE '/public/page' || CAST(o_orderkey % 50 AS VARCHAR) END AS path
      FROM orders),
    m AS (
      SELECT domain, path,
        greatest(
          CASE WHEN starts_with(path, '/address/0x0') THEN 13 ELSE -1 END,
          CASE WHEN regexp_matches(path, '^/files/.*\\.pdf$') THEN 13 ELSE -1 END,
          CASE WHEN regexp_matches(path, '^/.*/tmp/') THEN 7 ELSE -1 END
        ) AS best_dis,
        CASE WHEN starts_with(path, '/address/0x00') THEN 14 ELSE -1 END
          AS best_alw
      FROM f)
    SELECT domain, 'https://' || domain || path AS url_canon
    FROM m WHERE NOT (best_dis > best_alw)
    """,
)
def robots_wildcard_filter_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        robots_filter,
    )
    from etherscan_contract_crawler_spark.operators.robots import (
        acquire_robots,
    )

    o = _t(spark, sf_dir, "orders")
    domain = F.concat(
        F.lit("site"),
        F.lpad((F.col("o_custkey") % 20).cast("string"), 5, "0"),
        F.lit(".example.com"),
    )
    k = F.col("o_orderkey")
    h = F.md5(k.cast("string"))
    path = (
        F.when(k % 6 == 0, F.concat(F.lit("/address/0x0"), F.substring(h, 1, 6)))
        .when(k % 6 == 1, F.concat(F.lit("/address/0x00"), F.substring(h, 1, 5)))
        .when(k % 6 == 2, F.concat(F.lit("/files/doc"), (k % 50).cast("string"),
                                   F.lit(".pdf")))
        .when(k % 6 == 3, F.concat(F.lit("/files/doc"), (k % 50).cast("string"),
                                   F.lit(".pdfx")))
        .when(k % 6 == 4, F.concat(F.lit("/a/tmp/page"), (k % 50).cast("string")))
        .otherwise(F.concat(F.lit("/public/page"), (k % 50).cast("string")))
    )
    frontier = o.select(
        domain.alias("domain"),
        F.concat(F.lit("https://"), domain, path).alias("url_canon"),
    ).distinct()
    robots = acquire_robots(frontier, _wildcard_robots_session)
    return robots_filter(frontier, robots).select("domain", "url_canon")


# stateful per-domain admission, replayed in batch through the SAME
# _admit_group hook the streaming operator runs (streaming/ratelimit.py) —
# the oracle is the token bucket's closed form: per-(domain, window)
# row_number capped at max_calls. (r2 VERDICT #4; reference analog: the
# intended dead @limits(calls=5, period=1), contract_crawler.py:372-375.)
@_q(
    "admission_window",
    """
    SELECT domain, url_sha1, batch_ts,
           rn <= 5 AS admitted,
           CAST(least(rn, 5) AS INT) AS used_in_window
    FROM (
      SELECT 'd' || CAST(user_id % 20 AS VARCHAR) AS domain,
             substr(sha256(CAST(event_id AS VARCHAR)), 1, 40) AS url_sha1,
             CAST(floor(epoch(ts)) AS BIGINT) AS batch_ts,
             row_number() OVER (
               PARTITION BY user_id % 20, CAST(floor(epoch(ts)) AS BIGINT) // 86400
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                        substr(sha256(CAST(event_id AS VARCHAR)), 1, 40)
             ) AS rn
      FROM events)
    """,
)
def admission_window(spark, sf_dir):
    from etherscan_contract_crawler_spark.streaming.ratelimit import admission_replay

    e = _t(spark, sf_dir, "events")
    src = e.select(
        F.concat(F.lit("d"), (F.col("user_id") % 20).cast("string")).alias("domain"),
        F.substring(F.sha2(F.col("event_id").cast("string"), 256), 1, 40).alias(
            "url_sha1"
        ),
        F.unix_timestamp("ts").alias("batch_ts"),
    )
    return admission_replay(src, max_calls=5, period_s=86400)


# frontier priority from link authority: fixed-3-iteration PageRank over a
# deterministic outlink graph (analytics/graph.py). The oracle chains the
# same three power-method steps as CTEs — an independent closed-form
# re-derivation, not a re-run of the operator. Reference analog: the
# hardcoded page order this replaces, contract_crawler.py:316-325.
_PR_EDGES_SQL = """
      SELECT DISTINCT CAST(l_orderkey % 3000 AS BIGINT) AS src,
                      CAST(l_partkey % 3000 AS BIGINT) AS dst
      FROM lineitem
      WHERE l_orderkey % 3000 <> l_partkey % 3000
"""
_PR_STEP_SQL = """
    r{k} AS (
      SELECT nodes.id, 0.15/p.n + 0.85*COALESCE(c.contrib, 0.0) AS pr
      FROM nodes CROSS JOIN p
      LEFT JOIN (SELECT w.dst AS id, SUM(r{j}.pr * w.w) AS contrib
                 FROM w JOIN r{j} ON w.src = r{j}.id GROUP BY w.dst) c
        ON nodes.id = c.id
    )"""


@_q(
    "pagerank_priority",
    f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
    w AS (SELECT e.src, e.dst, 1.0/d.outdeg AS w FROM edges e JOIN deg d ON e.src = d.src),
    p AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT id, 1.0/p.n AS pr FROM nodes CROSS JOIN p),
    {_PR_STEP_SQL.format(k=1, j=0)},
    {_PR_STEP_SQL.format(k=2, j=1)},
    {_PR_STEP_SQL.format(k=3, j=2)}
    SELECT id, pr FROM r3
    """,
)
def pagerank_priority(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % 3000).cast("long").alias("src"),
            (F.col("l_partkey") % 3000).cast("long").alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    return pagerank(edges, iters=3)


# as-of join: attribute each click to the latest view at-or-before it, per
# user — one shuffle (operators/asof.py). The oracle is DuckDB's NATIVE
# ASOF LEFT JOIN, a fully independent implementation of the semantics. The
# right side is pre-aggregated to one row per (user_id, ts) because ASOF
# tie-breaking among equal timestamps is otherwise implementation-defined.
@_q(
    "asof_join_clicks",
    """
    WITH v AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    c AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
    )
    SELECT c.user_id, CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_s, c.event_id,
           c.value, v.view_value, CAST(floor(epoch(v.ts)) AS BIGINT) AS asof_ts_s
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def asof_join_clicks(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(clicks, views, on="user_id", ts="ts", right_cols=["view_value"])
    return joined.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
        "value",
        "view_value",
        F.unix_timestamp("asof_ts").alias("asof_ts_s"),
    )


# bounded-window range join: every (click, view) pair by the same user
# within 6 h, via bucket replication (operators/rangejoin.py) — the time
# bound rides in the equi-join key, so no range-explosion plan. Oracle is
# DuckDB's plain inequality join (fine at oracle scale; the point of the
# operator is the 100-TB plan shape).
@_q(
    "range_join_events",
    """
    WITH c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS c_ts,
                      event_id AS c_id
               FROM events WHERE event_type = 'click'),
    v AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS v_ts,
                 event_id AS v_id
          FROM events WHERE event_type = 'view')
    SELECT c.user_id, c.c_id, c.c_ts, v.v_id, v.v_ts
    FROM c JOIN v ON c.user_id = v.user_id AND abs(c.c_ts - v.v_ts) <= 21600
    """,
)
def range_join_events(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_timestamp("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_timestamp("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
    )
    return range_join(
        clicks, views, on="user_id", left_ts="c_ts", right_ts="v_ts", window_s=21600
    )


# deterministic stratified sampling: per-source keep-rates as a pure
# row-hash rule (analytics/sampling.py) — reproducible under any partition
# layout, no shuffle; the oracle re-derives the rule from the md5 spec.
@_q(
    "stratified_sample",
    """
    SELECT doc_id, source FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE source WHEN 'src0' THEN '1999' WHEN 'src1' THEN '4000'
                  WHEN 'src2' THEN '8000' ELSE 'c000' END
    """,
)
def stratified_sample_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d,
        key_col="doc_id",
        stratum_col="source",
        rates={"src0": 0.1, "src1": 0.25, "src2": 0.5},
        default_rate=0.75,
    )
    return out.select("doc_id", "source")


# per-language top-k tokens (vocabulary audit): explode -> hash agg -> one
# window with a literal rank bound (map-side partial WindowGroupLimit).
@_q(
    "top_tokens_lang",
    f"""
    WITH tok AS (SELECT lang, unnest({_SQL_WORDS}) AS token FROM documents),
    c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n
          FROM tok GROUP BY lang, token)
    SELECT lang, token, n, CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY n DESC, token) AS rk FROM c)
    WHERE rk <= 5
    """,
)
def top_tokens_lang(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sampling import top_tokens

    d = _t(spark, sf_dir, "documents")
    return top_tokens(d, k=5, group_col="lang", text_col="text")


# image near-dup via banded phash Hamming join (analytics/phash.py): the
# pigeonhole banding makes the equi-join EXACT for hamming <= n_bands-1, so
# the brute-force O(n^2) DuckDB self-join is a true oracle, not a recall
# floor. The phash here is synthesized deterministically (60-bit md5 hash of
# the normalized text standing in for the image's perceptual hash, one bit
# flipped per doc_id) so planted duplicate documents become near-dup pairs
# at hamming <= 2 — same derivation on both sides. (sf* documents carry no
# exact-dup texts, so the cluster base hashes a coarse (source, doc_id%50)
# key: ~2-3 docs per cluster land within Hamming 2, everything else is
# ~30 bits apart — a non-vacuous pair set at every sf.)
@_q(
    "phash_neardup",
    r"""
    WITH ph AS (
      SELECT doc_id,
             xor(CAST(('0x' || substr(md5(source || '|' || CAST(doc_id % 50 AS VARCHAR)), 1, 15)) AS BIGINT),
                 (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))) AS phash
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
)
def phash_neardup(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import _hash60
    from etherscan_contract_crawler_spark.analytics.phash import phash_neardup_pairs

    d = _t(spark, sf_dir, "documents")
    cluster_key = F.concat_ws("|", F.col("source"), (F.col("doc_id") % 50).cast("string"))
    ph = d.select(
        "doc_id",
        _hash60(cluster_key)
        .bitwiseXOR(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))"))
        .alias("phash"),
    )
    return phash_neardup_pairs(ph, phash_col="phash", key_col="doc_id", max_hamming=3)


# corpus distribution stats: per-language length quantiles (the numbers a
# curator sets retention thresholds from). Exact interpolated percentile =
# ONE hash aggregate; the approx_percentile sketch variant (same signature,
# analytics/stats.py) is the unbounded-cardinality path at 100 TB.
@_q(
    "corpus_length_quantiles",
    """
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           round(quantile_cont(n_chars, 0.99), 4) AS p99,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM documents GROUP BY lang
    """,
)
def corpus_length_quantiles(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.stats import grouped_quantiles

    d = _t(spark, sf_dir, "documents")
    return grouped_quantiles(d, value_col="n_chars", group_col="lang")


# canonical-doc selection: within each exact-duplicate group keep the BEST
# copy (longest, then lowest doc_id) — the retention rule real pipelines
# apply after dedup (keep the least-truncated mirror). One shuffle on the
# checksum; WindowGroupLimit bounds any pathological dup group map-side.
@_q(
    "dedup_canonical",
    """
    WITH u AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000000000, text, n_chars - 7 FROM documents
      WHERE doc_id % 50 = 0),
    d AS (
      SELECT doc_id, n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM u),
    r AS (
      SELECT fp, doc_id, n_chars,
             row_number() OVER (PARTITION BY fp
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY fp) AS n_members
      FROM d)
    SELECT fp, CAST(n_members AS BIGINT) AS n_members, doc_id AS keep_id,
           n_chars AS keep_chars
    FROM r WHERE rn = 1 AND n_members > 1
    """,
)
def dedup_canonical(spark, sf_dir):
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    # deterministic injected mirror copies (same text, shorter recorded
    # n_chars — a truncated-metadata mirror) so the keep-best rule has
    # signal at every SF; the oracle injects identically. The 1e12 offset
    # keeps mirror ids disjoint from real doc_ids at ANY scale factor
    # (r3 ADVICE: a 1e6 offset collides once the corpus passes 1M docs)
    dup = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        "text",
        (F.col("n_chars") - 7).alias("n_chars"),
    )
    d = docs.unionByName(dup).select(
        "doc_id",
        "n_chars",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("fp")))
        .filter((F.col("rn") == 1) & (F.col("n_members") > 1))
        .select(
            "fp",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_chars"),
        )
    )


# benchmark decontamination — exact 5-gram overlap of the training corpus
# against a tiny eval set (doc_id % 97 == 0 as the deterministic benchmark
# membership rule). The eval shingle set rides a BROADCAST; the corpus
# shingles never shuffle on shingle (analytics/decontam.py).
_SQL_SHINGLES5 = f"""
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(w) - 4, 0) + 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      || ' ' || w[i+3] || ' ' || w[i+4])) AS shingle
    FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents))
"""


@_q(
    "decontam_ngram_overlap",
    f"""
    WITH sh AS ({_SQL_SHINGLES5}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
    hit AS (SELECT tr.doc_id, count(*) AS n_shared
            FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
    SELECT t.doc_id, t.n_shingles,
           coalesce(h.n_shared, 0) AS n_shared,
           coalesce(h.n_shared, 0) >= 1 AS contaminated
    FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
    """,
)
def decontam_ngram_overlap(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.decontam import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(d, n=5, eval_mod=97, min_shared=1)


# per-label embedding centroids — the clustering/curriculum primitive
# (class prototypes, IVF coarse-quantizer seeding). Pure JVM: posexplode +
# one (label, pos) hash aggregate with map-side partials; flat (label, pos,
# c) rows, no array re-collection, so the compare is order-free.
@_q(
    "embedding_centroids",
    """
    SELECT label, CAST(pos AS INT) AS pos, round(avg(val), 4) AS c
    FROM (SELECT label,
                 unnest(generate_series(1, len(embedding))) AS pos,
                 unnest(CAST(embedding AS DOUBLE[])) AS val
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def embedding_centroids(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 4).alias("c"))
    )


# within-document n-gram repetition — the Gopher/FineWeb "repetitive text"
# quality signal. Pure projection (sequence/transform + array_distinct),
# no explode, no shuffle: runs at scan speed at any corpus size.
@_q(
    "doc_repetition",
    f"""
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           CASE WHEN len(g) > 0
                THEN round(1.0 - len(list_distinct(g)) / len(g), 6)
                ELSE 0.0 END AS rep_ratio
    FROM (
      SELECT doc_id, w,
             list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents))
    """,
)
def doc_repetition(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), n=3)


# SimHash near-dup pairs — completes the text-side near-dup family: simhash
# (above) computes the 32-bit sketch; this finds all pairs within Hamming 3
# via the SAME pigeonhole banding as the image path (analytics/phash.py is
# hash-agnostic: 4 bands x 8 bits, exact for max_hamming < n_bands, never
# all-pairs). Oracle: brute-force bit_count(xor) over the simhash oracle.
@_q(
    "simhash_neardup",
    f"""
    WITH s AS ({_simhash_sql()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardup(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.phash import phash_neardup_pairs

    sh = simhash(_t(spark, sf_dir, "documents"))
    return phash_neardup_pairs(
        sh, phash_col="simhash", key_col="doc_id",
        max_hamming=3, n_bands=4, band_bits=8,
    )


# per-doc top-k TF-IDF terms — the keyword/topic primitive of a curation
# pipeline (salient-term audit, topic balancing). Two hash aggregates
# (map-side combinable: (doc,token) then (token)), a broadcast single-row
# corpus count, and ONE window whose literal rk<=3 plants the map-side
# partial WindowGroupLimit below the exchange. Scores rounded BEFORE
# ranking (the cross-engine float convention used by ann_cosine_topk).
@_q(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_WORDS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token <> '' GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
              WHERE token <> '' GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (SELECT tf.doc_id, tf.token,
                 round(tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
          FROM tf JOIN dfreq USING (token), n)
    SELECT doc_id, token, tfidf, CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token ASC) AS rk
          FROM s)
    WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import normalized_words

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(normalized_words()).alias("token")).filter(
        F.col("token") != ""
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    s = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


# span-level (passage) dedup — the RefinedWeb-style boilerplate remover:
# drop every 10-word passage appearing verbatim in >=2 distinct docs and
# reassemble the survivors in document order. Corpus is augmented with the
# standard mirror rule so duplicated passages actually exist at test scale.
# Reassembly (string ordered by passage index) is the part the per-passage
# oracles can't see — it pins the collect/array_sort/concat_ws chain.
@_q(
    "passage_dedup",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 = 0),
    w AS (SELECT doc_id, {_SQL_WORDS} AS w FROM corpus),
    iw AS (SELECT doc_id, w,
                  unnest(range(1, CAST(ceil(len(w) / 10.0) AS BIGINT) + 1)) AS i
           FROM w WHERE len(w) > 0),
    ch AS (SELECT doc_id, CAST(i - 1 AS INT) AS idx,
                  array_to_string(list_slice(w, (i - 1) * 10 + 1, i * 10), ' ') AS chunk
           FROM iw),
    dup AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN d.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           coalesce(string_agg(CASE WHEN d.chunk IS NULL THEN c.chunk END,
                               ' ' ORDER BY c.idx), '') AS kept_text
    FROM ch c LEFT JOIN dup d ON c.chunk = d.chunk
    GROUP BY c.doc_id
    """,
)
def passage_dedup_docs(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import passage_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"), "text"
    )
    return passage_dedup(d.unionByName(mirror), chunk_words=10, max_docs=2)


# incremental corpus dedup — the crawl-time shape of near-dedup: a new batch
# (exact mirrors of every 5th doc, which must be rejected, plus word-reversed
# variants, whose shingle sets are disjoint and must be admitted) is screened
# against the existing corpus by MinHash-LSH band buckets; only non-colliding
# docs survive. Negative ids keep the injected namespace disjoint from real
# doc_ids (r3 ADVICE #4).
@_q(
    "dedup_incremental",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
    newb AS (
      SELECT -doc_id - 1 AS doc_id, text FROM documents
      WHERE doc_id < 150 AND doc_id % 5 = 0
      UNION ALL
      SELECT -doc_id - 100000 AS doc_id,
             array_to_string(list_reverse({_SQL_WORDS}), ' ') AS text
      FROM documents WHERE doc_id < 150 AND doc_id % 5 = 1),
    shc AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM corpus))),
    shn AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM newb))),
    mhc AS (SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS mh
            FROM shc, range(0, 12) t(j) GROUP BY doc_id, j),
    mhn AS (SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS mh
            FROM shn, range(0, 12) t(j) GROUP BY doc_id, j),
    bc AS (SELECT doc_id, j // 3 AS band,
                  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS bh
           FROM mhc GROUP BY doc_id, j // 3),
    bn AS (SELECT doc_id, j // 3 AS band,
                  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS bh
           FROM mhn GROUP BY doc_id, j // 3),
    hits AS (SELECT DISTINCT bn.doc_id
             FROM bn JOIN (SELECT DISTINCT band, bh FROM bc) b USING (band, bh))
    SELECT n.doc_id, md5(n.text) AS checksum FROM newb n
    WHERE n.doc_id NOT IN (SELECT doc_id FROM hits)
    """,
)
def dedup_incremental(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        incremental_lsh_dedup,
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    mirrors = d.filter(F.col("doc_id") % 5 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"), "text"
    )
    fresh = d.filter(F.col("doc_id") % 5 == 1).select(
        (-F.col("doc_id") - 100_000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(normalized_words())).alias("text"),
    )
    admitted = incremental_lsh_dedup(
        mirrors.unionByName(fresh), d, n_hashes=12, bands=4
    )
    return admitted.select("doc_id", F.md5("text").alias("checksum"))


# per-source (domain) curation rollup — the domain-level filtering stage of
# a training pipeline: document count, mean quality, exact-dup count, and
# token volume per source, over the mirror-augmented corpus. One fingerprint
# hash agg (map-side partial), a frequency join whose build side is unique
# per checksum, and one tiny exchange on source. avg is rounded to 4 (the
# cross-engine float convention) because summation order differs per engine.
def _rollup_sql() -> str:
    en = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    return f"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id, text, source FROM documents
      WHERE doc_id % 3 = 0),
    q AS (SELECT doc_id, source, md5(text) AS ck,
                 len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
                 round(0.4 * least(length(text) / 500.0, 1.0)
                       + 0.3 * least(len(list_intersect({_SQL_WORDS}, [{en}])) / 5.0, 1.0)
                       + 0.3 * (1.0 - CASE WHEN length(text) > 0
                                           THEN len(regexp_extract_all(text, '[.,!?;:]'))
                                                / CAST(length(text) AS DOUBLE)
                                           ELSE 0.0 END), 6) AS quality
          FROM corpus),
    f AS (SELECT ck, count(*) AS n FROM q GROUP BY ck)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(quality), 4) AS avg_quality,
           CAST(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
    FROM q JOIN f USING (ck)
    GROUP BY source
    """


@_q("source_quality_rollup", _rollup_sql())
def source_quality_rollup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirror = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"), "text", "source"
    )
    c = d.unionByName(mirror)
    q = quality_score(c)
    meta = c.select("doc_id", "source", F.md5("text").alias("ck"))
    freq = meta.groupBy("ck").agg(F.count("*").alias("n"))
    return (
        meta.join(freq, "ck")
        .join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.sum((F.col("n") > 1).cast("int")).cast("long").alias("n_dup_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


# ANN quality gates (r3 VERDICT #4): the approximate top-k operators are
# rows-only by design (their buckets come from Spark's xxhash64, which no
# SQL engine reproduces), so these companion queries make their QUALITY
# driver-visible instead of pytest-only: recall@k vs the exact brute-force
# result is computed INSIDE Spark (inner join of the two neighbor sets),
# and the emitted row carries only oracle-derivable columns (query count,
# k, the floor) plus the gate boolean — if recall ever drops below the
# pinned floor, the boolean flips and the driver's value-hash FAILS.
# Floors match tests/test_analytics_extra.py (LSH 6x16 ≥ 0.5, IVF 16/8 ≥
# 0.7); measured on the sf0.01 driver fixture: LSH 0.58, IVF 0.74 — both
# deterministic (hash-derived planes/centroids, no RNG), so the margin is
# stable and a dip below floor means the operator itself changed.
def _recall_gate(approx: DataFrame, exact: DataFrame, queries_df: DataFrame,
                 k: int, floor: float) -> DataFrame:
    inter = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    hits = inter.groupBy("query_id").agg(F.count("*").alias("hits"))
    per_q = (
        queries_df.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(F.coalesce(F.col("hits"), F.lit(0)).alias("hits"))
    )
    agg = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.avg(F.col("hits") / float(k)).alias("_mean_recall"),
    )
    return agg.select(
        "n_queries",
        F.lit(k).alias("k"),
        F.lit(floor).alias("floor"),
        (F.col("_mean_recall") >= floor).alias("recall_ge_floor"),
    )


_SQL_RECALL_GATE = """
    SELECT CAST(count(*) AS BIGINT) AS n_queries, 5 AS k,
           {floor} AS floor, true AS recall_ge_floor
    FROM embeddings WHERE vec_id % 50 = 0
"""


@_q("ann_lsh_recall", _SQL_RECALL_GATE.format(floor=0.5))
def ann_lsh_recall(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return _recall_gate(
        lsh_bucket_topk(e, q, k=5, n_planes=6), cosine_topk(e, q, k=5), q,
        k=5, floor=0.5,
    )


@_q("ann_ivf_recall", _SQL_RECALL_GATE.format(floor=0.7))
def ann_ivf_recall(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return _recall_gate(
        ivf_topk(e, q, k=5, n_centroids=16, n_probe=8), cosine_topk(e, q, k=5), q,
        k=5, floor=0.7,
    )


# ---------------------------------------------------- flagship curation
def _curation_sql() -> str:
    """The END-TO-END curation chain as one chained-CTE statement — the
    integration oracle the per-operator checks can't provide (key/alias
    drift BETWEEN stages is invisible to them, r3 VERDICT #5). Reuses the
    exact SQL fragments of the individual oracles so a drift in any stage
    breaks both its unit oracle and this composition."""
    return f"""
    WITH RECURSIVE
    fp AS (SELECT doc_id, n_chars, source,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
           FROM documents),
    r AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY fp
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM fp),
    canon AS (SELECT doc_id FROM r WHERE rn = 1),
    sh3 AS (SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents
              WHERE doc_id IN (SELECT doc_id FROM canon)))),
    mh AS (SELECT doc_id, j,
                  min(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS mh
           FROM sh3, range(0, 12) t(j) GROUP BY doc_id, j),
    bands AS (SELECT doc_id, j // 3 AS band,
                     md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS bh
              FROM mh GROUP BY doc_id, j // 3),
    edges AS (SELECT a.doc_id AS ea, b.doc_id AS eb
              FROM bands a JOIN bands b USING (band, bh)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    sym AS (SELECT ea AS a, eb AS b FROM edges UNION SELECT eb, ea FROM edges),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r2.a, s.b FROM reach r2 JOIN sym s ON r2.b = s.a WHERE s.b <> r2.a),
    mincomp AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a),
    sh5 AS ({_SQL_SHINGLES5}),
    ev AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM sh5 WHERE doc_id % 97 <> 0),
    hit AS (SELECT tr.doc_id, count(*) AS n_shared
            FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id),
    lang AS ({_langid_sql()}),
    q AS ({_quality_sql()}),
    t AS (SELECT doc_id,
                 len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
          FROM documents),
    flags AS (
      SELECT d.doc_id,
             (r.rn = 1) AS is_canonical,
             (r.rn = 1 AND coalesce(mc.mn >= d.doc_id, TRUE)) AS is_neardup_rep,
             (d.doc_id % 97 = 0) AS is_eval,
             coalesce(h.n_shared >= 1, FALSE) AS contaminated,
             (l.lang_guess <> 'unknown' AND q.quality >= 0.5
              AND t.n_tokens BETWEEN 10 AND 100000) AS retained,
             (substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) <
              CASE d.source WHEN 'src0' THEN '1999' WHEN 'src1' THEN '4000'
                            WHEN 'src2' THEN '8000' ELSE 'c000' END) AS sampled
      FROM documents d
      JOIN r ON r.doc_id = d.doc_id
      LEFT JOIN mincomp mc ON mc.doc_id = d.doc_id
      LEFT JOIN hit h ON h.doc_id = d.doc_id
      JOIN lang l ON l.doc_id = d.doc_id
      JOIN q ON q.doc_id = d.doc_id
      JOIN t ON t.doc_id = d.doc_id)
    SELECT doc_id, is_canonical, is_neardup_rep, is_eval, contaminated,
           retained, sampled,
           (is_canonical AND is_neardup_rep AND NOT is_eval AND NOT contaminated
            AND retained AND sampled) AS keep
    FROM flags
    """


@_q("corpus_curation", _curation_sql())
def corpus_curation(spark, sf_dir):
    """Flagship end-to-end curation: exact dedup (keep-best canonical) →
    banded MinHash-LSH near-dup edges over canonicals → connected components
    (keep representatives) → benchmark decontamination → language/quality/
    token retention → deterministic stratified sampling, composed the way a
    training-data pipeline runs them. Emits one row per input doc with every
    stage's flag plus the final keep decision, so the oracle checks each
    stage at each doc, not just the surviving set. Every stage is the SAME
    operator its unit query uses — this pins their composition.

    Scale shape: the language/quality/token signals and the fingerprint
    are ALL projections of the same documents scan, so they are computed
    in ONE fused pass (keep_cols passthrough) — the doc-keyed joins that
    remain are only the ones that genuinely carry aggregated state back
    (near-dup reps, decontamination); plus the fingerprint window + the
    banded LSH bucket join (never all-pairs) + component rounds on the
    (tiny) edge set."""
    from etherscan_contract_crawler_spark.analytics.decontam import decontaminate
    from etherscan_contract_crawler_spark.analytics.dedup import neardup_components
    from etherscan_contract_crawler_spark.analytics.sampling import rate_threshold_hex

    docs = _t(spark, sf_dir, "documents")
    # stages 1+4 fused — one projection computes fingerprint, language,
    # quality, and token count off a single scan; the window then ranks
    # exact-dup groups (keep-best: longest, then lowest id)
    sig = lang_id(
        quality_score(docs, keep_cols=("source", "text")),
        keep_cols=("source", "text", "quality", "n_tokens", "n_chars"),
    )
    flagged = fingerprint(
        sig,
        keep_cols=("source", "text", "quality", "n_tokens",
                   "n_chars", "lang_guess"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("fingerprint").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    ).withColumn("is_canonical", F.col("rn") == 1)
    canon_docs = flagged.filter("is_canonical").select("doc_id", "text")
    # stage 2 — near-dup edges (banded MinHash LSH) → components → keep reps
    edges = minhash_lsh_pairs(canon_docs, n_hashes=12, bands=4).select("doc_a", "doc_b")
    rep = neardup_components(canon_docs.select("doc_id"), edges).select(
        "doc_id", (F.col("component") == F.col("doc_id")).alias("_rep")
    )
    # stage 3 — benchmark decontamination (5-gram overlap, eval = id%97==0)
    cont = decontaminate(docs, n=5, eval_mod=97, min_shared=1).select(
        "doc_id", "contaminated"
    )
    # stage 4 — retention signals; stage 5 — deterministic sampling flag
    sel = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = (
        F.when(F.col("source") == "src0", F.lit(rate_threshold_hex(0.1)))
        .when(F.col("source") == "src1", F.lit(rate_threshold_hex(0.25)))
        .when(F.col("source") == "src2", F.lit(rate_threshold_hex(0.5)))
        .otherwise(F.lit(rate_threshold_hex(0.75)))
    )
    out = (
        flagged.select("doc_id", "source", "is_canonical", "lang_guess",
                       "quality", "n_tokens")
        .join(rep, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .withColumn("is_neardup_rep", F.coalesce(F.col("_rep"), F.lit(False)))
        .withColumn("is_eval", F.col("doc_id") % 97 == 0)
        .withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))
        .withColumn(
            "retained",
            (F.col("lang_guess") != "unknown")
            & (F.col("quality") >= 0.5)
            & F.col("n_tokens").between(10, 100000),
        )
        .withColumn("sampled", sel < thr)
    )
    return out.select(
        "doc_id", "is_canonical", "is_neardup_rep", "is_eval", "contaminated",
        "retained", "sampled",
        (
            F.col("is_canonical") & F.col("is_neardup_rep") & ~F.col("is_eval")
            & ~F.col("contaminated") & F.col("retained") & F.col("sampled")
        ).alias("keep"),
    )


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one politeness-scheduled crawl epoch over a synthetic
    frontier derived from sf0.001 (W1+W2 composed — the engine's core)."""
    return crawl_schedule_epoch(spark, "/root/testdata/sf0.001")


# HITS hubs & authorities over the same deterministic link graph as
# pagerank_priority (analytics/graph.py:hits). 2 fixed L1-normalized
# iterations; the oracle chains the identical steps as CTEs — an
# independent closed-form re-derivation. Rounded to 6 on both sides (the
# normalizing division makes sum-order drift possible at ~1e-12).
_HITS_STEP_SQL = """
    a{k}r AS (SELECT e.dst AS id, SUM(h{j}.h) AS a
              FROM edges e JOIN h{j} ON e.src = h{j}.id GROUP BY e.dst),
    a{k} AS (SELECT nodes.id, COALESCE(r.a, 0) / (SELECT SUM(a) FROM a{k}r) AS a
             FROM nodes LEFT JOIN a{k}r r ON nodes.id = r.id),
    h{k}r AS (SELECT e.src AS id, SUM(a{k}.a) AS h
              FROM edges e JOIN a{k} ON e.dst = a{k}.id GROUP BY e.src),
    h{k} AS (SELECT nodes.id, COALESCE(r.h, 0) / (SELECT SUM(h) FROM h{k}r) AS h
             FROM nodes LEFT JOIN h{k}r r ON nodes.id = r.id)"""


@_q(
    "hits_scores",
    f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
    h0 AS (SELECT id, 1.0 AS h FROM nodes),
    {_HITS_STEP_SQL.format(k=1, j=0)},
    {_HITS_STEP_SQL.format(k=2, j=1)}
    SELECT h2.id, round(h2.h, 6) AS hub, round(a2.a, 6) AS authority
    FROM h2 JOIN a2 ON h2.id = a2.id
    """,
)
def hits_scores(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % 3000).cast("long").alias("src"),
            (F.col("l_partkey") % 3000).cast("long").alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    s = hits(edges, iters=2)
    return s.select(
        "id", F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


# crawl-trap detection (functions/urls.py:trap_signals): depth / query-param
# / repeated-segment signals as pure Column exprs over parse_url. URLs are
# synthesized deterministically from part (path = p_name's words repeated
# 1+p_size%3 times, p_partkey%6 query params) so traps actually exist at
# test scale; the oracle re-PARSES the same URL string with RE2 regexes and
# list ops — set-based repeat detection on both sides, no backreferences.
@_q(
    "crawl_trap_filter",
    """
    WITH u AS (
      SELECT p_partkey,
             'https://d' || CAST(p_partkey % 50 AS VARCHAR) || '.example.com/'
             || array_to_string(flatten(list_transform(
                  range(1, p_size % 5 + 2), x -> string_split(p_name, ' '))), '/')
             || CASE WHEN p_partkey % 6 > 0
                     THEN '?' || array_to_string(list_transform(
                            range(1, p_partkey % 6 + 1),
                            i -> 'p' || CAST(i AS VARCHAR) || '=' || CAST(i AS VARCHAR)), '&')
                     ELSE '' END AS url
      FROM part),
    p AS (
      SELECT p_partkey, url,
             list_filter(string_split(regexp_extract(url, 'https://[^/]+(/[^?#]*)', 1), '/'),
                         s -> s <> '') AS segs,
             regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM u)
    SELECT p_partkey,
           CAST(len(segs) AS INT) AS depth,
           CAST(CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END AS INT)
             AS n_params,
           CAST(len(segs) - len(list_distinct(segs)) AS INT) AS n_repeated,
           (len(segs) >= 10
            OR (CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END) >= 4
            OR (len(segs) >= 6
                AND 2 * (len(segs) - len(list_distinct(segs))) >= len(segs)))
             AS is_trap
    FROM p
    """,
)
def crawl_trap_filter(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.urls import trap_signals

    p = _t(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    segs = F.flatten(F.array_repeat(words, (F.col("p_size") % 5 + 1).cast("int")))
    m = (F.col("p_partkey") % 6).cast("int")
    params = F.concat_ws(
        "&",
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.concat(
                F.lit("p"), i.cast("string"), F.lit("="), i.cast("string")
            ),
        ),
    )
    url = F.concat(
        F.lit("https://d"),
        (F.col("p_partkey") % 50).cast("string"),
        F.lit(".example.com/"),
        F.concat_ws("/", segs),
        F.when(m > 0, F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )
    sig = trap_signals(url)
    return p.select("p_partkey", sig.alias("s")).select(
        "p_partkey", "s.depth", "s.n_params", "s.n_repeated", "s.is_trap"
    )


# freshness-driven re-crawl lanes (operators/recrawl.py): change-rate from
# the fetch-history LAG, integer-safe lane thresholds, ONE window shuffle.
# History is derived from events (url = user_id%500, fingerprint = a value
# bucket whose width grows with url_id, so hot/medium/static URLs all exist
# and every lane branch is exercised at sf0.01).
@_q(
    "recrawl_lanes",
    """
    WITH h AS (
      SELECT user_id % 500 AS url_id, ts, event_id AS obs_id,
             CAST(floor(value / (50 * (1 + (user_id % 500) % 8))) AS VARCHAR) AS fp
      FROM events),
    l AS (
      SELECT url_id,
             CASE WHEN lag(fp) OVER w IS NOT NULL AND fp <> lag(fp) OVER w
                  THEN 1 ELSE 0 END AS changed
      FROM h WINDOW w AS (PARTITION BY url_id ORDER BY ts, obs_id)),
    p AS (
      SELECT url_id, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(changed) AS BIGINT) AS n_changes
      FROM l GROUP BY url_id)
    SELECT url_id, n_obs, n_changes,
           CASE WHEN n_obs - 1 <= 0 THEN 'daily'
                WHEN n_changes * 2 >= n_obs - 1 THEN 'hourly'
                WHEN n_changes * 10 >= n_obs - 1 THEN 'daily'
                ELSE 'weekly' END AS lane
    FROM p
    """,
)
def recrawl_lanes_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.recrawl import recrawl_lanes

    e = _t(spark, sf_dir, "events")
    hist = e.select(
        (F.col("user_id") % 500).alias("url_id"),
        "ts",
        F.col("event_id").alias("obs_id"),
        F.floor(
            F.col("value") / (50 * (1 + F.col("user_id") % 500 % 8))
        ).cast("string").alias("fingerprint"),
    )
    return recrawl_lanes(hist)


# caption-image alignment (the input_hint's image+caption pair table, axes
# B): cosine between each pair's image embedding and caption embedding —
# the CLIP-score-shaped filter a multimodal curation pipeline gates pairs
# on before training. Pairs are derived from embeddings (even vec_id =
# image side, odd = caption side of pair vec_id//2): ONE equi-join on
# pair_id, JVM-side zip_with/aggregate dot products (similarity.py:_dot
# casts to double before multiply — the oracle mirrors that exactly), no
# UDF. At 100 TB both sides bucket by pair_id and the join co-locates.
@_q(
    "caption_alignment",
    """
    WITH img AS (
      SELECT vec_id // 2 AS pair_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 0),
    cap AS (
      SELECT (vec_id - 1) // 2 AS pair_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 1),
    s AS (
      SELECT i.pair_id,
             list_sum(list_transform(range(1, len(i.v) + 1),
                                     k -> i.v[k] * c.v[k])) AS dot,
             sqrt(list_sum(list_transform(i.v, x -> x * x))) AS ni,
             sqrt(list_sum(list_transform(c.v, x -> x * x))) AS nc
      FROM img i JOIN cap c USING (pair_id))
    SELECT pair_id, round(dot / (ni * nc), 4) AS alignment,
           dot / (ni * nc) >= 0.1 AS aligned
    FROM s
    """,
)
def caption_alignment(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import _dot, _norm

    e = _t(spark, sf_dir, "embeddings")
    img = e.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("iv"),
    )
    cap = e.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("embedding").alias("cv"),
    )
    cos = _dot(F.col("iv"), F.col("cv")) / (
        _norm(F.col("iv")) * _norm(F.col("cv"))
    )
    return img.join(cap, "pair_id").select(
        "pair_id",
        F.round(cos, 4).alias("alignment"),
        (cos >= 0.1).alias("aligned"),
    )


# proportional-fair per-domain fetch-budget allocation: split a global
# epoch budget of 10k fetch slots across domains by priority mass, capped
# per domain (the politeness ceiling). Exact integer arithmetic end to end
# — mass is snapped to cents BEFORE the ratio, so the allocation is
# reproducible across engines and partitionings (no float-boundary floor
# flips). One hash agg + a broadcast 1-row total: at 10^10 URLs the only
# exchange is domain-sized.
@_q(
    "domain_budget",
    """
    WITH m AS (
      SELECT o_custkey % 20 AS domain,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS mass_cents
      FROM orders GROUP BY o_custkey % 20),
    t AS (SELECT sum(mass_cents) AS total_cents FROM m)
    SELECT m.domain, m.mass_cents,
           CAST(least((10000 * m.mass_cents) // t.total_cents, 500) AS INT)
             AS budget
    FROM m CROSS JOIN t
    """,
)
def domain_budget(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    m = (
        o.groupBy((F.col("o_custkey") % 20).alias("domain"))
        .agg(
            F.round(F.sum("o_totalprice") * 100)
            .cast("long")
            .alias("mass_cents")
        )
    )
    t = m.agg(F.sum("mass_cents").alias("total_cents"))
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "domain",
            "mass_cents",
            F.least(
                F.expr("(10000 * mass_cents) DIV total_cents"), F.lit(500)
            ).cast("int").alias("budget"),
        )
    )


# inverted-index build (term -> sorted posting list): the classic
# web-scale index pass. ONE exchange: explode words, group by term with
# collect_set (in-agg dedup), array_sort for the deterministic posting
# order. Full document frequency rides alongside a CAPPED posting head
# (first 24 doc_ids) so no term — however ubiquitous — produces an
# unbounded row: the stop-postings guard expressed as truncation instead
# of omission. At 10^10 docs posting lists shard by term and the agg's
# partials combine map-side.
@_q(
    "inverted_index",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_SQL_WORDS}) AS term FROM documents),
    g AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
             array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 24),
                             ',') AS postings_head
      FROM tok GROUP BY term)
    SELECT term, n_docs, postings_head FROM g
    """,
)
def inverted_index(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(normalized_words("text")).alias("term")
    )
    g = tok.groupBy("term").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    return g.select(
        "term",
        F.size("ids").cast("long").alias("n_docs"),
        F.concat_ws(
            ",",
            F.transform(F.slice("ids", 1, 24), lambda x: x.cast("string")),
        ).alias("postings_head"),
    )


# URL template mining: collapse numeric path segments to '*' and count
# URLs per template — the structure-discovery pass a crawler runs to find
# page-type families (and prioritize/deprioritize whole templates rather
# than individual URLs). Set-based segment masking on both sides (list
# transform + ^[0-9]+$ match — RE2-safe, no lookaround); then ONE hash
# aggregate. At 10^10 URLs: pure projection + map-side-combinable count,
# template cardinality ~ site structure, not corpus size.
@_q(
    "url_template_mine",
    """
    WITH u AS (
      SELECT 'd' || CAST(p_partkey % 50 AS VARCHAR) || '.example.com' AS domain,
             '/cat/' || CAST(p_partkey % 7 AS VARCHAR) || '/item/'
             || CAST(p_partkey AS VARCHAR)
             || CASE WHEN p_partkey % 4 = 0
                     THEN '/p/' || CAST(p_partkey % 9 AS VARCHAR) ELSE '' END
               AS path
      FROM part),
    m AS (
      SELECT domain || '/' || array_to_string(list_transform(
               list_filter(string_split(path, '/'), s -> s <> ''),
               s -> CASE WHEN regexp_matches(s, '^[0-9]+$') THEN '*' ELSE s END),
               '/') AS template
      FROM u)
    SELECT template, CAST(count(*) AS BIGINT) AS n_urls
    FROM m GROUP BY template
    """,
)
def url_template_mine(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    domain = F.concat(
        F.lit("d"), (pk % 50).cast("string"), F.lit(".example.com")
    )
    path = F.concat(
        F.lit("/cat/"), (pk % 7).cast("string"),
        F.lit("/item/"), pk.cast("string"),
        F.when(
            pk % 4 == 0, F.concat(F.lit("/p/"), (pk % 9).cast("string"))
        ).otherwise(F.lit("")),
    )
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    masked = F.transform(
        segs,
        lambda s: F.when(s.rlike("^[0-9]+$"), F.lit("*")).otherwise(s),
    )
    template = F.concat(domain, F.lit("/"), F.concat_ws("/", masked))
    return (
        p.select(template.alias("template"))
        .groupBy("template")
        .agg(F.count("*").alias("n_urls"))
    )


# sequence packing (analytics/packing.py): the concat-and-chunk window
# placement every pretraining pipeline computes — per-bucket prefix-sum
# window, no global ordering, buckets = independent shards. Token count
# proxied as n_chars DIV 4 + 1 (identical on both sides).
@_q(
    "sequence_pack",
    """
    WITH d AS (
      SELECT doc_id, n_chars // 4 + 1 AS n_tokens,
             CAST(doc_id % 16 AS INT) AS bucket
      FROM documents),
    c AS (
      SELECT doc_id, bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY bucket
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM d)
    SELECT doc_id, bucket, n_tokens,
           cum_before // 2048 AS seq_idx,
           cum_before % 2048 AS "offset"
    FROM c
    """,
)
def sequence_pack_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.packing import sequence_pack

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", (F.expr("n_chars DIV 4") + 1).alias("n_tokens")
    )
    return sequence_pack(
        docs, seq_len=2048, n_buckets=16, tokens_col="n_tokens"
    )


# temperature-weighted source mixing (the data-mix sampler a training
# pipeline runs last): per-source quotas proportional to sqrt(n_docs)
# (alpha=0.5 temperature — upweights small sources like multilingual
# sampling schemes in the public data-mix literature), capped at the
# source size, selection by deterministic md5 hash-rank (partition- and
# engine-invariant). Weights snap to integer milli-units BEFORE the ratio
# so quota arithmetic is integer-exact across engines; sqrt/round are
# IEEE-identical in JVM and DuckDB.
@_q(
    "source_mix_sample",
    """
    WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    w AS (SELECT source, n_docs,
                 CAST(round(sqrt(n_docs) * 1000) AS BIGINT) AS w_milli
          FROM n),
    t AS (SELECT sum(w_milli) AS tw FROM w),
    q AS (SELECT w.source, least(w.n_docs, (150 * w.w_milli) // t.tw) AS quota
          FROM w CROSS JOIN t),
    r AS (SELECT d.doc_id, d.source,
                 row_number() OVER (PARTITION BY d.source
                                    ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                             d.doc_id) AS rn
          FROM documents d)
    SELECT r.doc_id, r.source, CAST(q.quota AS BIGINT) AS quota
    FROM r JOIN q ON r.source = q.source
    WHERE r.rn <= q.quota
    """,
)
def source_mix_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = n.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs")) * 1000).cast("long").alias("w_milli"),
    )
    t = w.agg(F.sum("w_milli").alias("tw"))
    q = (
        w.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.least(
                F.col("n_docs"), F.expr("(150 * w_milli) DIV tw")
            ).alias("quota"),
        )
    )
    win = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = d.select("doc_id", "source", F.row_number().over(win).alias("rn"))
    return (
        r.join(F.broadcast(q), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source", F.col("quota").cast("long").alias("quota"))
    )


# incremental image screen (analytics/phash.py phash_screen): flag which
# images of a NEW crawl batch are near-dups of the existing corpus (same
# pigeonhole-exact banding as phash_neardup; the corpus band index is
# built once and bucket-joined per batch at scale). Batch/corpus split by
# doc_id%5 over the same deterministic phash derivation as phash_neardup,
# so real cross-set hits exist at sf0.01. Oracle: brute-force correlated
# EXISTS over all (batch, corpus) popcounts.
@_q(
    "phash_incremental",
    """
    WITH ph AS (
      SELECT doc_id,
             xor(CAST(('0x' || substr(md5(source || '|' || CAST(doc_id % 50 AS VARCHAR)), 1, 15)) AS BIGINT),
                 (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))) AS phash
      FROM documents),
    batch AS (SELECT doc_id AS image_id, phash FROM ph WHERE doc_id % 5 = 0),
    corpus AS (SELECT doc_id AS image_id, phash FROM ph WHERE doc_id % 5 <> 0)
    SELECT b.image_id,
           NOT EXISTS (SELECT 1 FROM corpus c
                       WHERE bit_count(xor(b.phash, c.phash)) <= 3) AS is_new
    FROM batch b
    """,
)
def phash_incremental(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import _hash60
    from etherscan_contract_crawler_spark.analytics.phash import phash_screen

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ph = d.select(
        "doc_id",
        _hash60(F.concat_ws("|", F.col("source"), (did % 50).cast("string")))
        .bitwiseXOR(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))")
        )
        .alias("phash"),
    )
    batch = ph.filter(did % 5 == 0).select(did.alias("image_id"), "phash")
    corpus = ph.filter(did % 5 != 0).select(did.alias("image_id"), "phash")
    return phash_screen(batch, corpus, max_hamming=3)


# redirect-chain resolution (operators/redirects.py): canonicalize the
# frontier onto terminal URLs by pointer-DOUBLING over the functional
# redirect map — 16-hop budget in 4 co-partitioned self-joins. Edge rule
# (p = src%100): p=0 terminal, p=98/99 a 2-cycle, else src -> src-1, so
# short chains (resolved, exact hop counts), over-budget chains and
# cycles (resolved=false) all exist at sf0.01. Oracle walks the same map
# with a depth-bounded recursive CTE — an independent formulation.
@_q(
    "redirect_resolution",
    """
    WITH RECURSIVE s AS (SELECT DISTINCT o_orderkey % 4000 AS src FROM orders),
    edges AS (
      SELECT src, CASE WHEN src % 100 = 98 THEN src + 1 ELSE src - 1 END AS dst
      FROM s WHERE src % 100 <> 0),
    walk(src, cur, hops) AS (
      SELECT src, dst, 1 FROM edges
      UNION ALL
      SELECT w.src, e.dst, w.hops + 1 FROM walk w JOIN edges e ON w.cur = e.src
      WHERE w.hops < 16),
    term AS (
      SELECT w.src, w.cur AS terminal_id, w.hops AS nh
      FROM walk w LEFT JOIN edges e ON w.cur = e.src
      WHERE e.src IS NULL)
    SELECT ed.src, t.terminal_id, CAST(t.nh AS INT) AS n_hops,
           t.src IS NOT NULL AS resolved
    FROM edges ed LEFT JOIN term t ON ed.src = t.src
    """,
)
def redirect_resolution(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.redirects import (
        resolve_redirects,
    )

    o = _t(spark, sf_dir, "orders")
    s = o.select((F.col("o_orderkey") % 4000).alias("src")).distinct()
    edges = s.filter(F.col("src") % 100 != 0).select(
        "src",
        F.when(F.col("src") % 100 == 98, F.col("src") + 1)
        .otherwise(F.col("src") - 1)
        .alias("dst"),
    )
    return resolve_redirects(edges, max_hops=16)


# image-axis flagship: phash near-dup pairs -> connected components ->
# keep the best copy per cluster (max resolution, then lowest id) — the
# end-to-end image dedup a multimodal curation pipeline runs between crawl
# and training. Composes phash.phash_neardup_pairs (pigeonhole-exact
# banding) + dedup.neardup_components (pointer-jumping label propagation)
# + ONE WindowGroupLimit-bounded window; the oracle re-derives it with a
# brute-force O(n^2) hamming join + recursive-CTE closure — a fully
# independent formulation. Integration check: key/alias drift between the
# three stages is invisible to the per-operator oracles.
@_q(
    "image_dedup_keep",
    """
    WITH RECURSIVE ph AS (
      SELECT doc_id AS image_id,
             xor(CAST(('0x' || substr(md5(source || '|' || CAST(doc_id % 50 AS VARCHAR)), 1, 15)) AS BIGINT),
                 (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))) AS phash,
             CAST(16 + (doc_id * 37) % 2048 AS INT) AS w,
             CAST(16 + (doc_id * 61) % 2048 AS INT) AS h
      FROM documents),
    pairs AS (
      SELECT a.image_id AS a, b.image_id AS b
      FROM ph a JOIN ph b ON a.image_id < b.image_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3),
    sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
    m AS (SELECT a, min(b) AS mn FROM reach GROUP BY a),
    comp AS (
      SELECT ph.image_id, ph.w, ph.h,
             CAST(least(ph.image_id, coalesce(m.mn, ph.image_id)) AS BIGINT)
               AS component
      FROM ph LEFT JOIN m ON m.a = ph.image_id),
    r AS (
      SELECT image_id, component, w, h,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS n_members,
             row_number() OVER (PARTITION BY component
                                ORDER BY w * h DESC, image_id ASC) AS rn
      FROM comp)
    SELECT image_id, component, n_members, rn = 1 AS is_canonical FROM r
    """,
)
def image_dedup_keep(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        _hash60,
        neardup_components,
    )
    from etherscan_contract_crawler_spark.analytics.phash import (
        phash_neardup_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ph = d.select(
        did.alias("image_id"),
        _hash60(
            F.concat_ws("|", F.col("source"), (did % 50).cast("string"))
        )
        .bitwiseXOR(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))")
        )
        .alias("phash"),
        (16 + (did * 37) % 2048).cast("int").alias("w"),
        (16 + (did * 61) % 2048).cast("int").alias("h"),
    )
    pairs = phash_neardup_pairs(
        ph, phash_col="phash", key_col="image_id", max_hamming=3
    )
    edges = pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    comp = neardup_components(
        ph.select(F.col("image_id").alias("doc_id")), edges
    ).select(F.col("doc_id").alias("image_id"), "component")
    scored = ph.select("image_id", "w", "h").join(comp, "image_id")
    win = Window.partitionBy("component")
    ordered = Window.partitionBy("component").orderBy(
        (F.col("w") * F.col("h")).desc(), F.col("image_id").asc()
    )
    return scored.select(
        "image_id",
        "component",
        F.count("*").over(win).alias("n_members"),
        (F.row_number().over(ordered) == 1).alias("is_canonical"),
    )


# image+caption pair curation gates (analytics/multimodal.py): the
# LAION-style keep/reject pass over the input_hint landing shape. Pairs
# are synthesized from part so every gate branch (too_small, bad_aspect,
# bad_fmt, short/long caption, keep) exists at sf0.01; the oracle builds
# the identical pairs and re-derives the CASE in the same order.
@_q(
    "multimodal_gate",
    """
    WITH pr AS (
      SELECT p_partkey AS image_id,
             CAST(16 + (p_partkey * 37) % 2048 AS INT) AS w,
             CAST(16 + (p_partkey * 61) % 2048 AS INT) AS h,
             list_extract(['jpeg','png','webp','gif','bmp'],
                          CAST(p_partkey % 5 AS INT) + 1) AS fmt,
             CASE WHEN p_partkey % 11 = 0 THEN string_split(p_name, ' ')[1]
                  WHEN p_partkey % 13 = 0 THEN array_to_string(flatten(
                       list_transform(range(1, 21),
                                      x -> string_split(p_name, ' '))), ' ')
                  ELSE p_name END AS caption
      FROM part),
    g AS (
      SELECT image_id, w, h, fmt,
             CAST(len(regexp_split_to_array(trim(caption), '\\s+')) AS INT)
               AS n_cap_tokens
      FROM pr),
    r AS (
      SELECT *,
             CASE WHEN least(w, h) < 64 THEN 'too_small'
                  WHEN w > 3 * h OR h > 3 * w THEN 'bad_aspect'
                  WHEN fmt NOT IN ('jpeg', 'png', 'webp') THEN 'bad_fmt'
                  WHEN n_cap_tokens < 3 THEN 'short_caption'
                  WHEN n_cap_tokens > 77 THEN 'long_caption'
                  END AS reject_reason
      FROM g)
    SELECT image_id, w, h, fmt, n_cap_tokens, reject_reason,
           reject_reason IS NULL AS keep
    FROM r
    """,
)
def multimodal_gate(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.multimodal import pair_gates

    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    words = F.split(F.col("p_name"), " ")
    caption = (
        F.when(pk % 11 == 0, F.element_at(words, 1))
        .when(
            pk % 13 == 0,
            F.concat_ws(" ", F.flatten(F.array_repeat(words, 20))),
        )
        .otherwise(F.col("p_name"))
    )
    pairs = p.select(
        pk.alias("image_id"),
        (16 + (pk * 37) % 2048).cast("int").alias("w"),
        (16 + (pk * 61) % 2048).cast("int").alias("h"),
        F.element_at(
            F.array(*[F.lit(x) for x in ["jpeg", "png", "webp", "gif", "bmp"]]),
            ((pk % 5) + 1).cast("int"),
        ).alias("fmt"),
        caption.alias("caption"),
    )
    return pair_gates(pairs)


# PII detection + redaction (analytics/pii.py): pure projections, the
# regexes shared verbatim with the oracle (RE2-safe, no lookaround). PII
# tokens are injected deterministically from doc_id so every type + the
# no-PII branch exists at sf0.01; both sides build the identical augmented
# string, so base-text accidental matches count the same everywhere.
from etherscan_contract_crawler_spark.analytics.pii import PII_PATTERNS as _PII

_PII_PAT = {name: pat for name, pat, _ in _PII}
_PII_AUG_SQL = """
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 2 = 0
                     THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex'
                          || CAST(doc_id % 7 AS VARCHAR) || '.com'
                     ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' ph 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 1
                     THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 2
                     THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                          || CAST(doc_id % 254 + 1 AS VARCHAR)
                     ELSE '' END
             AS t
      FROM documents)"""


def _pii_aug_col():
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.concat(
        F.lit(" mail u"), s(d), F.lit("@ex"), s(d % 7), F.lit(".com")
    )
    phone = F.concat(
        F.lit(" ph 555-"), F.lpad(s(d % 1000), 3, "0"),
        F.lit("-"), F.lpad(s(d % 10000), 4, "0"),
    )
    ssn = F.concat(F.lit(" ssn 123-45-"), F.lpad(s(d % 10000), 4, "0"))
    ip = F.concat(
        F.lit(" ip 10.0."), s(d % 256), F.lit("."), s(d % 254 + 1)
    )
    return F.concat(
        F.col("text"),
        F.when(d % 2 == 0, email).otherwise(F.lit("")),
        F.when(d % 3 == 0, phone).otherwise(F.lit("")),
        F.when(d % 4 == 1, ssn).otherwise(F.lit("")),
        F.when(d % 5 == 2, ip).otherwise(F.lit("")),
    )


_PII_COUNTS_SQL = " + ".join(
    f"len(regexp_extract_all(t, '{p}'))" for _, p, _ in _PII
)


@_q(
    "pii_detect",
    f"""
    {_PII_AUG_SQL}
    SELECT doc_id,
           {', '.join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS INT) AS n_{n}"
        for n, p, _ in _PII)},
           CAST({_PII_COUNTS_SQL} AS INT) AS n_pii,
           ({_PII_COUNTS_SQL}) > 0 AS has_pii
    FROM aug
    """,
)
def pii_detect(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.pii import pii_signals

    d = _t(spark, sf_dir, "documents")
    aug = d.select("doc_id", _pii_aug_col().alias("t"))
    return pii_signals(aug, key_col="doc_id", text_col="t")


_PII_REDACT_SQL = "t"
for _n, _p, _r in _PII:
    _PII_REDACT_SQL = f"regexp_replace({_PII_REDACT_SQL}, '{_p}', '{_r}', 'g')"


@_q(
    "pii_redact",
    f"""
    {_PII_AUG_SQL}
    SELECT doc_id,
           md5({_PII_REDACT_SQL}) AS redacted_md5,
           CAST({_PII_COUNTS_SQL} AS INT) AS n_redactions
    FROM aug
    """,
)
def pii_redact_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.pii import pii_redact

    d = _t(spark, sf_dir, "documents")
    aug = d.select("doc_id", _pii_aug_col().alias("t"))
    r = pii_redact(aug, key_col="doc_id", text_col="t")
    return r.select(
        "doc_id",
        F.md5("redacted_text").alias("redacted_md5"),
        "n_redactions",
    )


# per-target anchor-text aggregation (analytics/graph.py:anchor_text_agg):
# the web-graph description signal — modal anchor per target with a
# lexical tie-break, counts first so the rank window sees anchor
# vocabulary, not inlink volume. Edges synthesized from lineitem (same
# src/dst rule as hits_scores; anchors from a 7-word vocab).
@_q(
    "anchor_text_agg",
    """
    WITH e AS (
      SELECT CAST(l_orderkey % 3000 AS BIGINT) AS src,
             CAST(l_partkey % 3000 AS BIGINT) AS dst,
             (['click here','download','paper','code','home','docs',
               'gallery'])[CAST(l_suppkey % 7 AS INT) + 1] AS anchor
      FROM lineitem WHERE l_orderkey % 3000 <> l_partkey % 3000),
    t AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_inlinks,
                 CAST(count(DISTINCT src) AS BIGINT) AS n_srcs
          FROM e GROUP BY dst),
    a AS (SELECT dst, anchor, count(*) AS n_anchor FROM e GROUP BY dst, anchor),
    r AS (SELECT dst, anchor, n_anchor,
                 row_number() OVER (PARTITION BY dst
                                    ORDER BY n_anchor DESC, anchor) AS rn
          FROM a)
    SELECT t.dst, t.n_inlinks, t.n_srcs, r.anchor AS top_anchor,
           CAST(r.n_anchor AS BIGINT) AS top_anchor_n
    FROM t JOIN r ON t.dst = r.dst WHERE r.rn = 1
    """,
)
def anchor_text_agg_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import anchor_text_agg

    li = _t(spark, sf_dir, "lineitem")
    vocab = F.array(
        *[
            F.lit(s)
            for s in (
                "click here", "download", "paper", "code", "home", "docs",
                "gallery",
            )
        ]
    )
    edges = li.select(
        (F.col("l_orderkey") % 3000).cast("long").alias("src"),
        (F.col("l_partkey") % 3000).cast("long").alias("dst"),
        F.element_at(vocab, (F.col("l_suppkey") % 7).cast("int") + 1).alias(
            "anchor"
        ),
    ).filter("src <> dst")
    return anchor_text_agg(edges)


# cross-document n-gram novelty (analytics/text.py:ngram_novelty): the
# corpus-wide complement of doc_repetition — share of a doc's distinct
# trigrams with document frequency 1 (n=3: bigrams are near-saturated in
# any templated corpus; trigrams discriminate — 476/500 docs nonzero at
# sf0.01 vs 10/500 for bigrams). Reuses the shingle pipeline, so the
# oracle reuses the same range-based gram rule.
@_q(
    "ngram_novelty",
    f"""
    WITH g AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                     i -> w[i] || ' ' || w[i+1] || ' '
                                          || w[i+2])) AS shingle
        FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents))),
    df AS (SELECT shingle, count(*) AS df FROM g GROUP BY shingle)
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
                 4) AS novelty
    FROM g JOIN df USING (shingle) GROUP BY g.doc_id
    """,
)
def ngram_novelty_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), n=3)


# size-balanced shard assignment (analytics/packing.py:shard_assign):
# band-stratified round-robin — equal doc counts per size class per
# shard with NO global sort; window parallelism = bands x salts.
@_q(
    "shard_assign",
    """
    WITH d AS (SELECT doc_id, CAST(n_chars // 4 + 1 AS BIGINT) AS n_tokens
               FROM documents),
    b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS band,
                 CAST(doc_id % 4 AS INT) AS salt
          FROM d),
    r AS (SELECT doc_id, n_tokens, band, salt,
                 row_number() OVER (PARTITION BY band, salt
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                             doc_id) AS rn
          FROM b)
    SELECT doc_id, n_tokens, band,
           CAST((rn - 1 + salt) % 8 AS INT) AS shard
    FROM r
    """,
)
def shard_assign_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.packing import shard_assign

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", (F.expr("n_chars DIV 4") + 1).alias("n_tokens")
    )
    return shard_assign(
        docs, n_shards=8, band_width=32, n_salts=4
    )


# aspect-ratio bucketing (analytics/multimodal.py:aspect_bucket): the
# variable-aspect training batcher's curation stamp. Image dims
# synthesized deterministically from part; the oracle re-derives the
# argmin by unnesting the same constant bucket table.
@_q(
    "aspect_bucket",
    """
    WITH img AS (
      SELECT 'img' || CAST(p_partkey AS VARCHAR) AS image_id,
             CAST(64 + (p_partkey * 37) % 1920 AS INT) AS w,
             CAST(64 + (p_partkey * 53) % 1080 AS INT) AS h
      FROM part),
    cand AS (
      SELECT img.image_id, img.w, img.h, b.bucket, b.center, b.tw, b.th,
             abs((1000 * CAST(img.w AS BIGINT)) // img.h - b.center) AS d
      FROM img CROSS JOIN (VALUES ('1:2', 500, 384, 768),
                                  ('3:4', 750, 448, 576),
                                  ('1:1', 1000, 512, 512),
                                  ('4:3', 1333, 576, 448),
                                  ('2:1', 2000, 768, 384))
                 b(bucket, center, tw, th)),
    r AS (SELECT *, row_number() OVER (PARTITION BY image_id
                                       ORDER BY d, center) AS rn
          FROM cand)
    SELECT image_id, w, h, bucket, CAST(center AS INT) AS ratio_milli,
           CAST(tw AS INT) AS target_w, CAST(th AS INT) AS target_h
    FROM r WHERE rn = 1
    """,
)
def aspect_bucket_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.multimodal import (
        aspect_bucket,
    )

    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    img = p.select(
        F.concat(F.lit("img"), pk.cast("string")).alias("image_id"),
        (64 + (pk * 37) % 1920).cast("int").alias("w"),
        (64 + (pk * 53) % 1080).cast("int").alias("h"),
    )
    return aspect_bucket(img)


# out-of-vocabulary rate (analytics/text.py:oov_rate): tokenizer-coverage
# QA vs the corpus top-16 vocab (synthetic corpus has only 31 distinct
# tokens — 100 would make OOV degenerate-zero); TakeOrderedAndProject + broadcast
# membership join — the token stream never shuffles for the lookup.
@_q(
    "oov_rate",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS token FROM documents),
    cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    vocab AS (SELECT token FROM cnt ORDER BY n DESC, token LIMIT 16)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def oov_rate_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import oov_rate

    return oov_rate(_t(spark, sf_dir, "documents"), vocab_size=16)


# Sitemap ingest (sources/sitemap.py): the structured discovery feed a
# web-scale crawler runs beside the listing scan (reference's fetch_all,
# contract_crawler.py:316-325). Per-domain <urlset> XML is synthesized
# identically on both sides (string_agg ORDER BY pk == array_sort of
# (pk, entry) structs), then parsed back with regexp_extract_all + explode
# — JVM-built-ins only, zero shuffles after the build, and the per-row
# work is protocol-bounded (50k URLs / 50 MB per sitemap file). Every 5th
# entry omits <priority> to exercise the spec's 0.5 default on both sides.
#: shared CTE prefix: e = per-URL entries, sm = per-domain XML docs
_SITEMAP_CTE = """
    e AS (
      SELECT CAST(p_partkey % 40 AS INT) AS dom, p_partkey AS pk,
             '<url><loc>https://d' || CAST(p_partkey % 40 AS VARCHAR)
             || '.example.com/p/' || CAST(p_partkey AS VARCHAR)
             || '</loc><lastmod>2026-'
             || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0') || '-'
             || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0')
             || '</lastmod>'
             || CASE WHEN p_partkey % 5 <> 0
                     THEN '<priority>0.' || CAST(p_partkey % 10 AS VARCHAR)
                          || '</priority>'
                     ELSE '' END
             || '</url>' AS entry
      FROM part),
    sm AS (
      SELECT 'https://d' || CAST(dom AS VARCHAR)
               || '.example.com/sitemap.xml' AS sitemap_url,
             '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
               || string_agg(entry, '' ORDER BY pk) || '</urlset>' AS xml
      FROM e GROUP BY dom),
    b AS (
      SELECT sitemap_url,
             unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS block
      FROM sm),
    ent AS (
      SELECT sitemap_url,
             regexp_extract(block, '<loc>(.*?)</loc>', 1) AS loc,
             nullif(regexp_extract(block, '<lastmod>(.*?)</lastmod>', 1), '')
               AS lastmod,
             CASE WHEN block LIKE '%<priority>%'
                  THEN CAST(regexp_extract(
                         block, '<priority>(.*?)</priority>', 1)
                       AS DOUBLE)
                  ELSE 0.5 END AS priority
      FROM b)
"""

ORACLES["sitemap_ingest"] = f"""
    WITH {_SITEMAP_CTE}
    SELECT sitemap_url, loc, lastmod, round(priority, 4) AS priority
    FROM ent
    """


def _sitemap_docs(spark, sf_dir):
    """Shared synth: one <urlset> XML document per domain, from part.
    Entry order inside a document is pk ASC on both engines (array_sort of
    (pk, entry) structs == string_agg ORDER BY pk)."""
    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    dom = (pk % 40).cast("int")
    entry = F.concat(
        F.lit("<url><loc>https://d"), dom.cast("string"),
        F.lit(".example.com/p/"), pk.cast("string"),
        F.lit("</loc><lastmod>2026-"),
        F.lpad((pk % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((pk % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod>"),
        F.when(
            pk % 5 != 0,
            F.concat(F.lit("<priority>0."), (pk % 10).cast("string"),
                     F.lit("</priority>")),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    return (
        p.select(dom.alias("dom"), pk.alias("pk"), entry.alias("entry"))
        .groupBy("dom")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pk", "entry"))),
                    lambda s: s["entry"],
                ),
            ).alias("body")
        )
        .select(
            F.concat(
                F.lit("https://d"), F.col("dom").cast("string"),
                F.lit(".example.com/sitemap.xml"),
            ).alias("sitemap_url"),
            F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                F.col("body"), F.lit("</urlset>"),
            ).alias("xml"),
        )
    )


@_q("sitemap_ingest")
def sitemap_ingest(spark, sf_dir):
    from etherscan_contract_crawler_spark.sources.sitemap import (
        parse_sitemap_entries,
    )

    ent = parse_sitemap_entries(_sitemap_docs(spark, sf_dir))
    return ent.select(
        "sitemap_url", "loc", "lastmod",
        F.round("priority", 4).alias("priority"),
    )


# frontier_refill — the crawl-side INTEGRATION flagship (the analogue of
# corpus_curation on the curation side): sitemap discovery (parse stage
# above) -> candidate frontier -> anti-join vs the url-seen set (J1,
# operators/dedup.py:anti_join_seen) -> per-domain priority ranking with a
# per-domain budget cap (domain_budget semantics) -> fetch-slot assignment.
# The per-stage oracles can't see key/alias drift BETWEEN these stages;
# this one pins the whole chain. The literal rn <= 5 conjunct keeps the
# map-side Partial WindowGroupLimit below the exchange (the same plan shape
# crawl_schedule_epoch pins); the variable budget applies after it.
@_q(
    "frontier_refill",
    f"""
    WITH {_SITEMAP_CTE},
    cand AS (
      SELECT loc AS url,
             regexp_extract(loc, '^https://([^/]+)/', 1) AS domain,
             priority
      FROM ent),
    seen AS (
      SELECT DISTINCT
             'https://d' || CAST((o_orderkey % 700 + 1) % 40 AS VARCHAR)
             || '.example.com/p/' || CAST(o_orderkey % 700 + 1 AS VARCHAR)
               AS url
      FROM orders),
    fr AS (
      SELECT c.url, c.domain, c.priority
      FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE md5(s.url) = md5(c.url))),
    r AS (
      SELECT url, domain, priority,
             row_number() OVER (PARTITION BY domain
                                ORDER BY priority DESC, url) AS rn
      FROM fr)
    SELECT url, domain, round(priority, 4) AS priority,
           CAST(rn AS INT) AS rn, CAST(rn - 1 AS INT) AS fetch_slot
    FROM r
    WHERE rn <= 5
      AND rn <= CASE WHEN CAST(regexp_extract(domain, '^d([0-9]+)', 1)
                          AS INT) % 7 = 0
                     THEN 2 ELSE 5 END
    """,
)
def frontier_refill(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.dedup import anti_join_seen
    from etherscan_contract_crawler_spark.sources.sitemap import (
        parse_sitemap_entries,
    )

    ent = parse_sitemap_entries(_sitemap_docs(spark, sf_dir))
    cand = ent.select(
        F.col("loc").alias("url"),
        F.regexp_extract("loc", "^https://([^/]+)/", 1).alias("domain"),
        "priority",
    ).withColumn("url_sha1", F.md5("url"))
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 700 + 1
    seen = o.select(
        F.md5(
            F.concat(
                F.lit("https://d"), (k % 40).cast("string"),
                F.lit(".example.com/p/"), k.cast("string"),
            )
        ).alias("url_sha1")
    ).distinct()
    fr = anti_join_seen(cand, seen)
    rn = F.row_number().over(
        Window.partitionBy("domain").orderBy(F.desc("priority"), "url")
    )
    budget = F.when(
        F.regexp_extract("domain", "^d([0-9]+)", 1).cast("int") % 7 == 0,
        F.lit(2),
    ).otherwise(F.lit(5))
    return (
        fr.select("url", "domain", "priority", rn.alias("rn"))
        .where((F.col("rn") <= 5) & (F.col("rn") <= budget))
        .select(
            "url", "domain",
            F.round("priority", 4).alias("priority"),
            F.col("rn").cast("int").alias("rn"),
            (F.col("rn") - 1).cast("int").alias("fetch_slot"),
        )
    )


# Cross-source duplication matrix (analytics/dedup.py:cross_source_overlap):
# which sources mirror which — the rollup a mix designer runs before
# weighting sources. Content key is pluggable (checksum / minhash band in
# production); here a deterministic (lang, length-bucket) key so the
# synthetic corpus actually overlaps. One distinct + self-equi-join on the
# key; output bounded by |sources|^2 regardless of corpus size.
@_q(
    "source_overlap",
    """
    WITH d AS (
      SELECT DISTINCT lang || '|' || CAST(n_chars // 8 AS VARCHAR) AS ck,
             source AS src
      FROM documents)
    SELECT a.src AS source_a, b.src AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_keys
    FROM d a JOIN d b ON a.ck = b.ck AND a.src < b.src
    GROUP BY a.src, b.src
    """,
)
def source_overlap(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        cross_source_overlap,
    )

    d = _t(spark, sf_dir, "documents")
    key = F.concat(
        F.col("lang"), F.lit("|"),
        F.expr("n_chars DIV 8").cast("string"),
    )
    return cross_source_overlap(d, key)


# URL canonicalization as a driver-visible query (functions/urls.py
# canonicalize_url with drop_tracking): the frontier-key primitive every
# dedup decision rides on. The ORACLE side never parses — it derives the
# expected canonical CLOSED-FORM from the same generator components, so the
# two sides agree only if the engine's parse_url pipeline (lowercase
# scheme+host, default-port strip, fragment strip, tracking-param drop,
# query sort, bare-host '/') is actually right, not merely self-consistent.
@_q(
    "url_canonicalize",
    """
    WITH u AS (
      SELECT o_orderkey % 6 AS m,
             CAST(o_orderkey % 40 AS VARCHAR) AS d,
             CAST(o_orderkey AS VARCHAR) AS ks
      FROM orders)
    SELECT
      CASE m
        WHEN 0 THEN 'HTTPS://WWW.Shop' || d || '.Example.COM:443/Item/' || ks
                    || '?utm_source=news&b=2&a=1#top'
        WHEN 1 THEN 'http://shop' || d || '.example.com:80/item/' || ks
        WHEN 2 THEN 'https://Shop' || d || '.Example.com/item/' || ks
                    || '?z=9&y=8&utm_campaign=x&gclid=CLICK'
        WHEN 3 THEN 'https://shop' || d || '.example.com:8443/item/' || ks
                    || '?a=1'
        WHEN 4 THEN 'http://shop' || d || '.example.com'
        ELSE 'https://shop' || d || '.example.com/item/' || ks || '#frag'
      END AS url_raw,
      CASE m
        WHEN 0 THEN 'https://www.shop' || d || '.example.com/Item/' || ks
                    || '?a=1&b=2'
        WHEN 1 THEN 'http://shop' || d || '.example.com/item/' || ks
        WHEN 2 THEN 'https://shop' || d || '.example.com/item/' || ks
                    || '?y=8&z=9'
        WHEN 3 THEN 'https://shop' || d || '.example.com:8443/item/' || ks
                    || '?a=1'
        WHEN 4 THEN 'http://shop' || d || '.example.com/'
        ELSE 'https://shop' || d || '.example.com/item/' || ks
      END AS url_canon
    FROM u
    """,
)
def url_canonicalize_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.urls import canonicalize_url

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m, d, ks = k % 6, (k % 40).cast("string"), k.cast("string")

    def mk(*parts):
        return F.concat(*[p if isinstance(p, Column) else F.lit(p) for p in parts])

    raw = (
        F.when(m == 0, mk("HTTPS://WWW.Shop", d, ".Example.COM:443/Item/", ks,
                          "?utm_source=news&b=2&a=1#top"))
        .when(m == 1, mk("http://shop", d, ".example.com:80/item/", ks))
        .when(m == 2, mk("https://Shop", d, ".Example.com/item/", ks,
                         "?z=9&y=8&utm_campaign=x&gclid=CLICK"))
        .when(m == 3, mk("https://shop", d, ".example.com:8443/item/", ks, "?a=1"))
        .when(m == 4, mk("http://shop", d, ".example.com"))
        .otherwise(mk("https://shop", d, ".example.com/item/", ks, "#frag"))
    )
    return o.select(raw.alias("url_raw")).select(
        "url_raw",
        canonicalize_url("url_raw", drop_tracking=True).alias("url_canon"),
    )


# Sitemap DISCOVERY (sources/sitemap.py robots_sitemap_directives): the
# "Sitemap:" robots directive is group-independent and case-insensitive —
# the same robots bodies the politeness dim already fetches seed the
# sitemap_ingest pipeline with zero extra fetches. Oracle re-lifts with the
# identical RE2-safe multiline regex over an identically-built body.
@_q(
    "robots_sitemaps",
    """
    WITH r AS (
      SELECT n_nationkey AS d,
             CASE n_nationkey % 3
               WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /tmp'
                 || chr(10) || 'Sitemap: https://d'
                 || CAST(n_nationkey AS VARCHAR) || '.example.com/sitemap.xml'
                 || chr(10) || 'SITEMAP : https://d'
                 || CAST(n_nationkey AS VARCHAR)
                 || '.example.com/sitemap-images.xml'
               WHEN 1 THEN '  sitemap: https://d'
                 || CAST(n_nationkey AS VARCHAR) || '.example.com/s.xml'
                 || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'
               ELSE 'User-agent: *' || chr(10) || 'Disallow:'
             END AS body
      FROM nation)
    SELECT 'd' || CAST(d AS VARCHAR) || '.example.com' AS domain,
           unnest(regexp_extract_all(
             body, '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)[ \\t]*$', 1))
             AS sitemap_url
    FROM r
    """,
)
def robots_sitemaps_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.sources.sitemap import (
        robots_sitemap_directives,
    )

    n = _t(spark, sf_dir, "nation")
    d = F.col("n_nationkey")
    ds = d.cast("string")
    body = (
        F.when(d % 3 == 0, F.concat(
            F.lit("User-agent: *\nDisallow: /tmp\nSitemap: https://d"), ds,
            F.lit(".example.com/sitemap.xml\nSITEMAP : https://d"), ds,
            F.lit(".example.com/sitemap-images.xml")))
        .when(d % 3 == 1, F.concat(
            F.lit("  sitemap: https://d"), ds,
            F.lit(".example.com/s.xml\nUser-agent: *\nDisallow: /")))
        .otherwise(F.lit("User-agent: *\nDisallow:"))
    )
    robots = n.select(
        F.concat(F.lit("d"), ds, F.lit(".example.com")).alias("domain"),
        body.alias("body"),
    )
    return robots_sitemap_directives(robots)


# RSS feed ingest (sources/feeds.py): the CHANGE-discovery source beside
# the sitemap's space-discovery. Two overlapping polls of each feed are
# parsed and collapsed to one row per link, newest pubDate winning — the
# max_by hash-agg semantics a feed poller needs (polls re-announce most
# items every time). pubDate is RFC-822 with the weekday stripped before
# parse; surfaced per repo convention as unix BIGINT (session TZ is UTC).
@_q(
    "rss_ingest",
    """
    WITH i AS (
      SELECT p_partkey AS i, p_partkey % 10 AS dom FROM part),
    ann AS (
      SELECT 1 AS poll, i, dom FROM i WHERE i % 4 <> 3
      UNION ALL
      SELECT 2 AS poll, i, dom FROM i WHERE i % 4 <> 0),
    it AS (
      SELECT dom, i, poll,
             'https://d' || CAST(dom AS VARCHAR) || '.example.com/post/'
               || CAST(i AS VARCHAR) AS link,
             'Item ' || CAST(i AS VARCHAR) || ' v' || CAST(poll AS VARCHAR)
               AS title,
             'g' || CAST(i AS VARCHAR) || '-p' || CAST(poll AS VARCHAR)
               AS guid,
             CASE poll WHEN 1 THEN '2026-01-01' ELSE '2026-01-08' END
               || ' 00:00:' || lpad(CAST(i % 60 AS VARCHAR), 2, '0') AS ts
      FROM ann),
    latest AS (
      SELECT link, max_by(title, poll) AS title, max_by(guid, poll) AS guid,
             max(ts) AS ts
      FROM it GROUP BY link)
    SELECT link, title, guid,
           CAST(floor(epoch(strptime(ts, '%Y-%m-%d %H:%M:%S'))) AS BIGINT)
             AS pub_ts
    FROM latest
    """,
)
def rss_ingest_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.sources.feeds import (
        latest_per_link, parse_feed_items,
    )

    p = _t(spark, sf_dir, "part")
    i = F.col("p_partkey")
    dom = (i % 10).cast("string")
    # RFC-822 pubDate; 2026-01-01 and 2026-01-08 are both Thursdays, so the
    # (presentational, stripped-at-parse) weekday token stays truthful
    item = lambda poll, day: F.concat(  # noqa: E731
        F.lit("<item><guid>g"), i.cast("string"), F.lit(f"-p{poll}</guid>"),
        F.lit(f"<title>Item "), i.cast("string"), F.lit(f" v{poll}</title>"),
        F.lit("<link>https://d"), dom, F.lit(".example.com/post/"),
        i.cast("string"), F.lit("</link>"),
        F.lit(f"<pubDate>Thu, {day} Jan 2026 00:00:"),
        F.lpad((i % 60).cast("string"), 2, "0"),
        F.lit(" GMT</pubDate></item>"),
    )
    poll1 = p.where(i % 4 != 3).select(
        dom.alias("dom"), item(1, "01").alias("entry"))
    poll2 = p.where(i % 4 != 0).select(
        dom.alias("dom"), item(2, "08").alias("entry"))
    feeds = (
        poll1.unionByName(poll2)
        .groupBy("dom")
        .agg(F.concat_ws("", F.collect_list("entry")).alias("body"))
        .select(
            F.concat(F.lit("https://d"), F.col("dom"),
                     F.lit(".example.com/feed.xml")).alias("feed_url"),
            F.concat(F.lit("<rss><channel>"), F.col("body"),
                     F.lit("</channel></rss>")).alias("xml"),
        )
    )
    items = parse_feed_items(feeds)
    return latest_per_link(items).select(
        "link", "title", "guid",
        F.unix_timestamp("pub_ts").alias("pub_ts"),
    )


# Declared cache policy -> revisit lanes (functions/http.py cache_policy):
# the protocol-side floor under operators/recrawl.py's observed-change
# lanes. Oracle derives the expected struct CLOSED-FORM from the generator
# residues — the engine's header regexes must extract what the generator
# actually put there, not merely match themselves.
@_q(
    "cache_policy_revisit",
    """
    WITH h AS (
      SELECT o_orderkey AS url_id, o_orderkey % 5 AS m,
             60 + o_orderkey % 7200 AS age
      FROM orders)
    SELECT url_id,
           CAST(CASE m WHEN 0 THEN age WHEN 4 THEN 86400 ELSE 0 END AS INT)
             AS ttl_s,
           CASE WHEN m IN (0, 2, 3) THEN TRUE ELSE FALSE END AS revalidate,
           CASE m
             WHEN 0 THEN CASE WHEN age <= 3600 THEN 'hourly' ELSE 'daily' END
             WHEN 1 THEN 'no_store'
             WHEN 2 THEN 'revalidate'
             WHEN 3 THEN 'revalidate'
             ELSE 'default'
           END AS lane
    FROM h
    """,
)
def cache_policy_revisit_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.http import cache_policy

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 5
    age = (60 + k % 7200).cast("string")
    headers = (
        F.when(m == 0, F.concat(
            F.lit("HTTP/1.1 200 OK\nCache-Control: public, max-age="), age,
            F.lit("\nETag: \"t"), k.cast("string"), F.lit("\"")))
        .when(m == 1, F.lit("Cache-Control: no-store\nContent-Type: text/html"))
        .when(m == 2, F.lit(
            "cache-control: no-cache\n"
            "Last-Modified: Thu, 01 Jan 2026 00:00:00 GMT"))
        .when(m == 3, F.lit(
            "Cache-Control: max-age=0, must-revalidate\nETag: \"x\""))
        .otherwise(F.lit("Content-Type: text/html\nServer: nginx"))
    )
    return (
        o.select(k.alias("url_id"), headers.alias("headers"))
        .select("url_id", cache_policy("headers").alias("p"))
        .select("url_id", "p.ttl_s", "p.revalidate", "p.lane")
    )


# Sitemap snapshot diff (sources/sitemap.py sitemap_diff): the polling
# crawler's cheapest change feed — two sitemap parses bound the whole delta
# however large the site. ONE full-outer hash join on loc; unchanged rows
# (the overwhelming majority, the no-op lane) never leave the join.
@_q(
    "sitemap_diff",
    """
    WITH o AS (
      SELECT 'https://d' || CAST(p_partkey % 40 AS VARCHAR)
               || '.example.com/p/' || CAST(p_partkey AS VARCHAR) AS loc,
             '2026-' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
               || '-' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0')
               AS lastmod
      FROM part WHERE p_partkey % 11 <> 0),
    n AS (
      SELECT 'https://d' || CAST(p_partkey % 40 AS VARCHAR)
               || '.example.com/p/' || CAST(p_partkey AS VARCHAR) AS loc,
             '2026-' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
               || '-' || lpad(CAST(p_partkey % 28 + 1
                                   + CASE WHEN p_partkey % 5 = 0
                                          THEN 1 ELSE 0 END AS VARCHAR),
                              2, '0') AS lastmod
      FROM part WHERE p_partkey % 9 <> 0)
    SELECT coalesce(o.loc, n.loc) AS loc,
           CASE WHEN o.loc IS NULL THEN 'added'
                WHEN n.loc IS NULL THEN 'removed'
                WHEN o.lastmod <> n.lastmod THEN 'changed'
           END AS change,
           o.lastmod AS old_lastmod, n.lastmod AS new_lastmod
    FROM o FULL OUTER JOIN n ON o.loc = n.loc
    WHERE (o.loc IS NULL OR n.loc IS NULL OR o.lastmod <> n.lastmod)
    """,
)
def sitemap_diff_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.sources.sitemap import sitemap_diff

    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    loc = F.concat(
        F.lit("https://d"), (pk % 40).cast("string"),
        F.lit(".example.com/p/"), pk.cast("string"),
    )

    def lastmod(day):
        return F.concat(
            F.lit("2026-"), F.lpad((pk % 12 + 1).cast("string"), 2, "0"),
            F.lit("-"), F.lpad(day.cast("string"), 2, "0"),
        )

    old = p.where(pk % 11 != 0).select(
        loc.alias("loc"), lastmod(pk % 28 + 1).alias("lastmod"))
    bump = F.when(pk % 5 == 0, 1).otherwise(0)
    new = p.where(pk % 9 != 0).select(
        loc.alias("loc"), lastmod(pk % 28 + 1 + bump).alias("lastmod"))
    return sitemap_diff(old, new)


# Hard-negative mining for contrastive image-caption training (axes B):
# for each image embedding, the top-k most-similar captions from OTHER
# pairs — the in-batch negatives a CLIP-style trainer wants hardest. Pure
# composition of the existing exact top-k operator (similarity.py
# cosine_topk: anchors broadcast — mining runs per training batch, so the
# anchor side is batch-bounded; corpus scan embarrassingly parallel; the
# per-anchor top-k is the same pinned WindowGroupLimit shape). Scale path
# beyond batch-sized anchors = lsh_bucket_topk pre-bucketing, recall
# floors already pinned.
@_q(
    "hard_negative_mine",
    """
    WITH img AS (
      SELECT vec_id // 2 AS pair_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 2 = 0),
    cap AS (
      SELECT (vec_id - 1) // 2 AS pair_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 2 = 1),
    s AS (
      SELECT i.pair_id AS anchor_pair_id, c.pair_id AS neg_pair_id,
             round(list_cosine_similarity(i.v, c.v), 4) AS score
      FROM img i, cap c WHERE c.pair_id <> i.pair_id)
    SELECT anchor_pair_id, neg_pair_id,
           CAST(row_number() OVER (PARTITION BY anchor_pair_id
                                   ORDER BY score DESC, neg_pair_id ASC)
                AS INT) AS rank,
           score
    FROM s QUALIFY rank <= 5
    """,
)
def hard_negative_mine(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    img = e.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("vec_id"), "embedding")
    cap = e.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("vec_id"), "embedding")
    return cosine_topk(cap, img, k=5).select(
        F.col("query_id").alias("anchor_pair_id"),
        F.col("neighbor_id").alias("neg_pair_id"),
        "rank", "score",
    )


# Within-domain line-level boilerplate removal (analytics/text.py
# boilerplate_strip): the CCNet/RefinedWeb preprocessing step — a line on
# >= 60% of a domain's pages is template chrome, stripped from every page.
# Distinct from passage_dedup (corpus-global verbatim passages): here the
# key is (domain, line) and thresholds are per-domain fractions. Synth
# wraps each doc in a shared nav+footer per domain; domain d6's wrapper is
# per-page unique, so it must come through untouched — the oracle derives
# both outcomes CLOSED-FORM, so the engine's df-threshold logic is checked
# against ground truth, not a second implementation.
@_q(
    "boilerplate_strip",
    """
    WITH p AS (
      SELECT doc_id, doc_id % 7 AS m, text,
             CASE WHEN doc_id % 7 = 6
                  THEN 'NAV page ' || CAST(doc_id AS VARCHAR)
                  ELSE 'NAV d' || CAST(doc_id % 7 AS VARCHAR)
                       || ' home about products' END AS nav,
             CASE WHEN doc_id % 7 = 6
                  THEN 'PAGE ' || CAST(doc_id AS VARCHAR) || ' footer'
                  ELSE 'COPYRIGHT 2026 d' || CAST(doc_id % 7 AS VARCHAR)
                       || ' all rights reserved' END AS footer
      FROM documents)
    SELECT doc_id, CAST(3 AS BIGINT) AS n_lines,
           CAST(CASE WHEN m = 6 THEN 0 ELSE 2 END AS BIGINT)
             AS n_boiler_lines,
           CASE WHEN m = 6 THEN nav || chr(10) || text || chr(10) || footer
                ELSE text END AS kept_text
    FROM p
    """,
)
def boilerplate_strip_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import (
        boilerplate_strip,
    )

    doc = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    nav = F.when(
        m == 6, F.concat(F.lit("NAV page "), F.col("doc_id").cast("string"))
    ).otherwise(
        F.concat(F.lit("NAV d"), m.cast("string"),
                 F.lit(" home about products"))
    )
    footer = F.when(
        m == 6,
        F.concat(F.lit("PAGE "), F.col("doc_id").cast("string"),
                 F.lit(" footer")),
    ).otherwise(
        F.concat(F.lit("COPYRIGHT 2026 d"), m.cast("string"),
                 F.lit(" all rights reserved"))
    )
    pages = doc.select(
        "doc_id",
        F.concat(F.lit("d"), m.cast("string")).alias("domain"),
        F.concat_ws("\n", nav, F.col("text"), footer).alias("text"),
    )
    return boilerplate_strip(pages, min_frac=0.6, min_pages=3)


# Keep-best caption per image group (the LAION-style multimodal keep: an
# image crawled under many captions keeps its best-aligned one). Groups =
# pair_id % 50 (the synth's "same underlying image" relation); alignment =
# the caption_alignment cosine; rank 1 by (alignment DESC, pair_id ASC) —
# the same literal-bound WindowGroupLimit shape the schedule pins, so the
# per-group work is map-side-bounded however many captions one viral image
# accumulates.
@_q(
    "caption_canonical",
    """
    WITH img AS (
      SELECT vec_id // 2 AS pair_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 0),
    cap AS (
      SELECT (vec_id - 1) // 2 AS pair_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 1),
    s AS (
      SELECT i.pair_id, i.pair_id % 50 AS img_group,
             round(list_sum(list_transform(range(1, len(i.v) + 1),
                                           k -> i.v[k] * c.v[k]))
                   / (sqrt(list_sum(list_transform(i.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 4)
               AS alignment
      FROM img i JOIN cap c USING (pair_id))
    SELECT img_group, pair_id AS best_pair_id, alignment AS best_alignment
    FROM s
    QUALIFY row_number() OVER (PARTITION BY img_group
                               ORDER BY alignment DESC, pair_id ASC) = 1
    """,
)
def caption_canonical(spark, sf_dir):
    aligned = QUERIES["caption_alignment"](spark, sf_dir).select(
        "pair_id", (F.col("pair_id") % 50).alias("img_group"), "alignment"
    )
    rn = F.row_number().over(
        Window.partitionBy("img_group").orderBy(
            F.desc("alignment"), F.asc("pair_id"))
    )
    return (
        aligned.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "img_group",
            F.col("pair_id").alias("best_pair_id"),
            F.col("alignment").alias("best_alignment"),
        )
    )


# Crawl-delay → budget fold (operators/politeness.py
# budgets_with_crawl_delay over operators/robots.py parse_robots_full): a
# domain declaring Crawl-delay D gets max_calls=1 and period_s=max(own
# period, D) — the declared delay is a floor under the engine's own
# politeness, never a license to go faster; declaring domains absent from
# the configured dim enter it via the full-outer dim join. The group-aware
# parse is pytest-pinned (tests/test_robots.py); this oracle checks the
# fold arithmetic.
@_q(
    "crawl_delay_budget",
    """
    WITH b AS (
      SELECT DISTINCT 'd' || CAST(o_custkey % 20 AS VARCHAR) AS domain,
             CAST(2 + (o_custkey % 20) % 4 AS INT) AS max_calls,
             CAST(1 + (o_custkey % 20) % 3 AS DOUBLE) AS period_s
      FROM orders),
    r AS (
      SELECT DISTINCT 'd' || CAST(c_custkey % 26 AS VARCHAR) AS domain,
             2.5 + (c_custkey % 26) % 5 AS crawl_delay
      FROM customer WHERE (c_custkey % 26) % 3 = 0)
    SELECT coalesce(b.domain, r.domain) AS domain,
           CASE WHEN r.crawl_delay IS NOT NULL THEN 1
                ELSE coalesce(b.max_calls, 5) END AS max_calls,
           CASE WHEN r.crawl_delay IS NOT NULL
                THEN greatest(coalesce(b.period_s, 1.0), r.crawl_delay)
                ELSE coalesce(b.period_s, 1.0) END AS period_s
    FROM b FULL OUTER JOIN r ON b.domain = r.domain
    """,
)
def crawl_delay_budget(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        budgets_with_crawl_delay,
    )

    o = _t(spark, sf_dir, "orders")
    d = F.col("o_custkey") % 20
    budgets = o.select(
        F.concat(F.lit("d"), d.cast("string")).alias("domain"),
        (2 + d % 4).cast("int").alias("max_calls"),
        (1 + d % 3).cast("double").alias("period_s"),
    ).distinct()
    c = _t(spark, sf_dir, "customer")
    dd = F.col("c_custkey") % 26
    robots = (
        c.where(dd % 3 == 0)
        .select(
            F.concat(F.lit("d"), dd.cast("string")).alias("domain"),
            F.array().cast("array<string>").alias("disallow"),
            (2.5 + dd % 5).alias("crawl_delay"),
        )
        .distinct()
    )
    out = budgets_with_crawl_delay(budgets, robots)
    return out.select(
        "domain", F.col("max_calls").cast("int").alias("max_calls"), "period_s"
    )


# EXIF extraction (functions/exif.py — a real TIFF 6.0 IFD walker, like
# the real PNG codec): capture metadata the image curation gates need
# (orientation before phash, capture time, device mix, true pixel dims).
# The binary blobs are synthesized INSIDE Spark from part keys (alternating
# byte order; every 7th image is garbage) and the oracle states the
# expected decoded fields CLOSED-FORM from the same keys — so a binary
# operator gets a full ground-truth oracle row, not just a round-trip.
@_q(
    "exif_metadata",
    """
    SELECT CAST(p_partkey AS VARCHAR) AS image_id,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE CAST(1 + p_partkey % 8 AS INT) END AS orientation,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE 'Cam' || CAST(p_partkey % 5 AS VARCHAR) END AS make,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE 'M-' || CAST(p_partkey % 3 AS VARCHAR) END AS model,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE '2026:08:' || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR),
                                        2, '0') || ' 00:00:00' END AS datetime,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE CAST(640 + (p_partkey % 7) * 160 AS INT) END AS width,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE CAST(480 + (p_partkey % 7) * 120 AS INT) END AS height,
           CASE WHEN p_partkey % 7 = 0 THEN NULL
                ELSE CAST(100 * (1 + p_partkey % 4) AS INT) END AS iso
    FROM part
    """,
)
def exif_metadata(spark, sf_dir):
    import pandas as pd

    from etherscan_contract_crawler_spark.functions.exif import (
        encode_tiff_exif, exif_extract,
    )

    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for k in pdf["k"]:
                k = int(k)
                ids.append(str(k))
                if k % 7 == 0:
                    blobs.append(b"not an image at all")
                else:
                    blobs.append(encode_tiff_exif(
                        {
                            "orientation": 1 + k % 8,
                            "make": f"Cam{k % 5}",
                            "model": f"M-{k % 3}",
                            "datetime": f"2026:08:{k % 28 + 1:02d} 00:00:00",
                            "width": 640 + (k % 7) * 160,
                            "height": 480 + (k % 7) * 120,
                            "iso": 100 * (1 + k % 4),
                        },
                        big_endian=bool(k % 2),
                    ))
            yield pd.DataFrame({"image_id": ids, "bytes": blobs})

    imgs = p.mapInPandas(synth, "image_id string, bytes binary")
    return exif_extract(imgs)


# CCNet-style fluency proxy (analytics/text.py bigram_familiarity): mean
# floor-log2 corpus frequency of a doc's word bigrams — gibberish and
# wrong-language text live in rare-bigram territory. The log is an exact
# integer threshold LADDER (shared between both engines via the generated
# CASE below): a true ln-perplexity would be order-dependent float
# summation and could hash-flip at the rounding boundary; BIGINT terms
# cannot.
_LOG2_LADDER_SQL = (
    "CASE "
    + " ".join(f"WHEN c >= {1 << e} THEN {e}" for e in range(20, 0, -1))
    + " ELSE 0 END"
)

ORACLES["bigram_familiarity"] = f"""
    WITH b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                   i -> w[i] || ' ' || w[i+1])) AS bg
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)),
    c AS (SELECT bg, count(*) AS c FROM b GROUP BY bg),
    l AS (SELECT bg, {_LOG2_LADDER_SQL} AS lvl FROM c)
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(l.lvl) AS BIGINT) AS fam_sum,
           round(sum(l.lvl) * 1.0 / count(*), 4) AS familiarity
    FROM b JOIN l USING (bg) GROUP BY b.doc_id
    """


@_q("bigram_familiarity")
def bigram_familiarity_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import (
        bigram_familiarity,
    )

    return bigram_familiarity(_t(spark, sf_dir, "documents"))


# HTML -> visible text + title (functions/html.py): the whole-document
# flatten the curation layer runs on every landed page (lang-ID, quality,
# dedup all consume it). Synth wraps each document in a page with a
# commented-out script, a live script (containing a literal '<'), a style
# block, and entities; the oracle states the expected visible text
# CLOSED-FORM — the strip chain is checked against ground truth, not a
# second regex engine.
@_q(
    "html_text_extract",
    """
    SELECT doc_id,
           'Doc & ' || CAST(doc_id AS VARCHAR) AS title,
           'Doc & ' || CAST(doc_id AS VARCHAR) || ' Heading '
             || CAST(doc_id AS VARCHAR) || ' ' || text
             || ' tail bit' AS text_vis
    FROM documents
    """,
)
def html_text_extract(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import (
        html_title, html_to_text,
    )

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit("<html><head><title> Doc &amp; "), i,
        F.lit("</title><style>p { color: red }</style></head><body><h1>Heading "),
        i,
        F.lit("</h1><!-- hidden <script>evil()</script> comment --><p>"),
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('</p><script type="text/javascript">var x = 1 < 2;</script>'),
        ).otherwise(F.lit("</p>")),
        F.lit("<div>tail&nbsp;bit</div></body></html>"),
    )
    return d.select(
        "doc_id",
        html_title(page).alias("title"),
        html_to_text(page).alias("text_vis"),
    )


# Charset detection (functions/http.py detect_charset): header charset
# param > meta declaration > default, per protocol precedence — the gate
# before bytes->text decode. Oracle states the expected winner closed-form
# per generator residue.
@_q(
    "charset_detect",
    """
    SELECT o_orderkey AS url_id,
           CASE o_orderkey % 5
             WHEN 0 THEN 'iso-8859-1'
             WHEN 1 THEN 'utf-8'
             WHEN 2 THEN 'shift_jis'
             WHEN 3 THEN 'windows-1252'
             ELSE 'utf-8'
           END AS charset
    FROM orders
    """,
)
def charset_detect(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.http import detect_charset

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 5
    headers = (
        # 0: header param wins even when a meta disagrees
        F.when(m == 0, F.lit(
            "HTTP/1.1 200 OK\nContent-Type: text/html; charset=ISO-8859-1"))
        # 1: quoted param, odd casing in the header name
        .when(m == 1, F.lit('content-type: text/html;charset="UTF-8"'))
        # 2-4: no charset param (2,3) or no content-type at all (4)
        .when(m == 2, F.lit("Content-Type: text/html"))
        .when(m == 3, F.lit("Content-Type: text/html"))
        .otherwise(F.lit("Server: nginx"))
    )
    body = (
        F.when(m == 0, F.lit('<meta charset="utf-8"><p>ignored</p>'))
        .when(m == 2, F.lit("<META CHARSET=Shift_JIS><p>x</p>"))
        .when(m == 3, F.lit(
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=windows-1252">'))
        .otherwise(F.lit("<p>no declaration</p>"))
    )
    return o.select(
        k.alias("url_id"), detect_charset(headers, body).alias("charset")
    )


# SURT sort key (functions/urls.py surt_key): reverse-host canonical key,
# the format web archives index CDX files under. Lexicographic order on it
# clusters every URL of a registrable domain (and all its subdomains) into
# ONE contiguous range — range-partition the frontier by SURT and
# per-domain scans become partition-pruned prefix ranges, domain exports
# become range scans, and parquet min/max stats prune files. Synth covers
# multi-label PSL hosts, www, non-default port kept, default port dropped,
# userinfo stripped, query-param sorting, bare-host '/', and the
# no-scheme identity fallback; the oracle states each expected key
# CLOSED-FORM per generator residue (ground truth, not a second parser).
@_q(
    "surt_key",
    """
    SELECT o_orderkey AS url_id,
           CASE o_orderkey % 6
             WHEN 0 THEN 'uk,co,example' || CAST(o_custkey % 50 AS VARCHAR)
               || ',news)/a/' || CAST(o_orderkey AS VARCHAR) || '?a=1&b=2'
             WHEN 1 THEN 'com,site' || CAST(o_custkey % 50 AS VARCHAR)
               || ',www:8080)/x/' || CAST(o_orderkey AS VARCHAR)
             WHEN 2 THEN 'com,example,cdn' || CAST(o_custkey % 50 AS VARCHAR)
               || ')/img/' || CAST(o_orderkey AS VARCHAR) || '.jpg'
             WHEN 3 THEN 'com,example' || CAST(o_custkey % 50 AS VARCHAR) || ')/'
             WHEN 4 THEN 'net,host' || CAST(o_custkey % 50 AS VARCHAR) || ')/p?z=1'
             ELSE 'frontier key ' || CAST(o_orderkey AS VARCHAR)
           END AS surt
    FROM orders
    """,
)
def surt_key_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.urls import surt_key

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 6
    d = (F.col("o_custkey") % 50).cast("string")
    ks = k.cast("string")
    url = (
        # 0: mixed case, multi-label public suffix, fragment, unsorted query
        F.when(m == 0, F.concat(
            F.lit("https://news.Example"), d, F.lit(".co.uk/a/"), ks,
            F.lit("?b=2&a=1#frag")))
        # 1: www kept, non-default port kept
        .when(m == 1, F.concat(
            F.lit("http://WWW.Site"), d, F.lit(".com:8080/x/"), ks))
        # 2: default https port dropped
        .when(m == 2, F.concat(
            F.lit("https://cdn"), d, F.lit(".example.com:443/img/"), ks,
            F.lit(".jpg")))
        # 3: bare host -> '/' path
        .when(m == 3, F.concat(F.lit("http://example"), d, F.lit(".com")))
        # 4: userinfo stripped, default http port dropped
        .when(m == 4, F.concat(
            F.lit("http://user:pw@host"), d, F.lit(".net:80/p?z=1")))
        # 5: no scheme://host shape -> identity fallback, never NULL
        .otherwise(F.concat(F.lit("frontier key "), ks))
    )
    return o.select(k.alias("url_id"), surt_key(url).alias("surt"))


# Page-level robots directives (functions/html.py meta_robots): robots.txt
# gates the FETCH; X-Robots-Tag / <meta name=robots> gate what the engine
# does with a fetched page — noindex keeps it out of the corpus,
# nofollow keeps its outlinks out of the frontier. Both sources apply
# (directive union = most restrictive wins), 'none' ≡ noindex,nofollow,
# token-safe match (nonoindexed ≠ noindex), non-robots meta names ignored.
@_q(
    "meta_robots_gate",
    """
    SELECT o_orderkey AS url_id,
           (o_orderkey % 6) IN (0, 2, 5)            AS noindex,
           (o_orderkey % 6) IN (1, 2, 5)            AS nofollow,
           NOT (o_orderkey % 6) IN (0, 2, 5)        AS corpus_keep,
           NOT (o_orderkey % 6) IN (1, 2, 5)        AS extract_links
    FROM orders
    """,
)
def meta_robots_gate(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import meta_robots

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 6
    headers = (
        # 0: header alone
        F.when(m == 0, F.lit("HTTP/1.1 200 OK\nX-Robots-Tag: noindex"))
        # 4: real directive we don't track + decoy meta below
        .when(m == 4, F.lit("x-robots-tag: nosnippet"))
        # 5: header noindex UNIONs with meta nofollow
        .when(m == 5, F.lit("X-Robots-Tag: noindex"))
        .otherwise(F.lit("Server: nginx"))
    )
    body = (
        # 1: meta alone, odd spacing/casing, extra directive
        F.when(m == 1, F.lit(
            '<meta name="robots" content="NOFOLLOW , noarchive">'))
        # 2: attribute order free, none ≡ noindex,nofollow
        .when(m == 2, F.lit("<META CONTENT='none' NAME=robots>"))
        # 3: googlebot-scoped tag is NOT name=robots -> ignored
        .when(m == 3, F.lit('<meta name="googlebot" content="noindex">'))
        # 4: directive buried in a word must not match
        .when(m == 4, F.lit('<meta name="robots" content="nonoindexed">'))
        .when(m == 5, F.lit('<meta name="robots" content="nofollow">'))
        .otherwise(F.lit("<p>plain page</p>"))
    )
    mr = meta_robots(headers, body)
    return o.select(
        k.alias("url_id"),
        mr.noindex.alias("noindex"),
        mr.nofollow.alias("nofollow"),
        (~mr.noindex).alias("corpus_keep"),
        (~mr.nofollow).alias("extract_links"),
    )


# Exact duplicated-substring SPANS (analytics/dedup.py duplicate_spans) —
# the word-level rendering of exact-substring dedup (Lee et al. 2022): any
# 5-gram occurring in >= 2 distinct docs marks its start position, and
# maximal runs of marked positions merge into spans via one doc-partitioned
# window (gaps-and-islands). Injected docs are 25-word prefixes of every
# 4th document, so real partial spans exist at every sf; the oracle
# re-derives grams positionally with zipped unnests and the same islands.
@_q(
    "span_dedup",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id,
             array_to_string(list_slice({_SQL_WORDS}, 1, 25), ' ') AS text
      FROM documents WHERE doc_id % 4 = 0),
    wd AS (SELECT doc_id, {_SQL_WORDS} AS w FROM base),
    grams AS (
      SELECT doc_id,
             CAST(unnest(range(0, greatest(len(w) - 4, 0))) AS BIGINT) AS pos,
             unnest(list_transform(range(0, greatest(len(w) - 4, 0)),
                    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                         || w[i+4] || ' ' || w[i+5])) AS gram
      FROM wd),
    dup AS (SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS c FROM grams GROUP BY gram)
      WHERE c >= 2),
    dpos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS k
            FROM dpos)
    SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
           max(pos) - min(pos) + 5 AS span_words
    FROM isl GROUP BY doc_id, k
    """,
)
def span_dedup(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        duplicate_spans,
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inj = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(normalized_words(), 1, 25)).alias("text"),
    )
    return duplicate_spans(d.unionByName(inj), n=5)


# Zipf rank-frequency fit per language (analytics/text.py zipf_slope):
# least-squares slope of ln(freq) on ln(rank) over the top-80 tokens —
# natural text sits near -1, corrupted/generated corpora drift, making the
# slope a one-number corpus-health gate. The literal rk <= 80 plants a
# map-side Partial WindowGroupLimit; the regression is a second
# vocabulary-bounded agg (regr_slope on both engines).
@_q(
    "zipf_slope",
    f"""
    WITH tok AS (SELECT lang, unnest({_SQL_WORDS}) AS token FROM documents),
    c AS (SELECT lang, token, count(*) AS n FROM tok
          WHERE len(token) > 0 GROUP BY lang, token),
    r AS (SELECT lang, token, n, row_number() OVER (
            PARTITION BY lang ORDER BY n DESC, token) AS rk FROM c)
    SELECT lang, round(regr_slope(ln(n), ln(rk)), 6) AS zipf_slope,
           CAST(count(*) AS BIGINT) AS n_terms,
           arg_min(token, rk) AS top_token
    FROM r WHERE rk <= 80 GROUP BY lang
    """,
)
def zipf_slope_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import zipf_slope

    return zipf_slope(_t(spark, sf_dir, "documents"), k=80, group_col="lang")


# In-link authority prior (analytics/graph.py host_fanin): distinct
# referring hosts per destination + a log-damped frontier-priority prior —
# the no-iteration stand-in for PageRank that seeds per-domain budgets.
# Same synthetic link graph as pagerank_priority/hits_scores.
@_q(
    "host_fanin_prior",
    """
    WITH e AS (SELECT DISTINCT CAST(l_orderkey % 3000 AS BIGINT) AS src,
                               CAST(l_partkey % 3000 AS BIGINT) AS dst
               FROM lineitem
               WHERE l_orderkey % 3000 <> l_partkey % 3000)
    SELECT dst, CAST(count(*) AS BIGINT) AS fanin,
           round(ln(1 + count(*)), 6) AS prior
    FROM e GROUP BY dst
    """,
)
def host_fanin_prior(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import host_fanin

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % 3000).cast("long").alias("src"),
            (F.col("l_partkey") % 3000).cast("long").alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    return host_fanin(edges)


# Mirror/alias detection (operators/dedup.py url_alias_groups): URLs
# serving byte-identical content collapse into one group; the group elects
# the lexicographically-least SURT as canonical (crawl-side twin of
# dedup_canonical — keep the best ADDRESS, stop re-fetching mirrors).
# Synth: three URL shapes per content key (mixed-case host + unsorted
# query, www + default port, alternate TLD); the oracle states each SURT
# closed-form per generator residue, same ground-truth style as surt_key.
@_q(
    "url_alias_groups",
    """
    WITH p AS (SELECT o_orderkey AS k, CAST(o_custkey % 10 AS VARCHAR) AS h,
                      o_orderkey % 3 AS m FROM orders),
    r AS (SELECT
      md5('payload-' || substr(sha256(CAST(k % 700 AS VARCHAR)), 1, 16)) AS checksum,
      CASE m WHEN 0 THEN 'https://Mirror' || h || '.example.com/c/'
                        || CAST(k AS VARCHAR) || '?utm=1&b=2'
             WHEN 1 THEN 'http://www.mirror' || h || '.example.com:80/c/'
                        || CAST(k AS VARCHAR)
             ELSE 'https://m' || h || '.example.net/c/'
                        || CAST(k AS VARCHAR) || '#frag' END AS url,
      CASE m WHEN 0 THEN 'com,example,mirror' || h || ')/c/'
                        || CAST(k AS VARCHAR) || '?b=2&utm=1'
             WHEN 1 THEN 'com,example,mirror' || h || ',www)/c/'
                        || CAST(k AS VARCHAR)
             ELSE 'net,example,m' || h || ')/c/' || CAST(k AS VARCHAR) END AS surt
      FROM p)
    SELECT checksum,
           arg_min(url, surt || chr(10) || url) AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_aliases,
           CAST(count(DISTINCT split_part(surt, ')', 1)) AS BIGINT) AS n_hosts
    FROM r GROUP BY checksum HAVING count(*) > 1
    """,
)
def url_alias_groups_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.dedup import url_alias_groups

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    h = (F.col("o_custkey") % 10).cast("string")
    ks = k.cast("string")
    m = k % 3
    url = (
        F.when(m == 0, F.concat(
            F.lit("https://Mirror"), h, F.lit(".example.com/c/"), ks,
            F.lit("?utm=1&b=2")))
        .when(m == 1, F.concat(
            F.lit("http://www.mirror"), h, F.lit(".example.com:80/c/"), ks))
        .otherwise(F.concat(
            F.lit("https://m"), h, F.lit(".example.net/c/"), ks, F.lit("#frag")))
    )
    content = F.concat(
        F.lit("payload-"),
        F.substring(F.sha2((k % 700).cast("string"), 256), 1, 16),
    )
    return url_alias_groups(
        o.select(url.alias("url"), content.alias("content"))
    )


# Token-budget curve (analytics/stats.py token_budget): per (lang,
# quality-bucket) doc/token counts plus the CUMULATIVE token share kept by
# admitting every bucket at-or-above — the planning query behind retention
# thresholds and data-mix weights. Quality/bucket fragments are shared
# verbatim with text_quality's green oracle so drift breaks two rows.
@_q(
    "corpus_token_budget",
    """
    WITH q AS ({quality}),
    scored AS (
      SELECT d.lang,
             least(CAST(floor(q.quality * 5) AS INT), 4) AS bucket,
             q.n_tokens
      FROM documents d JOIN q ON d.doc_id = q.doc_id)
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens,
           CAST(sum(sum(n_tokens)) OVER (
             PARTITION BY lang ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           round(sum(sum(n_tokens)) OVER (
               PARTITION BY lang ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / sum(sum(n_tokens)) OVER (PARTITION BY lang), 6) AS cum_share
    FROM scored GROUP BY lang, bucket
    """.format(quality=_quality_sql()),
)
def corpus_token_budget(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.stats import token_budget

    d = _t(spark, sf_dir, "documents")
    # keep_cols rides lang through the scoring projection — no corpus-sized
    # self-join on doc_id just to reattach a column the scan already had
    scored = quality_score(d, keep_cols=("lang",)).select(
        "lang",
        F.least(F.floor(F.col("quality") * 5).cast("int"), F.lit(4)).alias(
            "q_bucket"
        ),
        "n_tokens",
    )
    return token_budget(scored, group_col="lang")


# CDX-style revisit dedup (operators/recrawl.py cdx_revisits): a capture
# whose digest equals the PREVIOUS capture of the same URL stores as a
# `revisit` pointer record, not a second payload — the WARC/CDX rule that
# makes re-crawling unchanged pages nearly free. Synth: 300 URL keys over
# the events stream, digest constant across runs of ~10 captures; one
# urlkey exchange, lag + running payload_seq fused into one Window node.
@_q(
    "cdx_revisit_dedup",
    """
    WITH cap AS (
      SELECT 'com,example' || CAST(event_id % 300 AS VARCHAR) || ')/p' AS urlkey,
             event_id AS ts,
             md5(CAST(event_id // 3000 AS VARCHAR)) AS digest
      FROM events),
    lagged AS (
      SELECT urlkey, ts, digest,
             lag(digest) OVER (PARTITION BY urlkey ORDER BY ts) AS prev
      FROM cap)
    SELECT urlkey, ts, digest,
           (prev IS NOT NULL AND digest = prev) AS is_revisit,
           CAST(sum(CASE WHEN prev IS NULL OR digest <> prev THEN 1 ELSE 0 END)
                OVER (PARTITION BY urlkey ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS payload_seq
    FROM lagged
    """,
)
def cdx_revisit_dedup(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.recrawl import cdx_revisits

    ev = _t(spark, sf_dir, "events")
    caps = ev.select(
        F.concat(
            F.lit("com,example"), (F.col("event_id") % 300).cast("string"),
            F.lit(")/p"),
        ).alias("urlkey"),
        F.col("event_id").alias("ts"),
        F.md5(F.floor(F.col("event_id") / 3000).cast("string")).alias("digest"),
    )
    return cdx_revisits(caps)


# Deterministic weighted sampling without replacement (analytics/sampling.py
# weighted_sample, Efraimidis–Spirakis A-ES): smallest -ln(u)/w wins, u a
# pure hash of the row key — re-runs, replays, and different executor
# counts select the IDENTICAL sample (df.sample cannot). Executed as
# TakeOrderedAndProject: per-partition k-heaps, no full sort, no exchange.
@_q(
    "weighted_sample",
    """
    WITH r AS (
      SELECT p_partkey AS key,
             CAST((p_size % 10) + 1 AS DOUBLE) AS weight,
             -ln((CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
                       AS BIGINT) + 1.0) / 1152921504606846976.0)
               / ((p_size % 10) + 1) AS es
      FROM part)
    SELECT key, weight, round(es, 9) AS es_key
    FROM r ORDER BY es ASC, key ASC LIMIT 100
    """,
)
def weighted_sample_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sampling import weighted_sample

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", ((F.col("p_size") % 10) + 1).alias("w")
    )
    return weighted_sample(p, key_col="p_partkey", weight_col="w", k=100)


# phash pairs -> connected components (the image-axis dedup CLUSTERING:
# phash_neardup generates near-dup pairs, neardup_components labels the
# mirror clusters). Integration check for the pair->component seam — the
# oracle closes the brute-force O(n^2) pair set with a recursive CTE, same
# ground-truth style as dedup_components.
@_q(
    "phash_components",
    r"""
    WITH RECURSIVE ph AS (
      SELECT doc_id,
             xor(CAST(('0x' || substr(md5(source || '|' || CAST(doc_id % 50 AS VARCHAR)), 1, 15)) AS BIGINT),
                 (CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))) AS phash
      FROM documents),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3),
    sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
    m AS (SELECT a, min(b) AS mn FROM reach GROUP BY a)
    SELECT ph.doc_id,
           CAST(least(ph.doc_id, coalesce(m.mn, ph.doc_id)) AS BIGINT) AS component
    FROM ph LEFT JOIN m ON m.a = ph.doc_id
    """,
)
def phash_components(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        _hash60,
        neardup_components,
    )
    from etherscan_contract_crawler_spark.analytics.phash import phash_neardup_pairs

    d = _t(spark, sf_dir, "documents")
    cluster_key = F.concat_ws("|", F.col("source"), (F.col("doc_id") % 50).cast("string"))
    ph = d.select(
        "doc_id",
        _hash60(cluster_key)
        .bitwiseXOR(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT))"))
        .alias("phash"),
    )
    pairs = phash_neardup_pairs(ph, phash_col="phash", key_col="doc_id", max_hamming=3)
    edges = pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return neardup_components(d.select("doc_id"), edges)


# MinHash estimator quality as data (the LSH analogue of ann_*_recall):
# for every LSH candidate pair, the signature-match estimate of Jaccard
# (matching components / 12) next to the EXACT shingle Jaccard and the
# absolute error — making the sketch's accuracy driver-visible instead of
# pytest-only. All hashes are md5-derived, so the oracle re-derives both
# numbers from the same fragments the sig/pairs queries already use
# (drift in either breaks three rows).
@_q(
    "minhash_est_quality",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id,
             array_to_string(list_slice({_SQL_WORDS}, 1,
               greatest((len({_SQL_WORDS}) * 7) // 10, 1)), ' ') AS text
      FROM documents WHERE doc_id < 150 AND doc_id % 5 = 0),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM base))),
    mh AS (
      SELECT doc_id, j,
             min(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || shingle), 1, 15)) AS BIGINT)) AS mh
      FROM sh, range(0, 12) t(j) GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 3 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j)) AS bh
      FROM mh GROUP BY doc_id, j // 3),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b USING (band, bh)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 12.0, 6) AS est_jaccard
      FROM cand c
      JOIN mh x ON x.doc_id = c.doc_a
      JOIN mh y ON y.doc_id = c.doc_b AND y.j = x.j
      GROUP BY 1, 2),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           round(c.c / (sa.n_sh + sb.n_sh - c.c), 6) AS exact_jaccard,
           round(abs(e.est_jaccard
                     - round(c.c / (sa.n_sh + sb.n_sh - c.c), 6)), 6) AS abs_err
    FROM est e
    JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    """,
)
def minhash_est_quality(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import normalized_words

    d0 = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    # truncated mirrors (70% word prefix) plant a graded pair population:
    # Jaccard ~0.7 vs the original -> some bands collide, some don't, so
    # the estimator is exercised across its range, not just at 1.0
    w = normalized_words()
    mir = d0.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                w, F.lit(1),
                F.greatest(F.floor(F.size(w) * 7 / 10).cast("int"), F.lit(1)),
            ),
        ).alias("text"),
    )
    d = d0.unionByName(mir)
    sigs = minhash_signatures(d, n_hashes=12)
    cand = minhash_lsh_pairs(d, n_hashes=12, bands=4).select("doc_a", "doc_b")
    est = (
        cand.join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m))
                / F.lit(12.0),
                6,
            ).alias("est_jaccard"),
        )
    )
    exact = jaccard_pairs(d, n=3, threshold=0.0).withColumnRenamed(
        "jaccard", "exact_jaccard"
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "est_jaccard", "exact_jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias(
            "abs_err"
        ),
    )


# Sitemap-driven refresh set (the polling crawler's second integration
# seam, after frontier_refill): the REAL sitemap parser's entries join the
# capture log; a URL refetches when it was never captured ('new') or its
# declared lastmod postdates the last fetch ('stale') — lastmod is the
# publisher's change signal, so this is the cheap alternative to
# re-crawling on a timer. ISO dates compare lexicographically on both
# engines; one hash join on loc, fresh URLs never leave it.
@_q(
    "sitemap_refresh_set",
    f"""
    WITH {_SITEMAP_CTE},
    hist AS (
      SELECT 'https://d' || CAST(p_partkey % 40 AS VARCHAR) || '.example.com/p/'
               || CAST(p_partkey AS VARCHAR) AS loc,
             '2026-' || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
               || '-' || lpad(CAST((p_partkey * 7) % 28 + 1 AS VARCHAR), 2, '0')
               AS last_fetch
      FROM part WHERE p_partkey % 3 <> 0)
    SELECT e.loc, e.lastmod, h.last_fetch,
           CASE WHEN h.loc IS NULL THEN 'new' ELSE 'stale' END AS reason
    FROM ent e LEFT JOIN hist h ON h.loc = e.loc
    WHERE h.loc IS NULL OR e.lastmod > h.last_fetch
    """,
)
def sitemap_refresh_set(spark, sf_dir):
    from etherscan_contract_crawler_spark.sources.sitemap import (
        parse_sitemap_entries,
    )

    ent = parse_sitemap_entries(_sitemap_docs(spark, sf_dir))
    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    hist = p.filter(pk % 3 != 0).select(
        F.concat(
            F.lit("https://d"), (pk % 40).cast("string"),
            F.lit(".example.com/p/"), pk.cast("string"),
        ).alias("loc"),
        F.concat(
            F.lit("2026-"), F.lpad((pk % 12 + 1).cast("string"), 2, "0"),
            F.lit("-"), F.lpad(((pk * 7) % 28 + 1).cast("string"), 2, "0"),
        ).alias("last_fetch"),
    )
    j = ent.select("loc", "lastmod").join(hist, "loc", "left")
    return j.filter(
        F.col("last_fetch").isNull() | (F.col("lastmod") > F.col("last_fetch"))
    ).select(
        "loc", "lastmod", "last_fetch",
        F.when(F.col("last_fetch").isNull(), F.lit("new"))
        .otherwise(F.lit("stale"))
        .alias("reason"),
    )


# Publisher-declared canonical (functions/html.py rel_canonical): the
# <link rel="canonical"> target — pages declaring a DIFFERENT canonical
# are duplicates by assertion, the zero-cost dedup tier above checksum/
# minhash (credit content to the canonical, skip indexing the duplicate).
# Synth covers both attribute orders, quote styles, bare values, uppercase
# tag/scheme/host (is_self must survive canonicalization), a relative
# href, a no-link page, and a stylesheet decoy; the oracle states the
# expected struct closed-form per residue.
@_q(
    "rel_canonical",
    """
    SELECT o_orderkey AS url_id,
           CASE o_orderkey % 6
             WHEN 0 THEN 'https://site' || CAST(o_custkey % 20 AS VARCHAR)
               || '.example.com/p/' || CAST(o_orderkey AS VARCHAR)
             WHEN 1 THEN 'https://site' || CAST(o_custkey % 20 AS VARCHAR)
               || '.example.com/canon/' || CAST(o_orderkey % 100 AS VARCHAR)
             WHEN 2 THEN 'HTTPS://SITE' || CAST(o_custkey % 20 AS VARCHAR)
               || '.EXAMPLE.COM/p/' || CAST(o_orderkey AS VARCHAR)
             WHEN 5 THEN '/p/' || CAST(o_orderkey AS VARCHAR)
             ELSE NULL END AS canonical_url,
           CASE o_orderkey % 6
             WHEN 0 THEN true WHEN 1 THEN false WHEN 2 THEN true
             WHEN 5 THEN false ELSE NULL END AS is_self
    FROM orders
    """,
)
def rel_canonical_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import rel_canonical

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 6
    d = (F.col("o_custkey") % 20).cast("string")
    ks = k.cast("string")
    page_url = F.concat(
        F.lit("https://site"), d, F.lit(".example.com/p/"), ks
    )
    body = (
        # 0: plain self-canonical, double quotes
        F.when(m == 0, F.concat(
            F.lit('<link rel="canonical" href="https://site'), d,
            F.lit(".example.com/p/"), ks, F.lit('">')))
        # 1: attribute order swapped, single quotes, consolidation target
        .when(m == 1, F.concat(
            F.lit("<link href='https://site"), d, F.lit(".example.com/canon/"),
            (k % 100).cast("string"), F.lit("' rel='canonical'>")))
        # 2: uppercase tag + bare attr values + scheme/host case — is_self
        # must still be true after canonicalization
        .when(m == 2, F.concat(
            F.lit("<LINK REL=CANONICAL HREF=HTTPS://SITE"), d,
            F.lit(".EXAMPLE.COM/p/"), ks, F.lit(">")))
        # 5: relative href — surfaced raw, never self
        .when(m == 5, F.concat(
            F.lit('<link rel="canonical" href="/p/'), ks, F.lit('">')))
        # 4: stylesheet decoy must NOT match; 3: no link at all
        .when(m == 4, F.lit('<link rel="stylesheet" href="/css/x.css">'))
        .otherwise(F.lit("<p>no links</p>"))
    )
    rc = rel_canonical(body, page_url)
    return o.select(
        k.alias("url_id"),
        rc.canonical_url.alias("canonical_url"),
        rc.is_self.alias("is_self"),
    )


# Per-doc duplicated-text coverage (analytics/dedup.py duplicate_coverage):
# the cut signal distilled from span_dedup — dup_words counts DISTINCT word
# positions covered by any cross-doc duplicated 5-gram (exact even where
# maximal spans overlap by < n), dup_frac feeds the drop/trim threshold.
# Same injected 25-word-prefix mirrors as span_dedup, so the two oracles
# cross-check the same gram universe at different granularities.
@_q(
    "doc_dup_fraction",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id,
             array_to_string(list_slice({_SQL_WORDS}, 1, 25), ' ') AS text
      FROM documents WHERE doc_id % 4 = 0),
    wd AS (SELECT doc_id, {_SQL_WORDS} AS w FROM base),
    grams AS (
      SELECT doc_id,
             CAST(unnest(range(0, greatest(len(w) - 4, 0))) AS BIGINT) AS pos,
             unnest(list_transform(range(0, greatest(len(w) - 4, 0)),
                    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                         || w[i+4] || ' ' || w[i+5])) AS gram
      FROM wd),
    dup AS (SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS c FROM grams GROUP BY gram)
      WHERE c >= 2),
    covered AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_words FROM (
        SELECT DISTINCT g.doc_id, u.wi
        FROM grams g JOIN dup USING (gram),
             unnest(range(g.pos, g.pos + 5)) u(wi))
      GROUP BY doc_id)
    SELECT wd.doc_id, CAST(len(wd.w) AS BIGINT) AS n_words,
           coalesce(c.dup_words, 0) AS dup_words,
           round(coalesce(c.dup_words, 0)
                 / CAST(greatest(len(wd.w), 1) AS DOUBLE), 6) AS dup_frac
    FROM wd LEFT JOIN covered c USING (doc_id)
    """,
)
def doc_dup_fraction(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        duplicate_coverage,
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    inj = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(normalized_words(), 1, 25)).alias("text"),
    )
    return duplicate_coverage(d.unionByName(inj), n=5)


# SemDeDup (Abbas et al. 2023) — cluster-then-prune semantic dedup: the
# pair scan runs only WITHIN a coarse-centroid cluster (one shuffle on cid,
# never all-pairs; n_centroids is the cost knob, like IVF cells). Scaled
# copies (cosine exactly 1.0) are injected so dup pairs exist at every SF;
# centroids = 16 lowest-id vectors so the oracle re-derives the identical
# assignment (production seeds with ivf_centroids k-means — same plan).
@_q(
    "semdedup_prune",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 300
      UNION ALL
      SELECT vec_id + 1000000000000 AS vec_id,
             CAST(list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 300 AND vec_id % 7 = 0),
    c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
    asg AS (SELECT vec_id, cid FROM (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
                        c.cid ASC) AS r
      FROM e CROSS JOIN c) WHERE r = 1),
    m AS (SELECT a.vec_id, a.cid, e.v FROM asg a JOIN e ON e.vec_id = a.vec_id),
    d AS (SELECT DISTINCT a.vec_id FROM m a JOIN m b
          ON a.cid = b.cid AND a.vec_id > b.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.95)
    SELECT m.vec_id, m.cid, (d.vec_id IS NOT NULL) AS pruned
    FROM m LEFT JOIN d ON d.vec_id = m.vec_id
    """,
)
def semdedup_prune(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    copies = e.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1_000_000_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x.cast("double") * 2).cast("float")).alias("embedding"),
    )
    corpus = e.select("vec_id", "embedding").unionByName(copies)
    return semantic_dedup(corpus, n_centroids=16, threshold=0.95)


# Product-quantization codes — the compression primitive under IVFPQ /
# billion-scale ANN: each vector's m subvectors snap to per-subspace
# codewords (L2 argmin). Codebook = subvectors of the 16 lowest-id vectors
# (oracle-reproducible); encode plan = one KB-sized broadcast join + a
# per-(vector, subspace) argmin window — no corpus shuffle.
@_q(
    "pq_codes",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      CAST(len(embedding) / 4 AS INT) AS d
               FROM embeddings WHERE vec_id < 200),
    s AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                 list_slice(v, CAST(sub AS INT) * d + 1,
                            (CAST(sub AS INT) + 1) * d) AS sv
          FROM e, range(0, 4) t(sub)),
    cb AS (SELECT sub, vec_id AS code, sv AS cw FROM s
           WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
    scored AS (SELECT s.vec_id, s.sub, cb.code,
                      round(list_distance(s.sv, cb.cw), 6) AS dist
               FROM s JOIN cb USING (sub))
    SELECT vec_id, sub, code, dist FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                ORDER BY dist ASC, code ASC) AS r FROM scored)
    WHERE r = 1
    """,
)
def pq_codes(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import pq_encode

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return pq_encode(e, m=4, n_codes=16)


# Asymmetric n-gram containment (Broder 1997's second resemblance): the
# quote / wrapped-boilerplate detector Jaccard misses — a short doc fully
# embedded in a long one has low Jaccard but containment 1.0. Injected
# 30-word prefixes guarantee such pairs at every SF. Same inverted-index
# join + stop-shingle guard as jaccard_pairs: shingle-bucketed, never
# all-pairs.
@_q(
    "containment_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 1000000000000 AS doc_id,
             array_to_string(list_slice({_SQL_WORDS}, 1, 30), ' ') AS text
      FROM documents WHERE doc_id < 150 AND doc_id % 6 = 0),
    sh AS (SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM base))),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
               FROM sh a JOIN sh b USING (shingle)
               WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(c / sa.n_sh, 6) AS containment
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
    WHERE round(c / sa.n_sh, 6) >= 0.6
    """,
)
def containment_pairs_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        containment_pairs,
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select("doc_id", "text")
    inj = d.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(normalized_words(), 1, 30)).alias("text"),
    )
    return containment_pairs(d.unionByName(inj), n=3, threshold=0.6)


# Per-host dominant language + per-doc agreement flag — the language-
# targeted-crawl steering signal (should this host stay in an en-only
# frontier?). Two hash aggs + a broadcast join on the host-sized majority
# table; counts get map-side partials, the doc side never shuffles.
@_q(
    "host_lang_majority",
    """
    WITH counts AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY source, lang),
    maj AS (SELECT source, lang AS majority_lang, n AS majority_n FROM (
      SELECT source, lang, n,
             row_number() OVER (PARTITION BY source
                                ORDER BY n DESC, lang ASC) AS r
      FROM counts) WHERE r = 1)
    SELECT d.doc_id, d.source, d.lang, m.majority_lang, m.majority_n,
           (d.lang = m.majority_lang) AS matches_majority
    FROM documents d JOIN maj m USING (source)
    """,
)
def host_lang_majority(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    maj = (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("source", F.col("lang").alias("majority_lang"), F.col("n").alias("majority_n"))
    )
    return (
        d.select("doc_id", "source", "lang")
        .join(F.broadcast(maj), "source")
        .select(
            "doc_id", "source", "lang", "majority_lang", "majority_n",
            (F.col("lang") == F.col("majority_lang")).alias("matches_majority"),
        )
    )


# Greedy k-center (farthest-point) diversity sample — the coreset /
# curriculum primitive (Gonzalez 1985 2-approximation). Each round is one
# full scan updating a running min-distance column + a distributed top-1;
# the chosen set is k broadcast literals, the corpus never shuffles. The
# oracle chains one CTE pair per round — the same exactness style as
# pagerank's 3-chained-CTE check.
@_q(
    "kcenter_sample",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 200),
    s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    m1 AS (SELECT e.vec_id, e.v, round(list_distance(e.v, s0.v), 6) AS md
           FROM e CROSS JOIN s0 WHERE e.vec_id <> s0.vec_id),
    p1 AS (SELECT vec_id, v, md FROM m1 ORDER BY md DESC, vec_id ASC LIMIT 1),
    m2 AS (SELECT m1.vec_id, m1.v,
                  least(m1.md, round(list_distance(m1.v, p1.v), 6)) AS md
           FROM m1 CROSS JOIN p1 WHERE m1.vec_id <> p1.vec_id),
    p2 AS (SELECT vec_id, v, md FROM m2 ORDER BY md DESC, vec_id ASC LIMIT 1),
    m3 AS (SELECT m2.vec_id, m2.v,
                  least(m2.md, round(list_distance(m2.v, p2.v), 6)) AS md
           FROM m2 CROSS JOIN p2 WHERE m2.vec_id <> p2.vec_id),
    p3 AS (SELECT vec_id, v, md FROM m3 ORDER BY md DESC, vec_id ASC LIMIT 1)
    SELECT vec_id, CAST(0 AS INT) AS pick, 0.0 AS dist FROM s0
    UNION ALL SELECT vec_id, CAST(1 AS INT), md FROM p1
    UNION ALL SELECT vec_id, CAST(2 AS INT), md FROM p2
    UNION ALL SELECT vec_id, CAST(3 AS INT), md FROM p3
    """,
)
def kcenter_sample_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sampling import kcenter_sample

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return kcenter_sample(e, k=4)


# Sparse TF-IDF cosine pairs via inverted-index join (Bayardo et al. 2007's
# all-pairs-similarity shape) — the lexical complement of embedding-cosine
# near-dup: docs sharing no token never meet, max_df caps hot-term buckets.
# Weights rounded to 6 BEFORE products and norms so both engines sum the
# same numbers.
@_q(
    "tfidf_cosine_pairs",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_WORDS}) AS token
                 FROM documents WHERE doc_id < 120),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token <> '' GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok
              WHERE token <> '' GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 120),
    wts AS (SELECT tf.doc_id, tf.token,
                   round(tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS w
            FROM tf JOIN dfreq USING (token), n),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM wts GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
             FROM wts a JOIN wts b USING (token)
             WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.75
    """,
)
def tfidf_cosine_pairs_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import tfidf_cosine_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return tfidf_cosine_pairs(d, threshold=0.75)


# GPS-EXIF location PII: detect + decode + scrub in one Arrow-batched pass
# (functions/exif.py gps_scrub). The image side of pii_detect/pii_redact:
# LAION-style pipelines must strip location EXIF before release. The Spark
# leg builds REAL TIFF blobs (alternating endianness) with a spec-compliant
# GPS sub-IFD (RATIONAL DMS triples), parses them back, and scrubs them
# size-preservingly; the oracle re-derives coordinates closed-form from the
# same key arithmetic — the binary round trip is what's actually under test.
# scrub_clean / size_unchanged are computed from the scrubbed bytes and the
# oracle pins them uniformly TRUE.
@_q(
    "exif_gps_scrub",
    """
    SELECT CAST(p_partkey AS VARCHAR) AS image_id,
           (p_partkey % 7 <> 0 AND p_partkey % 4 = 0) AS has_gps,
           CASE WHEN p_partkey % 7 <> 0 AND p_partkey % 4 = 0
                THEN round(-60 + (p_partkey % 120) + 0.5, 6) END AS lat,
           CASE WHEN p_partkey % 7 <> 0 AND p_partkey % 4 = 0
                THEN round(-150 + (p_partkey % 300) + 0.25, 6) END AS lon,
           TRUE AS scrub_clean,
           TRUE AS size_unchanged
    FROM part
    """,
)
def exif_gps_scrub(spark, sf_dir):
    import pandas as pd

    from etherscan_contract_crawler_spark.functions.exif import (
        attach_gps, encode_tiff_exif, gps_scrub,
    )

    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for k in pdf["k"]:
                k = int(k)
                ids.append(str(k))
                if k % 7 == 0:
                    blobs.append(b"not an image at all")
                    continue
                t = encode_tiff_exif(
                    {"make": f"Cam{k % 5}", "orientation": 1 + k % 8,
                     "width": 640 + (k % 7) * 160},
                    big_endian=bool(k % 2),
                )
                if k % 4 == 0:
                    t = attach_gps(t, -60 + (k % 120) + 0.5, -150 + (k % 300) + 0.25)
                blobs.append(t)
            yield pd.DataFrame({"image_id": ids, "bytes": blobs})

    imgs = p.mapInPandas(synth, "image_id string, bytes binary")
    return gps_scrub(imgs)


# hreflang language-variant extraction (functions/html.py
# hreflang_alternates): the publisher's multilingual dedup signal — a
# crawler targeting one language skips the variants, a caption-alignment
# pipeline groups them. Synthesized pages exercise attribute order, quote
# style, tag case, and two decoy classes (hreflang without rel=alternate;
# alternate without hreflang); the oracle re-derives rows closed-form from
# the residue arithmetic, so the regex lift is what's under test.
@_q(
    "hreflang_extract",
    """
    WITH k AS (SELECT o_orderkey AS url_id, o_orderkey % 5 AS m,
                      CAST(o_orderkey AS VARCHAR) AS ks FROM orders)
    SELECT url_id, 'en' AS lang, '/p/' || ks || '?lang=en' AS href,
           CAST(3 AS INT) AS n_alternates FROM k WHERE m = 0
    UNION ALL
    SELECT url_id, 'de', '/p/' || ks || '?lang=de', CAST(3 AS INT)
    FROM k WHERE m = 0
    UNION ALL
    SELECT url_id, 'x-default', '/p/' || ks, CAST(3 AS INT) FROM k WHERE m = 0
    UNION ALL
    SELECT url_id, 'fr-ca', 'https://fr.example.com/p/' || ks, CAST(1 AS INT)
    FROM k WHERE m = 1
    """,
)
def hreflang_extract(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import hreflang_alternates

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    m = k % 5
    ks = k.cast("string")
    body = (
        # 0: three variants — double quotes, single quotes, bare attrs
        F.when(m == 0, F.concat(
            F.lit('<link rel="alternate" hreflang="en" href="/p/'), ks,
            F.lit('?lang=en"><link hreflang=\'de\' rel=\'alternate\' href=\'/p/'),
            ks, F.lit("?lang=de'><LINK REL=ALTERNATE HREFLANG=x-default HREF=/p/"),
            ks, F.lit(">")))
        # 1: attr order swapped, uppercase BCP 47 tag -> lowercased
        .when(m == 1, F.concat(
            F.lit('<link href="https://fr.example.com/p/'), ks,
            F.lit('" hreflang="FR-CA" rel="alternate">')))
        # 2: decoys — hreflang on a stylesheet; alternate RSS w/o hreflang
        .when(m == 2, F.concat(
            F.lit('<link rel="stylesheet" hreflang="en" href="/x.css">'),
            F.lit('<link rel="alternate" type="application/rss+xml" href="/feed">')))
        .otherwise(F.lit("<p>no links</p>"))
    )
    alts = o.select(k.alias("url_id"), hreflang_alternates(body).alias("alts"))
    return (
        alts.filter(F.size("alts") > 0)
        .select("url_id", F.size("alts").cast("int").alias("n_alternates"),
                F.explode("alts").alias("a"))
        .select("url_id", F.col("a.lang").alias("lang"),
                F.col("a.href").alias("href"), "n_alternates")
    )


# Sliding-window error-spike alert — the crawl-ops health monitor (a host
# whose fetch errors cluster in time gets backed off before it poisons the
# schedule). One exchange on the key; the trailing RANGE frame streams
# within each partition, so the plan is a single pass at any scale. Both
# engines frame over the SAME floored epoch-second integer, making the
# window arithmetic engine-exact.
@_q(
    "error_spike_alert",
    """
    SELECT event_id, user_id, ts_s, errs_1h, errs_1h >= 3 AS alert FROM (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS errs_1h
      FROM events WHERE event_type = 'error')
    """,
)
def error_spike_alert(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    e = e.select("event_id", "user_id", F.unix_timestamp("ts").alias("ts_s"))
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600, 0)
    return (
        e.withColumn("errs_1h", F.count("*").over(w))
        .select("event_id", "user_id", "ts_s", "errs_1h",
                (F.col("errs_1h") >= 3).alias("alert"))
    )


# Gopher quality rules (Rae et al. 2021 A1.1 — analytics/text.py
# gopher_rules): word-count bounds, mean-word-length 3-10, <10% symbol
# words, >=80% alphabetic words, bullet/ellipsis line caps, >=2 distinct
# stop words. Every ratio is an integer cross-multiplication so the keep
# verdict hashes identically vs DuckDB. Synth branches per doc_id%7 fire
# the symbol, word-count, bullet, and ellipsis failure paths explicitly.
@_q(
    "gopher_rules",
    """
    WITH p AS (
      SELECT doc_id,
        CASE doc_id % 7
          WHEN 0 THEN repeat('ok the word and #tag ', 30)
          WHEN 1 THEN 'short text the and'
          WHEN 2 THEN '- the alpha beta' || chr(10) ||
                      '- and gamma delta' || chr(10) || '- epsilon zeta eta'
          WHEN 3 THEN text || chr(10) || 'Read more...' || chr(10) ||
                      'Click here to continue reading this article...'
          ELSE text END AS t
      FROM documents),
    w AS (
      SELECT doc_id, t,
        string_split(trim(regexp_replace(t, '\\s+', ' ', 'g')), ' ')
          AS words,
        string_split(t, chr(10)) AS ls
      FROM p),
    m AS (
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0)
             AS BIGINT) AS char_sum,
        CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
             AS BIGINT) AS alpha_words,
        CAST(len(list_filter(words,
               x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT)
          AS sym_words,
        CAST(CAST(list_contains(list_transform(words, x -> lower(x)), 'the') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'be') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'to') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'of') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'and') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'that') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'have') AS INT)
           + CAST(list_contains(list_transform(words, x -> lower(x)), 'with') AS INT)
             AS BIGINT) AS n_stop,
        CAST(len(ls) AS BIGINT) AS n_lines,
        CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*]')))
             AS BIGINT) AS bullet_lines,
        CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '\\.\\.\\.$')))
             AS BIGINT) AS ellipsis_lines
      FROM w)
    SELECT *, (n_words BETWEEN 50 AND 100000
               AND char_sum >= 3 * n_words AND char_sum <= 10 * n_words
               AND 10 * alpha_words >= 8 * n_words
               AND 10 * sym_words < n_words
               AND 10 * bullet_lines < 9 * n_lines
               AND 10 * ellipsis_lines < 3 * n_lines
               AND n_stop >= 2) AS keep
    FROM m
    """,
)
def gopher_rules_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import gopher_rules

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    t = (
        F.when(m == 0, F.repeat(F.lit("ok the word and #tag "), 30))
        .when(m == 1, F.lit("short text the and"))
        .when(m == 2, F.lit("- the alpha beta\n- and gamma delta"
                            "\n- epsilon zeta eta"))
        .when(m == 3, F.concat(
            F.col("text"),
            F.lit("\nRead more...\nClick here to continue reading"
                  " this article...")))
        .otherwise(F.col("text"))
    )
    return gopher_rules(d.select("doc_id", t.alias("text")))


# Image-text pair harvesting (functions/html.py img_candidates): the
# LAION/CommonPool construction primitive — every <img> yields the bare
# src (HTML-spec '1x' default) plus each srcset entry with its descriptor,
# all carrying the tag's alt text. Synth pages exercise: plain img+alt,
# 3-entry srcset, single-quoted attrs in swapped order, empty-alt → NULL,
# a <imgx> decoy the \b boundary must reject, and no-img pages (no rows).
@_q(
    "img_alt_srcset",
    """
    WITH d0 AS (
      SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS ds, doc_id % 6 AS m
      FROM documents),
    h AS (
      SELECT doc_id,
        CASE m
          WHEN 1 THEN '<p>intro</p><img src="/a' || ds || '.jpg"'
                      || ' alt="first image ' || ds || '">'
          WHEN 2 THEN '<img src="/hero' || ds || '.png" srcset="/hero'
                      || ds || '-s.png 1x, /hero' || ds
                      || '-m.png 2x, /hero' || ds
                      || '-l.png 640w" alt="hero ' || ds || '">'
          WHEN 3 THEN '<img alt=''single ' || ds || ''' src=''/sq'
                      || ds || '.gif''>'
          WHEN 4 THEN '<img src="/bare' || ds
                      || '.webp"><imgx src="/no.jpg"><img src="/c'
                      || ds || '.webp" alt="">'
          WHEN 5 THEN '<img data-src="/lazy' || ds
                      || '.jpg" data-srcset="/lazy' || ds
                      || '-m.jpg 2x" alt="lazy ' || ds || '">'
          ELSE '<p>no images</p>' END AS body
      FROM d0),
    t AS (
      SELECT doc_id, regexp_extract_all(body, '(?i)<img\\b[^>]*>') AS tags
      FROM h),
    x AS (
      SELECT doc_id, tags,
             unnest(generate_series(1, len(tags))) AS img_idx
      FROM t),
    b AS (
      SELECT doc_id, img_idx, tags[img_idx] AS tag FROM x),
    a AS (
      SELECT doc_id, img_idx,
        CASE WHEN regexp_extract(tag,
               '(?i)\\ssrc\\s*=\\s*["'']([^"'']*)["'']', 1) <> ''
             THEN regexp_extract(tag,
               '(?i)\\ssrc\\s*=\\s*["'']([^"'']*)["'']', 1)
             ELSE regexp_extract(tag,
               '(?i)\\sdata-src\\s*=\\s*["'']([^"'']*)["'']', 1) END AS src,
        regexp_extract(tag, '(?i)\\salt\\s*=\\s*"([^"]*)"', 1) AS alt_dq,
        regexp_extract(tag, '(?i)\\salt\\s*=\\s*''([^'']*)''', 1) AS alt_sq,
        CASE WHEN regexp_extract(tag,
               '(?i)\\ssrcset\\s*=\\s*"([^"]*)"', 1) <> ''
             THEN regexp_extract(tag, '(?i)\\ssrcset\\s*=\\s*"([^"]*)"', 1)
             ELSE regexp_extract(tag,
               '(?i)\\sdata-srcset\\s*=\\s*"([^"]*)"', 1) END AS srcset
      FROM b),
    c AS (
      SELECT doc_id, img_idx,
        CASE WHEN alt_dq <> '' THEN alt_dq
             WHEN alt_sq <> '' THEN alt_sq END AS alt,
        list_concat(
          CASE WHEN src <> '' THEN
            [{'url': src, 'descr': '1x', 'from_srcset': false}]
          ELSE [] END,
          CASE WHEN srcset <> '' THEN
            list_transform(string_split(srcset, ','), cand ->
              {'url': string_split_regex(trim(cand), '\\s+')[1],
               'descr': coalesce(string_split_regex(trim(cand), '\\s+')[2],
                                 '1x'),
               'from_srcset': true})
          ELSE [] END) AS cands
      FROM a),
    e AS (SELECT doc_id, img_idx, alt, unnest(cands) AS cand FROM c)
    SELECT doc_id, CAST(img_idx AS INT) AS img_idx, cand.url AS url,
           cand.descr AS descr, alt, cand.from_srcset AS from_srcset
    FROM e
    """,
)
def img_alt_srcset(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import (
        img_candidates,
    )

    d = _t(spark, sf_dir, "documents")
    ds = (F.col("doc_id") % 97).cast("string")
    m = F.col("doc_id") % 6
    body = (
        F.when(m == 1, F.concat(
            F.lit('<p>intro</p><img src="/a'), ds, F.lit('.jpg"'),
            F.lit(' alt="first image '), ds, F.lit('">')))
        .when(m == 2, F.concat(
            F.lit('<img src="/hero'), ds, F.lit('.png" srcset="/hero'),
            ds, F.lit('-s.png 1x, /hero'), ds,
            F.lit('-m.png 2x, /hero'), ds,
            F.lit('-l.png 640w" alt="hero '), ds, F.lit('">')))
        .when(m == 3, F.concat(
            F.lit("<img alt='single "), ds, F.lit("' src='/sq"),
            ds, F.lit(".gif'>")))
        .when(m == 4, F.concat(
            F.lit('<img src="/bare'), ds,
            F.lit('.webp"><imgx src="/no.jpg"><img src="/c'),
            ds, F.lit('.webp" alt="">')))
        .when(m == 5, F.concat(
            F.lit('<img data-src="/lazy'), ds,
            F.lit('.jpg" data-srcset="/lazy'), ds,
            F.lit('-m.jpg 2x" alt="lazy '), ds, F.lit('">')))
        .otherwise(F.lit("<p>no images</p>"))
    )
    return d.select(
        "doc_id", F.explode(img_candidates(body)).alias("c")
    ).select(
        "doc_id", "c.img_idx", "c.url", "c.descr", "c.alt", "c.from_srcset"
    )


# Flagship image-curation pipeline — the image-axis analog of
# corpus_curation, composed the way a LAION-style builder would run it:
# harvest <img> candidates (functions/html.py img_candidates, incl. lazy
# data-src) -> pick the densest source per img (argmax over the descriptor
# rank, one struct-max agg) -> fetch payloads (deterministic synth; two
# injected failure branches: magic stripped -> MIME gate drop, truncated
# body -> decode gate drop, plus solid-color payloads the entropy gate
# drops) -> magic-byte MIME gate (functions/media.py sniff_mime) -> FUSED
# single-decode quality gates + phash (operators/validate.py
# image_quality_gates) -> exact-phash canonical keep (min image_id per
# hash group). Rows-only: the decode stages aren't SQL; pytest pins
# partition invariance and that every gate branch fires
# (tests/test_images.py).
@_q("image_curation")
def image_curation(spark, sf_dir):
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etherscan_contract_crawler_spark.functions.html import (
        img_candidates,
    )
    from etherscan_contract_crawler_spark.functions.images import encode_png
    from etherscan_contract_crawler_spark.functions.media import sniff_mime
    from etherscan_contract_crawler_spark.operators.validate import (
        image_quality_gates,
    )
    from etherscan_contract_crawler_spark.sources.synthetic import (
        payload_for_key,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    ks = (F.col("doc_id") % 24).cast("string")
    m = F.col("doc_id") % 4
    body = (
        F.when(m == 0, F.concat(
            F.lit('<img src="/cat'), ks, F.lit('.png" alt="cat '), ks,
            F.lit('">')))
        .when(m == 1, F.concat(
            F.lit('<img src="/dog'), ks, F.lit('-s.png" srcset="/dog'),
            ks, F.lit('-s.png 1x, /dog'), ks,
            F.lit('-m.png 2x" alt="dog">')))
        .when(m == 2, F.concat(
            F.lit('<img data-src="/lzy'), ks, F.lit('.png" alt="lazy">')))
        .otherwise(F.concat(
            F.lit('<img src="/a'), ks, F.lit('.png"><img src="/b'), ks,
            F.lit('.png">')))
    )
    cand = d.select(
        "doc_id", F.explode(img_candidates(body)).alias("c")
    ).select(
        "doc_id", "c.img_idx", "c.url", "c.descr",
    )
    num = F.regexp_extract("descr", "^([0-9]+)", 1).cast("long")
    rank = F.when(F.col("descr").endswith("x"), num * 1000).otherwise(num)
    urls = (
        cand.groupBy("doc_id", "img_idx")
        .agg(F.max(F.struct(rank.alias("r"),
                            F.col("url").alias("url"))).alias("b"))
        .select(F.col("b.url").alias("url"))
        .distinct()
    )
    imgs = urls.select("url", F.sha1(F.col("url")).alias("image_id"))

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, us, blobs = [], [], []
            for r in pdf.itertuples(index=False):
                b = payload_for_key(r.image_id)["bytes"]
                hv = int(r.image_id[:4], 16)
                if hv % 11 == 0:
                    b = b[4:60]        # magic stripped -> MIME gate drop
                elif hv % 11 == 1:
                    b = b[:15]         # magic intact, body gone -> decode drop
                elif hv % 11 == 2:     # solid color -> entropy/flat drop
                    b = encode_png(
                        np.full((16, 16, 3), hv % 256, dtype=np.uint8))
                ids.append(r.image_id)
                us.append(r.url)
                blobs.append(b)
            yield pd.DataFrame({"image_id": ids, "url": us, "bytes": blobs})

    fetched = imgs.mapInPandas(
        fetch, "image_id string, url string, bytes binary")
    mimed = fetched.withColumn("mime", sniff_mime(F.col("bytes")))
    ok = mimed.filter(F.col("mime").startswith("image/"))
    # keep_cols passthrough, NOT a join back to `ok` — a self-join here
    # makes Spark recompute the whole harvest+fetch subtree for the
    # second arm (caught in the plan audit, PLANS.md)
    gated = image_quality_gates(ok, keep_cols=("url", "mime")).filter("keep")
    return (
        gated.groupBy("phash")
        .agg(
            F.min("image_id").alias("image_id"),
            F.min_by("url", "image_id").alias("url"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .select("image_id", "url", "phash", "n_copies")
    )


# CommonPool/LAION-style caption quality gate (analytics/text.py
# caption_quality): the text-side filters for image-text pairs — filename
# alts, too short/long, single-word, mostly non-alphabetic — applied
# before any CLIP-scoring is paid for. Integer cross-multiplied ratios,
# anchored filename regex identical in both engines.
@_q(
    "caption_filter",
    """
    WITH a AS (
      SELECT doc_id,
        CASE doc_id % 7
          WHEN 0 THEN 'a tabby cat sitting on a windowsill '
                      || CAST(doc_id % 97 AS VARCHAR)
          WHEN 1 THEN 'IMG_' || lpad(CAST(doc_id % 97 AS VARCHAR), 4, '0')
                      || '.jpg'
          WHEN 2 THEN 'ok'
          WHEN 3 THEN '12345 67890 33333'
          WHEN 4 THEN 'photo-' || CAST(doc_id % 97 AS VARCHAR) || '.webp'
          WHEN 5 THEN 'landscape'
          ELSE repeat('very long caption ', 15) END AS alt
      FROM documents)
    SELECT doc_id, alt,
      CAST(length(alt) AS BIGINT) AS n_chars,
      CAST(len(list_filter(string_split_regex(alt, '\\s+'),
                           x -> x <> '')) AS BIGINT) AS n_words,
      CAST(length(regexp_replace(alt, '[^A-Za-z]', '', 'g'))
           AS BIGINT) AS n_alpha,
      regexp_matches(alt,
        '(?i)^[\\w.-]+\\.(jpe?g|png|gif|webp|bmp|tiff?)$') AS is_filename,
      (length(alt) BETWEEN 5 AND 200
       AND len(list_filter(string_split_regex(alt, '\\s+'),
                           x -> x <> '')) >= 2
       AND NOT regexp_matches(alt,
         '(?i)^[\\w.-]+\\.(jpe?g|png|gif|webp|bmp|tiff?)$')
       AND 2 * length(regexp_replace(alt, '[^A-Za-z]', '', 'g'))
           >= length(alt)) AS keep
    FROM a
    """,
)
def caption_filter(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import (
        caption_quality,
    )

    d = _t(spark, sf_dir, "documents")
    ds = (F.col("doc_id") % 97).cast("string")
    m = F.col("doc_id") % 7
    alt = (
        F.when(m == 0, F.concat(
            F.lit("a tabby cat sitting on a windowsill "), ds))
        .when(m == 1, F.concat(
            F.lit("IMG_"), F.lpad(ds, 4, "0"), F.lit(".jpg")))
        .when(m == 2, F.lit("ok"))
        .when(m == 3, F.lit("12345 67890 33333"))
        .when(m == 4, F.concat(F.lit("photo-"), ds, F.lit(".webp")))
        .when(m == 5, F.lit("landscape"))
        .otherwise(F.repeat(F.lit("very long caption "), 15))
    )
    return caption_quality(d.select("doc_id", alt.alias("alt")))


# Magic-byte MIME sniffing (functions/media.py sniff_mime): declared
# Content-Type vs sniffed-from-bytes, the lying-server gate a crawler needs
# before paying decode cost. Payloads are synthesized as hex CASE arms over
# doc_id (PNG/JPEG/GIF/WEBP/WAV/HTML/PDF/junk, three arms declaring a LIE);
# Spark sniffs real binary via hex(substring(bytes,1,20)) prefix tests in
# codegen, the oracle re-derives from the same hex string with starts_with —
# structurally the same logic, no shared shortcut through m.
_MIME_HX = """CASE {m}
      WHEN 0 THEN '89504E470D0A1A0A0000000D49484452'
      WHEN 1 THEN 'FFD8FFE000104A46'
      WHEN 2 THEN '4749463839610A00'
      WHEN 3 THEN '52494646240000005745425056503820'
      WHEN 4 THEN '52494646240000005741564520666D74'
      WHEN 5 THEN '3C68746D6C3E3C626F64793E'
      WHEN 6 THEN '255044462D312E34'
      ELSE '0001020304050607' END"""
_MIME_DECL = """CASE {m}
      WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/png'
      WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/webp'
      WHEN 4 THEN 'audio/wav' WHEN 5 THEN 'image/jpeg'
      WHEN 6 THEN 'application/pdf' ELSE 'image/png' END"""


@_q(
    "mime_sniff",
    f"""
    WITH p AS (
      SELECT doc_id,
             {_MIME_HX.format(m="doc_id % 8")} AS hx,
             {_MIME_DECL.format(m="doc_id % 8")} AS declared
      FROM documents)
    SELECT doc_id, declared,
      CASE
        WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'image/png'
        WHEN starts_with(hx, 'FFD8FF') THEN 'image/jpeg'
        WHEN starts_with(hx, '47494638') THEN 'image/gif'
        WHEN starts_with(hx, '25504446') THEN 'application/pdf'
        WHEN starts_with(hx, '1F8B') THEN 'application/gzip'
        WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '57454250'
          THEN 'image/webp'
        WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '57415645'
          THEN 'audio/wav'
        WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '41564920'
          THEN 'video/avi'
        WHEN starts_with(hx, '3C') OR starts_with(hx, 'EFBBBF3C')
          THEN 'text/html'
        ELSE 'application/octet-stream' END AS sniffed,
      (declared <> CASE
        WHEN starts_with(hx, '89504E470D0A1A0A') THEN 'image/png'
        WHEN starts_with(hx, 'FFD8FF') THEN 'image/jpeg'
        WHEN starts_with(hx, '47494638') THEN 'image/gif'
        WHEN starts_with(hx, '25504446') THEN 'application/pdf'
        WHEN starts_with(hx, '1F8B') THEN 'application/gzip'
        WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '57454250'
          THEN 'image/webp'
        WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '57415645'
          THEN 'audio/wav'
        WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '41564920'
          THEN 'video/avi'
        WHEN starts_with(hx, '3C') OR starts_with(hx, 'EFBBBF3C')
          THEN 'text/html'
        ELSE 'application/octet-stream' END) AS mismatch
    FROM p
    """,
)
def mime_sniff_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.media import sniff_mime

    d = _t(spark, sf_dir, "documents")
    m = "CAST(doc_id % 8 AS INT)"
    payload = F.unhex(F.expr(_MIME_HX.format(m=m)))
    declared = F.expr(_MIME_DECL.format(m=m))
    sniffed = sniff_mime(payload)
    return d.select(
        "doc_id",
        declared.alias("declared"),
        sniffed.alias("sniffed"),
        (declared != sniffed).alias("mismatch"),
    )


# Hashed-linear quality classifier (analytics/text.py hashed_quality_score):
# the CCNet/fastText pattern — tokens hash into 256 buckets, each bucket
# carries a fixed centi-weight, keep = non-negative total. md5-hex-digit
# bucketing + integer centi-sums make the hash and the score bit-identical
# in both engines (no float, no integer division).
@_q(
    "hashed_quality_score",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents)
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(coalesce(list_sum(list_transform(toks, t ->
          (16 * (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1)
             + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1))
          * 37 % 101 - 50)), 0) AS BIGINT) AS score_centi,
      (len(toks) > 0 AND coalesce(list_sum(list_transform(toks, t ->
          (16 * (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1)
             + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1))
          * 37 % 101 - 50)), 0) >= 0) AS keep
    FROM t
    """,
)
def hashed_quality_score_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import (
        hashed_quality_score,
    )

    return hashed_quality_score(_t(spark, sf_dir, "documents"))


# Image channel-stats quality gate (operators/validate.py channel_stats):
# decoded-pixel per-channel means, dynamic range, 8-bin luma entropy, and
# the LAION-style keep verdict that drops solid-color placeholders and
# undecodable payloads before perceptual hashing is paid for. Rows-only
# (binary codecs aren't SQL); the synth mixes real generator payloads with
# injected solid-color and corrupt payloads so every verdict branch fires.
@_q("image_channel_stats")
def image_channel_stats(spark, sf_dir):
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etherscan_contract_crawler_spark.functions.images import encode_png
    from etherscan_contract_crawler_spark.operators.validate import (
        channel_stats,
    )
    from etherscan_contract_crawler_spark.sources.synthetic import (
        payload_for_key,
    )

    keys = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(
            F.sha1(F.col("doc_id").cast("string")).alias("key"),
            (F.col("doc_id") % 8).alias("m"),
        )
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for r in pdf.itertuples(index=False):
                p = payload_for_key(r.key)
                ids.append(p["image_id"])
                if r.m == 0:  # solid-color placeholder -> flat
                    shade = int(r.key[:2], 16)
                    blobs.append(encode_png(
                        np.full((16, 16, 3), shade, dtype=np.uint8)))
                elif r.m == 1:  # corrupt payload -> NULL stats, keep=false
                    blobs.append(p["bytes"][:20])
                else:
                    blobs.append(p["bytes"])
            yield pd.DataFrame({"image_id": ids, "bytes": blobs})

    images = keys.mapInPandas(gen, schema="image_id string, bytes binary")
    return channel_stats(images)


# Blur/sharpness gate (operators/validate.py blur_gate): integer-quantized
# variance-of-Laplacian over decoded luma — the LAION-style focus measure
# that drops out-of-focus and upscale-interpolated images before training.
# Rows-only (binary codecs aren't SQL); the synth mixes textured generator
# payloads (sharp) with a smooth gradient (decodable but blurry), a 3x3
# box-blurred copy (measurably softer than its original), and a corrupt
# payload (NULL stats) so every verdict branch fires.
@_q("image_blur_gate")
def image_blur_gate(spark, sf_dir):
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etherscan_contract_crawler_spark.functions.images import (
        decode_image,
        encode_png,
    )
    from etherscan_contract_crawler_spark.operators.validate import blur_gate
    from etherscan_contract_crawler_spark.sources.synthetic import (
        payload_for_key,
    )

    keys = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(
            F.sha1(F.col("doc_id").cast("string")).alias("key"),
            (F.col("doc_id") % 8).alias("m"),
        )
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for r in pdf.itertuples(index=False):
                p = payload_for_key(r.key)
                ids.append(p["image_id"])
                if r.m == 0:  # smooth gradient -> decodable but blurry
                    ramp = np.linspace(0, 255, 24, dtype=np.uint8)
                    blobs.append(encode_png(
                        np.broadcast_to(
                            ramp[None, :, None], (24, 24, 3)
                        ).copy()))
                elif r.m == 1:  # corrupt payload -> NULL stats, keep=false
                    blobs.append(p["bytes"][:20])
                elif r.m == 2:  # 3x3 box blur of the generator payload
                    px = decode_image(p["bytes"]).astype(np.int64)
                    acc = np.zeros_like(px[1:-1, 1:-1])
                    for dy in (0, 1, 2):
                        for dx in (0, 1, 2):
                            acc += px[dy:px.shape[0] - 2 + dy,
                                      dx:px.shape[1] - 2 + dx]
                    blobs.append(encode_png((acc // 9).astype(np.uint8)))
                else:
                    blobs.append(p["bytes"])
            yield pd.DataFrame({"image_id": ids, "bytes": blobs})

    images = keys.mapInPandas(gen, schema="image_id string, bytes binary")
    return blur_gate(images)


# UT1/Dolma-style domain blocklist (functions/urls.py blocklist_match): a
# host is blocked when it equals a blocklist entry or sits under one on a
# dot boundary (never substring — notexample.com must survive). The frontier
# side never shuffles on a blocklist key: hosts explode into bounded
# dot-suffix chains and probe the BROADCAST entry set. Synth hosts carry 0-2
# subdomain labels so the oracle exercises exact, one-level, and two-level
# suffix matches plus the e.com-vs-le.com substring trap.
@_q(
    "blocklist_filter",
    """
    WITH b AS (
      SELECT * FROM (VALUES ('site00003.example.com'),
                            ('cdn.site00007.example.com'),
                            ('site00013.example.com')) AS v(entry)),
    h AS (
      SELECT DISTINCT
        CASE o_orderkey % 3 WHEN 1 THEN 'cdn.' WHEN 2 THEN 'a.b.'
             ELSE '' END
        || 'site' || lpad(CAST(o_custkey % 20 AS VARCHAR), 5, '0')
        || '.example.com' AS host
      FROM orders)
    SELECT host,
      EXISTS(SELECT 1 FROM b
             WHERE h.host = b.entry OR h.host LIKE '%.' || b.entry)
        AS blocked,
      (SELECT min(entry) FROM b
       WHERE h.host = b.entry OR h.host LIKE '%.' || b.entry) AS matched
    FROM h
    """,
)
def blocklist_filter(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.urls import blocklist_match

    o = _t(spark, sf_dir, "orders")
    site = F.concat(
        F.lit("site"),
        F.lpad((F.col("o_custkey") % 20).cast("string"), 5, "0"),
        F.lit(".example.com"),
    )
    m = F.col("o_orderkey") % 3
    host = (
        F.when(m == 1, F.concat(F.lit("cdn."), site))
        .when(m == 2, F.concat(F.lit("a.b."), site))
        .otherwise(site)
    )
    hosts = o.select(host.alias("host")).distinct()
    bl = spark.createDataFrame(
        [("site00003.example.com",), ("cdn.site00007.example.com",),
         ("site00013.example.com",)],
        ["entry"],
    )
    return blocklist_match(hosts, bl)


# C4-style rule-based cleaning (Raffel et al. 2020 §2.2 — analytics/text.py
# c4_clean): keep lines ending in terminal punctuation with >=5 words and no
# "javascript"; drop pages with "lorem ipsum", "{", or <3 kept lines. Synth
# composes a 5-7-line page per doc hitting every rule branch (short line,
# javascript line on doc_id%5, punctuation-free line, lorem on %11, code
# brace on %13); the oracle re-derives the rules in DuckDB list lambdas over
# the SAME composed text, so the filter logic is checked end-to-end.
@_q(
    "c4_filters",
    """
    WITH p AS (
      SELECT doc_id,
        concat_ws(chr(10),
          'Sentence one of doc ' || CAST(doc_id AS VARCHAR)
            || ' keeps enough words here.',
          'click here',
          CASE WHEN doc_id % 5 = 0
               THEN 'Please enable javascript to continue viewing this page.'
               ELSE 'Does this line have five words total?' END,
          substr(text, 1, 80),
          'Another full sentence appears right here at the end!',
          CASE WHEN doc_id % 11 = 0
               THEN 'Lorem ipsum dolor sit amet consectetur.' END,
          CASE WHEN doc_id % 13 = 0
               THEN 'var f = function() { return 1; };' END
        ) AS t
      FROM documents),
    k AS (
      SELECT doc_id, t, string_split(t, chr(10)) AS ls,
        list_filter(string_split(t, chr(10)), x ->
          regexp_matches(trim(regexp_replace(x, '\\s+', ' ', 'g')),
                         '[.!?"]$')
          AND len(string_split(
                trim(regexp_replace(x, '\\s+', ' ', 'g')), ' ')) >= 5
          AND NOT contains(
                lower(trim(regexp_replace(x, '\\s+', ' ', 'g'))),
                'javascript')) AS kept
      FROM p)
    SELECT doc_id,
      CAST(len(ls) AS BIGINT) AS n_lines,
      CAST(len(kept) AS BIGINT) AS n_kept_lines,
      contains(lower(t), 'lorem ipsum') AS has_lorem,
      contains(t, '{') AS has_code,
      (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
       AND NOT contains(t, '{')) AS keep,
      array_to_string(kept, chr(10)) AS kept_text
    FROM k
    """,
)
def c4_filters(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import c4_clean

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("Sentence one of doc "), did.cast("string"),
                 F.lit(" keeps enough words here.")),
        F.lit("click here"),
        F.when(
            did % 5 == 0,
            F.lit("Please enable javascript to continue viewing this page."),
        ).otherwise(F.lit("Does this line have five words total?")),
        F.substring(F.col("text"), 1, 80),
        F.lit("Another full sentence appears right here at the end!"),
        F.when(did % 11 == 0,
               F.lit("Lorem ipsum dolor sit amet consectetur.")),
        F.when(did % 13 == 0,
               F.lit("var f = function() { return 1; };")),
    )
    return c4_clean(d.select("doc_id", page.alias("text")))


# ------------------------------------------------- round-4 final batch
# (warc_pack / ip_politeness / frontier_gc / trustrank / token_dist_shift)

# WARC segment packing (analytics/packing.py:warc_pack): the Common-Crawl
# landing layout — per-shard numbered segment files with byte offsets, via
# ONE window exchange (running-max boundary trick). The oracle deliberately
# uses the naive second window (min per (shard, seg_idx) partition), so the
# single-exchange rewrite is exactly what this row verifies. Reference's
# closest analog: one file per contract (contract_crawler.py:242-248).
@_q(
    "warc_pack",
    """
    WITH rec AS (
      SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS url_key,
             CAST(o_orderkey % 8 AS INT) AS shard,
             CAST(1000 + o_orderkey % 9000 AS BIGINT) AS n_bytes
      FROM orders),
    c AS (SELECT *, COALESCE(SUM(n_bytes) OVER (
              PARTITION BY shard ORDER BY url_key
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM rec),
    s AS (SELECT *, cum_before // 250000 AS seg_idx FROM c)
    SELECT url_key, shard, n_bytes, CAST(seg_idx AS BIGINT) AS seg_idx,
           CAST(cum_before - min(cum_before) OVER (PARTITION BY shard, seg_idx)
                AS BIGINT) AS seg_offset
    FROM s
    """,
)
def warc_pack_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.packing import warc_pack

    o = _t(spark, sf_dir, "orders")
    rec = o.select(
        F.format_string("k%012d", F.col("o_orderkey")).alias("url_key"),
        (F.col("o_orderkey") % 8).cast("int").alias("shard"),
        (F.lit(1000) + F.col("o_orderkey") % 9000).cast("long").alias("n_bytes"),
    )
    return warc_pack(rec, segment_bytes=250_000)


# Per-IP politeness admission (operators/politeness.py:ip_admission): the
# budget layer below per-domain windows — virtual hosting means politeness
# is owed to the server. Resolver stub = md5(domain) prefix (prefix_len=1
# here: 16 crowded ip groups at sf0.01, so slots actually stack); the md5
# hex is engine-identical in Spark and DuckDB, making the whole admission
# window oracle-checkable end to end.
@_q(
    "ip_politeness",
    """
    WITH p AS (
      SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS url_key,
             'd' || CAST(o_custkey % 257 AS VARCHAR) AS domain,
             o_totalprice AS priority
      FROM orders),
    i AS (SELECT *, substr(md5(domain), 1, 1) AS ip_group FROM p),
    r AS (SELECT *, row_number() OVER (PARTITION BY ip_group
                                       ORDER BY priority DESC, url_key) AS rn
          FROM i)
    SELECT url_key, domain, ip_group, priority,
           CAST((rn - 1) // 4 AS INT) AS fetch_slot
    FROM r
    """,
)
def ip_politeness_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import ip_admission

    o = _t(spark, sf_dir, "orders")
    pending = o.select(
        F.format_string("k%012d", F.col("o_orderkey")).alias("url_key"),
        F.concat(F.lit("d"), (F.col("o_custkey") % 257).cast("string")).alias(
            "domain"
        ),
        F.col("o_totalprice").alias("priority"),
    )
    return ip_admission(pending, budget_per_ip=4, prefix_len=1)


# Frontier GC (operators/dedup.py:frontier_gc): compaction pass dropping
# seen + dead-lettered keys with a per-domain audit (kept / dropped_seen /
# dropped_dead) in ONE frontier scan — two marking LEFT joins + one hash
# agg, vs the naive two anti-joins + three counts. Seen wins precedence
# when a key is in both. Reference analog: addresses.difference(ignored)
# at startup (contract_crawler.py:466-468), minus the audit.
@_q(
    "frontier_gc",
    """
    WITH f AS (
      SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS url_key,
             'd' || CAST(o_custkey % 97 AS VARCHAR) AS domain
      FROM orders),
    seen AS (SELECT DISTINCT 'k' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS url_key
             FROM lineitem WHERE l_orderkey % 5 < 2),
    dead AS (SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS url_key
             FROM orders WHERE o_orderkey % 7 = 0)
    SELECT f.domain,
           CAST(sum(CASE WHEN s.url_key IS NULL AND d.url_key IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(CASE WHEN s.url_key IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS dropped_seen,
           CAST(sum(CASE WHEN s.url_key IS NULL AND d.url_key IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS dropped_dead
    FROM f
    LEFT JOIN seen s ON f.url_key = s.url_key
    LEFT JOIN dead d ON f.url_key = d.url_key
    GROUP BY f.domain
    """,
)
def frontier_gc_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.dedup import frontier_gc

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    key = F.format_string("k%012d", F.col("o_orderkey"))
    frontier = o.select(
        key.alias("url_key"),
        F.concat(F.lit("d"), (F.col("o_custkey") % 97).cast("string")).alias(
            "domain"
        ),
    )
    seen = li.filter("l_orderkey % 5 < 2").select(
        F.format_string("k%012d", F.col("l_orderkey")).alias("url_key")
    )
    dead = o.filter("o_orderkey % 7 = 0").select(key.alias("url_key"))
    return frontier_gc(frontier, seen, dead)


# TrustRank (analytics/graph.py:trustrank): seed-biased PageRank — teleport
# restricted to a trusted set (here ids % 17 = 0), the anti-spam priority
# signal. Same chained-CTE oracle pattern as pagerank_priority: three
# closed-form iterations DuckDB re-derives independently.
_TR_STEP_SQL = """
    r{k} AS (
      SELECT nodes.id, 0.15 * nodes.t + 0.85 * COALESCE(c.contrib, 0.0) AS tr
      FROM nodes
      LEFT JOIN (SELECT w.dst AS id, SUM(r{j}.tr * w.w) AS contrib
                 FROM w JOIN r{j} ON w.src = r{j}.id GROUP BY w.dst) c
        ON nodes.id = c.id
    )"""


@_q(
    "trustrank_scores",
    f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    n0 AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
    tc AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM n0 WHERE id % 17 = 0),
    nodes AS (SELECT id, CASE WHEN id % 17 = 0 THEN 1.0/tc.nt ELSE 0.0 END AS t
              FROM n0 CROSS JOIN tc),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
    w AS (SELECT e.src, e.dst, 1.0/d.outdeg AS w FROM edges e JOIN deg d ON e.src = d.src),
    r0 AS (SELECT id, t AS tr FROM nodes),
    {{0}},
    {{1}},
    {{2}}
    SELECT id, tr FROM r3
    """.format(
        _TR_STEP_SQL.format(k=1, j=0),
        _TR_STEP_SQL.format(k=2, j=1),
        _TR_STEP_SQL.format(k=3, j=2),
    ),
)
def trustrank_scores(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import trustrank

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % 3000).cast("long").alias("src"),
            (F.col("l_partkey") % 3000).cast("long").alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    trusted = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .filter("id % 17 = 0")
    )
    return trustrank(edges, trusted, iters=3)


# Token-distribution shift (analytics/text.py:token_dist_shift): per-source
# unigram KL divergence vs the corpus — the register/spam drift signal a
# curator reads before fixing sampling weights. kl rounded to 6 decimals in
# BOTH engines so float-summation order cannot flip the hash.
@_q(
    "token_dist_shift",
    f"""
    WITH toks AS (
      SELECT source AS grp, unnest({_SQL_WORDS}) AS tok FROM documents),
    t2 AS (SELECT grp, tok FROM toks WHERE tok <> ''),
    gt AS (SELECT grp, tok, CAST(count(*) AS BIGINT) AS c FROM t2 GROUP BY grp, tok),
    corpus AS (SELECT tok, SUM(c) AS cc FROM gt GROUP BY tok),
    ct AS (SELECT CAST(SUM(c) AS DOUBLE) AS ct FROM gt),
    g AS (SELECT gt.grp, gt.tok, gt.c,
                 SUM(gt.c) OVER (PARTITION BY gt.grp) AS gtot, corpus.cc
          FROM gt JOIN corpus ON gt.tok = corpus.tok)
    SELECT g.grp AS source, CAST(max(g.gtot) AS BIGINT) AS n_tokens,
           round(SUM((g.c / CAST(g.gtot AS DOUBLE))
                     * ln((g.c / CAST(g.gtot AS DOUBLE)) / (g.cc / ct.ct))),
                 6) AS kl_nats
    FROM g CROSS JOIN ct
    GROUP BY g.grp
    """,
)
def token_dist_shift_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import token_dist_shift

    d = _t(spark, sf_dir, "documents")
    return token_dist_shift(d.select("source", "text"))


# Depth-decayed per-domain admission (operators/politeness.py:depth_budget):
# BFS-shaped frontier spending — budget halves per path level
# (greatest(base >> depth, 1)), so deep pagination tails can't starve a
# domain's shallow, high-value pages. One exchange on (domain, depth).
@_q(
    "depth_budget",
    """
    WITH p AS (
      SELECT 'k' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS url_key,
             'd' || CAST(o_custkey % 61 AS VARCHAR) AS domain,
             repeat('/s', CAST(o_orderkey % 6 AS INT)) AS path,
             o_totalprice AS priority
      FROM orders),
    d AS (SELECT *, CAST(len(list_filter(string_split(path, '/'),
                                          x -> x <> '')) AS INT) AS depth
          FROM p),
    r AS (SELECT *, row_number() OVER (PARTITION BY domain, depth
                                       ORDER BY priority DESC, url_key) AS rn
          FROM d)
    SELECT url_key, domain, depth, priority, CAST(rn AS INT) AS rn,
           rn <= greatest(16 >> depth, 1) AS admitted
    FROM r
    """,
)
def depth_budget_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import depth_budget

    o = _t(spark, sf_dir, "orders")
    pending = o.select(
        F.format_string("k%012d", F.col("o_orderkey")).alias("url_key"),
        F.concat(F.lit("d"), (F.col("o_custkey") % 61).cast("string")).alias(
            "domain"
        ),
        F.repeat(F.lit("/s"), (F.col("o_orderkey") % 6).cast("int")).alias(
            "path"
        ),
        F.col("o_totalprice").alias("priority"),
    )
    return depth_budget(pending, base_budget=16)


# Mixture planning (analytics/sampling.py:mixture_plan): target shares →
# per-source sampling rate / repeat factor — the DoReMi/Pile bookkeeping
# between "30% web, 20% code" and an actual sampler. Weights are exact
# binary fractions (k/64) so floor(want) has no float boundary; broadcast
# dim join, zero shuffles past the upstream token counts.
@_q(
    "mixture_plan",
    """
    WITH st AS (
      SELECT source, CAST(SUM(n_chars // 4 + 1) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tgt(source, target_share) AS (VALUES
      ('src0', CAST(1 AS DOUBLE)/64), ('src1', CAST(2 AS DOUBLE)/64),
      ('src2', CAST(3 AS DOUBLE)/64), ('src3', CAST(4 AS DOUBLE)/64),
      ('src4', CAST(5 AS DOUBLE)/64), ('src5', CAST(6 AS DOUBLE)/64),
      ('src6', CAST(7 AS DOUBLE)/64), ('src7', CAST(8 AS DOUBLE)/64)),
    j AS (
      SELECT st.source, st.n_tokens, tgt.target_share,
             CAST(floor(tgt.target_share * 2000000) AS BIGINT) AS want_tokens
      FROM st JOIN tgt ON st.source = tgt.source)
    SELECT source, n_tokens, target_share, want_tokens,
           round(least(1.0, want_tokens / CAST(greatest(n_tokens, 1) AS DOUBLE)), 6)
             AS sample_rate,
           CAST(CASE WHEN want_tokens <= n_tokens THEN 1
                     ELSE (want_tokens + greatest(n_tokens, 1) - 1)
                          // greatest(n_tokens, 1) END AS BIGINT)
             AS repeat_factor
    FROM j
    """,
)
def mixture_plan_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sampling import mixture_plan

    d = _t(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(
        F.sum(F.expr("n_chars DIV 4 + 1")).cast("long").alias("n_tokens")
    )
    targets = spark.createDataFrame(
        [(f"src{i}", (i + 1) / 64.0) for i in range(8)],
        ["source", "target_share"],
    )
    return mixture_plan(st, targets, token_budget=2_000_000)


# PMI collocations (analytics/text.py:pmi_collocations): top-k bigram
# multi-word units by pointwise mutual information — tokenizer/phrase
# vocabulary mining. Corpus parsed once (persisted split feeds unigram AND
# bigram aggs); totals re-aggregate the count tables; top-k is TakeOrdered.
@_q(
    "pmi_collocations",
    f"""
    WITH w0 AS (SELECT {_SQL_WORDS} AS ws FROM documents),
    words AS (SELECT unnest(list_filter(ws, x -> x <> '')) AS w FROM w0),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM words GROUP BY w),
    nu AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM uni),
    grams AS (
      SELECT unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS gram
      FROM w0),
    bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cp FROM grams GROUP BY gram),
    nb AS (SELECT CAST(SUM(cp) AS DOUBLE) AS n FROM bi),
    kept AS (SELECT gram, cp, string_split(gram, ' ')[1] AS w1,
                    string_split(gram, ' ')[2] AS w2
             FROM bi WHERE cp >= 5)
    SELECT k.gram, k.w1, k.w2, k.cp AS n_pair,
           round(ln((k.cp / nb.n) / ((u1.cu / nu.n) * (u2.cu / nu.n))), 6) AS pmi
    FROM kept k
    JOIN uni u1 ON k.w1 = u1.w
    JOIN uni u2 ON k.w2 = u2.w
    CROSS JOIN nu CROSS JOIN nb
    ORDER BY pmi DESC, gram ASC
    LIMIT 50
    """,
)
def pmi_collocations_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    return pmi_collocations(d.select("text"), min_count=5, top_k=50)


# Continuous recrawl-interval estimation (operators/recrawl.py:
# recrawl_interval_estimate): expected time between observed changes per
# URL (span DIV max(changes,1)) — the quantitative companion of the
# ordinal recrawl_lanes. Integer end to end; one exchange on url_key.
@_q(
    "recrawl_interval",
    """
    WITH cap AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS url_key,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             event_type AS fp
      FROM events),
    lagged AS (
      SELECT url_key, ts_s, fp,
             CASE WHEN fp <> lag(fp) OVER (PARTITION BY url_key
                                           ORDER BY ts_s, fp)
                  THEN 1 ELSE 0 END AS chg,
             lag(fp) OVER (PARTITION BY url_key ORDER BY ts_s, fp) IS NULL
               AS first_row
      FROM cap),
    per AS (
      SELECT url_key, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(SUM(CASE WHEN first_row THEN 0 ELSE chg END) AS BIGINT)
               AS n_changes,
             min(ts_s) AS t0, max(ts_s) AS t1
      FROM lagged GROUP BY url_key)
    SELECT url_key, n_obs, n_changes,
           CAST((t1 - t0) // (n_obs - 1) AS BIGINT) AS avg_gap_s,
           CAST((t1 - t0) // greatest(n_changes, 1) AS BIGINT) AS recrawl_s
    FROM per WHERE n_obs > 1
    """,
)
def recrawl_interval_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.recrawl import (
        recrawl_interval_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    caps = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url_key"),
        F.col("ts"),
        F.col("event_type").alias("fingerprint"),
    )
    return recrawl_interval_estimate(caps, ts_col="ts")


# Bounded BFS hop distance from the seed set (analytics/graph.py:
# seed_hop_distance): the link-graph "crawl depth" label — pages near
# vetted seeds crawl first; nodes unreached within max_hops are absent
# (depth infinity). Same K-round iteration discipline as pagerank; the
# oracle chains 3 closed-form layer CTEs.
@_q(
    "seed_hop_distance",
    f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    d0 AS (SELECT DISTINCT src AS id, 0 AS hops FROM edges WHERE src % 100 = 0),
    d1 AS (SELECT id, min(hops) AS hops FROM (
             SELECT id, hops FROM d0
             UNION ALL
             SELECT e.dst AS id, d0.hops + 1 AS hops
             FROM edges e JOIN d0 ON e.src = d0.id) u GROUP BY id),
    d2 AS (SELECT id, min(hops) AS hops FROM (
             SELECT id, hops FROM d1
             UNION ALL
             SELECT e.dst AS id, d1.hops + 1 AS hops
             FROM edges e JOIN d1 ON e.src = d1.id) u GROUP BY id),
    d3 AS (SELECT id, min(hops) AS hops FROM (
             SELECT id, hops FROM d2
             UNION ALL
             SELECT e.dst AS id, d2.hops + 1 AS hops
             FROM edges e JOIN d2 ON e.src = d2.id) u GROUP BY id)
    SELECT id, CAST(hops AS INT) AS hops FROM d3
    """,
)
def seed_hop_distance_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import seed_hop_distance

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            (F.col("l_orderkey") % 3000).cast("long").alias("src"),
            (F.col("l_partkey") % 3000).cast("long").alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    seeds = edges.filter("src % 100 = 0").select(F.col("src").alias("id"))
    return seed_hop_distance(edges, seeds, max_hops=3)


# Watermark lateness audit (streaming/lateness.py): replay a captured
# stream in arrival order and profile per-partition event-time lateness
# against the running high-water mark — the evidence for choosing a
# withWatermark delay. One exchange on the partition key; integer seconds
# end to end; exact nearest-rank p99.
@_q(
    "late_data_audit",
    """
    WITH e AS (
      SELECT CAST(user_id % 16 AS INT) AS part,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
      FROM events),
    l AS (
      SELECT part,
             max(ts_s) OVER (PARTITION BY part ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - ts_s AS late_s
      FROM e),
    r AS (
      SELECT part, late_s,
             row_number() OVER (PARTITION BY part ORDER BY late_s) AS rn,
             count(*) OVER (PARTITION BY part) AS n
      FROM l)
    SELECT part, CAST(max(n) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(max(late_s) AS BIGINT) AS max_late_s,
           CAST(max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                         THEN late_s END) AS BIGINT) AS p99_late_s
    FROM r GROUP BY part
    """,
)
def late_data_audit_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.streaming.lateness import (
        watermark_lateness_audit,
    )

    ev = _t(spark, sf_dir, "events")
    stream = ev.select(
        (F.col("user_id") % 16).cast("int").alias("part"),
        F.col("ts"),
        F.col("event_id").alias("arrival_id"),
    )
    return watermark_lateness_audit(stream, watermark_s=3600)


# Watermark/overlay band gate (operators/validate.py:watermark_band_gate):
# bottom-quintile horizontal-gradient energy vs the body — the LAION-style
# watermark down-weighting signal, CNN-free and integer-exact. Rows-only
# (binary codecs aren't SQL); the synth mixes clean textured payloads, a
# stamped high-contrast bottom band, a flat image with a band (zero body
# energy branch), and a corrupt payload so every verdict branch fires.
@_q("image_watermark_gate")
def image_watermark_gate_q(spark, sf_dir):
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from etherscan_contract_crawler_spark.functions.images import (
        decode_image,
        encode_png,
    )
    from etherscan_contract_crawler_spark.operators.validate import (
        watermark_band_gate,
    )
    from etherscan_contract_crawler_spark.sources.synthetic import (
        payload_for_key,
    )

    keys = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select(
            F.sha1(F.col("doc_id").cast("string")).alias("key"),
            (F.col("doc_id") % 4).alias("m"),
        )
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for r in pdf.itertuples(index=False):
                p = payload_for_key(r.key)
                ids.append(p["image_id"])
                if r.m == 0:  # clean textured payload
                    blobs.append(p["bytes"])
                elif r.m == 1:  # stamped high-contrast bottom band
                    px = decode_image(p["bytes"]).copy()
                    h = px.shape[0]
                    band = px[h - max(h // 5, 1):]
                    band[:, ::2] = 0
                    band[:, 1::2] = 255
                    blobs.append(encode_png(px))
                elif r.m == 2:  # flat body + band: zero-body-energy branch
                    px = np.full((20, 20, 3), 128, dtype=np.uint8)
                    px[16:, ::2] = 0
                    px[16:, 1::2] = 255
                    blobs.append(encode_png(px))
                else:  # corrupt -> NULL stats, keep=false
                    blobs.append(p["bytes"][:16])
            yield pd.DataFrame({"image_id": ids, "bytes": blobs})

    images = keys.mapInPandas(gen, schema="image_id string, bytes binary")
    return watermark_band_gate(images)


# Politeness compliance audit (operators/politeness.py:
# rate_compliance_audit): prove a recorded fetch log stayed inside the
# per-domain budget — trailing-window peak + violation count via a RANGE
# frame over epoch seconds; budget dim broadcast; one exchange on domain.
@_q(
    "rate_compliance",
    """
    WITH log AS (
      SELECT 'd' || CAST(user_id % 50 AS VARCHAR) AS domain,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events),
    bud AS (SELECT 'd' || CAST(i AS VARCHAR) AS domain,
                   CAST(3 + i % 4 AS BIGINT) AS mx
            FROM range(40) t(i)),
    sc AS (
      -- LEFT join + COALESCE mirrors the engine's with-default fallback
      -- (politeness.py DEFAULT_MAX_CALLS=5): domains d40..d49 have no
      -- budget row, so the default-budget branch is oracle-checked too
      -- (r4 ADVICE).
      SELECT log.domain, COALESCE(bud.mx, 5) AS mx,
             count(*) OVER (PARTITION BY log.domain ORDER BY ts_s
                            RANGE BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS in_win
      FROM log LEFT JOIN bud ON log.domain = bud.domain)
    SELECT domain, CAST(count(*) AS BIGINT) AS n_fetches,
           CAST(max(in_win) AS BIGINT) AS peak_in_window,
           CAST(sum(CASE WHEN in_win > mx THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           sum(CASE WHEN in_win > mx THEN 1 ELSE 0 END) = 0 AS compliant
    FROM sc GROUP BY domain
    """,
)
def rate_compliance_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        rate_compliance_audit,
    )

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("d"), (F.col("user_id") % 50).cast("string")).alias(
            "domain"
        ),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    # only d0..d39 carry a budget row: d40..d49 exercise the engine's
    # DEFAULT_MAX_CALLS fallback, which the LEFT-JOIN oracle now mirrors
    budgets = spark.range(40).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("domain"),
        (F.lit(3) + F.col("id") % 4).cast("long").alias("max_per_window"),
    )
    return rate_compliance_audit(log, budgets, window_s=10)


# Tracking-parameter mining (functions/urls.py:tracking_param_mine):
# discover site-specific session params by value dispersion — frequent
# params whose values are ~always distinct address nothing and feed the
# canonicalizer's strip list. Two param-cardinality aggs, integer flag.
@_q(
    "tracking_param_mine",
    """
    WITH u AS (
      SELECT 'https://ex.com/p/' || CAST(o_custkey AS VARCHAR)
             || '?page=' || CAST(o_orderkey % 7 AS VARCHAR)
             || '&sess=' || md5(CAST(o_orderkey AS VARCHAR))
             || CASE WHEN o_orderkey % 3 = 0 THEN '&ref=home' ELSE '' END
               AS url
      FROM orders),
    q AS (SELECT url, regexp_extract(url, '^[^?#]*\\?([^#]*)', 1) AS qs FROM u),
    p0 AS (SELECT url, unnest(list_filter(string_split(qs, '&'), x -> x <> ''))
             AS p FROM q),
    pairs AS (
      SELECT url, string_split(p, '=')[1] AS param,
             regexp_extract(p, '^[^=]*=?(.*)$', 1) AS val
      FROM p0),
    agg AS (SELECT param, CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT val) AS BIGINT) AS n_distinct_vals
            FROM pairs GROUP BY param)
    SELECT param, n_urls, n_occurrences, n_distinct_vals,
           round(n_distinct_vals / CAST(n_occurrences AS DOUBLE), 6)
             AS uniq_ratio,
           n_urls >= 50 AND 10 * n_distinct_vals >= 9 * n_occurrences
             AS candidate
    FROM agg
    """,
)
def tracking_param_mine_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.urls import (
        tracking_param_mine,
    )

    o = _t(spark, sf_dir, "orders")
    urls = o.select(
        F.concat(
            F.lit("https://ex.com/p/"),
            F.col("o_custkey").cast("string"),
            F.lit("?page="),
            (F.col("o_orderkey") % 7).cast("string"),
            F.lit("&sess="),
            F.md5(F.col("o_orderkey").cast("string")),
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("&ref=home")).otherwise(
                F.lit("")
            ),
        ).alias("url")
    )
    return tracking_param_mine(urls, min_urls=50)


# One BPE merge step (analytics/text.py:bpe_merge_mine): corpus-wide
# adjacent char-pair counts — counted over the DISTINCT-WORD dictionary
# weighted by frequency (Heaps' law makes that the whole scaling story);
# one corpus-sized shuffle, pair explode off the dictionary, TakeOrdered.
@_q(
    "bpe_merge_mine",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_WORDS}) AS w FROM documents),
    words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
              FROM toks WHERE w <> '' GROUP BY w),
    pairs AS (
      SELECT freq, unnest(list_transform(
               range(1, greatest(length(w) - 1, 0) + 1),
               i -> substr(w, i, 2))) AS pair
      FROM words),
    agg AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
            FROM pairs GROUP BY pair)
    SELECT pair, substr(pair, 1, 1) AS "left", substr(pair, 2, 1) AS "right", n
    FROM agg ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def bpe_merge_mine_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import bpe_merge_mine

    d = _t(spark, sf_dir, "documents")
    return bpe_merge_mine(d.select("text"), top_k=20)


# Outlink spam-neighborhood ratio (analytics/graph.py:outlink_spam_ratio):
# hosts linking mostly into the blocklist are farm members the list
# hasn't caught — negative frontier prior next to trustrank. Broadcast
# membership probe + one hash agg on src; no edge-sized blocklist shuffle.
@_q(
    "outlink_spam_ratio",
    """
    WITH e AS (
      SELECT DISTINCT 'h' || CAST(l_orderkey % 500 AS VARCHAR) AS src_host,
             'h' || CAST(l_partkey % 500 AS VARCHAR) AS dst_host
      FROM lineitem WHERE l_orderkey % 500 <> l_partkey % 500),
    bl AS (SELECT 'h' || CAST(i AS VARCHAR) AS host
           FROM range(500) t(i) WHERE i % 7 = 0),
    j AS (SELECT e.src_host,
                 CASE WHEN bl.host IS NOT NULL THEN 1 ELSE 0 END AS is_spam
          FROM e LEFT JOIN bl ON e.dst_host = bl.host),
    agg AS (SELECT src_host, CAST(count(*) AS BIGINT) AS n_out,
                   CAST(SUM(is_spam) AS BIGINT) AS n_spam
            FROM j GROUP BY src_host)
    SELECT src_host, n_out, n_spam,
           round(n_spam / CAST(n_out AS DOUBLE), 6) AS spam_ratio,
           2 * n_spam >= n_out AS suspect
    FROM agg
    """,
)
def outlink_spam_ratio_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.graph import (
        outlink_spam_ratio,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("h"), (F.col("l_orderkey") % 500).cast("string")).alias(
            "src_host"
        ),
        F.concat(F.lit("h"), (F.col("l_partkey") % 500).cast("string")).alias(
            "dst_host"
        ),
    ).filter("src_host <> dst_host")
    blocklist = (
        spark.range(500)
        .filter("id % 7 = 0")
        .select(F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"))
    )
    return outlink_spam_ratio(edges, blocklist)


# Shard balance audit (analytics/packing.py:shard_skew_report): the
# acceptance check for shard_assign — per-shard doc/token load and
# permille deviation from the mean, integer cross-multiplied ±10% flag.
# Composes with shard_assign in one chain so alias drift between the two
# is driver-visible.
@_q(
    "shard_skew",
    """
    WITH d AS (SELECT doc_id, CAST(n_chars // 4 + 1 AS BIGINT) AS n_tokens
               FROM documents),
    b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS band,
                 CAST(doc_id % 4 AS INT) AS salt
          FROM d),
    r AS (SELECT doc_id, n_tokens, band, salt,
                 row_number() OVER (PARTITION BY band, salt
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                             doc_id) AS rn
          FROM b),
    a AS (SELECT doc_id, n_tokens,
                 CAST((rn - 1 + salt) % 8 AS INT) AS shard
          FROM r),
    per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM a GROUP BY shard),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS s FROM per)
    SELECT shard, n_docs, n_tokens,
           CAST((1000 * n_tokens * s - 1000 * t) // t AS BIGINT) AS dev_milli,
           abs(1000 * n_tokens * s - 1000 * t) <= 100 * t AS ok
    FROM per CROSS JOIN tot
    """,
)
def shard_skew_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.packing import (
        shard_assign,
        shard_skew_report,
    )

    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", (F.expr("n_chars DIV 4") + 1).alias("n_tokens"))
    assigned = shard_assign(docs, n_shards=8, band_width=32, n_salts=4)
    return shard_skew_report(assigned)


# Adaptive politeness (operators/politeness.py:adaptive_politeness):
# error-feedback budgets — next epoch's per-domain budget scales with the
# observed success rate, floored at one probe; pure codegen projection
# over the landing stats rollup. The reference's analog is a GLOBAL
# sleep-on-error (blockchain-multichain-monitor.py:108-116).
@_q(
    "adaptive_politeness",
    """
    WITH st AS (
      SELECT 'd' || CAST(o_custkey % 40 AS VARCHAR) AS domain,
             CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ok,
             CAST(count(*) AS BIGINT) AS n_total
      FROM orders GROUP BY domain)
    SELECT domain, n_ok, n_total,
           CAST(greatest((8 * n_ok) // greatest(n_total, 1), 1) AS BIGINT)
             AS budget
    FROM st
    """,
)
def adaptive_politeness_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        adaptive_politeness,
    )

    o = _t(spark, sf_dir, "orders")
    stats = o.groupBy(
        F.concat(F.lit("d"), (F.col("o_custkey") % 40).cast("string")).alias(
            "domain"
        )
    ).agg(
        F.sum((F.col("o_orderstatus") != "F").cast("long")).alias("n_ok"),
        F.count("*").cast("long").alias("n_total"),
    )
    return adaptive_politeness(stats, base_budget=8)


# Outlink harvesting (functions/html.py:a_candidates): the discovery
# primitive — every plain-text <a> yields (href, anchor text, nofollow
# token flag); hrefs feed canonicalize/url_seen/scheduling, texts feed
# anchor_text_agg, nofollow feeds the edge filter. Composed pages fire
# every branch: uppercase/single-quote/rel variants, the 'nofollower'
# substring trap, href-less named anchors, nested-markup skip.
@_q(
    "a_href_extract",
    """
    WITH pages AS (
      SELECT doc_id,
             concat_ws('',
               '<a href="https://x.com/p', CAST(doc_id AS VARCHAR), '">page ',
               CAST(doc_id % 5 AS VARCHAR), '</a>',
               CASE WHEN doc_id % 2 = 0 THEN
                 concat('<A HREF=''https://up.com/', CAST(doc_id % 7 AS VARCHAR),
                        ''' REL=''nofollow''>UP</A>') END,
               CASE WHEN doc_id % 3 = 0 THEN
                 '<a href="https://f.com/a" rel="external nofollower">trick</a>'
               END,
               CASE WHEN doc_id % 5 = 0 THEN '<a name="top">no href</a>' END,
               CASE WHEN doc_id % 7 = 0 THEN
                 '<a href="https://n.com/x"><b>nested</b></a>' END,
               CASE WHEN doc_id % 11 = 0 THEN
                 '<a href="https://m.com/y" rel="me,nofollow">m</a>' END,
               CASE WHEN doc_id % 13 = 0 THEN
                 '<a href=''https://real.com/r'' rel=''me''>see href="https://decoy.com/d" rel="nofollow" here</a>' END
             ) AS body
      FROM documents),
    t0 AS (SELECT doc_id,
                  regexp_extract_all(body, '(?i)<a\\s[^>]*>[^<]*</a>', 0) AS ts
           FROM pages),
    s0 AS (SELECT doc_id, list_transform(ts, t -> struct_pack(
             href := CASE WHEN regexp_extract(regexp_extract(t, '(?i)^<a\\s[^>]*>', 0), '(?i)\\shref\\s*=\\s*"([^"]*)"', 1) <> ''
                          THEN regexp_extract(regexp_extract(t, '(?i)^<a\\s[^>]*>', 0), '(?i)\\shref\\s*=\\s*"([^"]*)"', 1)
                          ELSE regexp_extract(regexp_extract(t, '(?i)^<a\\s[^>]*>', 0), '(?i)\\shref\\s*=\\s*''([^'']*)''', 1) END,
             txt := regexp_extract(t, '(?i)>([^<]*)</a>', 1),
             nofollow := regexp_matches(
               CASE WHEN regexp_extract(regexp_extract(t, '(?i)^<a\\s[^>]*>', 0), '(?i)\\srel\\s*=\\s*"([^"]*)"', 1) <> ''
                    THEN regexp_extract(regexp_extract(t, '(?i)^<a\\s[^>]*>', 0), '(?i)\\srel\\s*=\\s*"([^"]*)"', 1)
                    ELSE regexp_extract(regexp_extract(t, '(?i)^<a\\s[^>]*>', 0), '(?i)\\srel\\s*=\\s*''([^'']*)''', 1) END,
               '(?i)(^|[\\s,])nofollow([\\s,]|$)'))) AS cands
           FROM t0),
    s1 AS (SELECT doc_id, list_filter(cands, c -> c.href <> '') AS kept FROM s0),
    fl AS (SELECT doc_id, unnest(kept) AS c,
                  generate_subscripts(kept, 1) AS a_idx
           FROM s1)
    SELECT doc_id, CAST(a_idx AS INT) AS a_idx, c.href AS href,
           c.txt AS text, c.nofollow AS nofollow
    FROM fl
    """,
)
def a_href_extract_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import a_candidates

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body = F.concat_ws(
        "",
        F.lit('<a href="https://x.com/p'),
        did.cast("string"),
        F.lit('">page '),
        (did % 5).cast("string"),
        F.lit("</a>"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("<A HREF='https://up.com/"),
                (did % 7).cast("string"),
                F.lit("' REL='nofollow'>UP</A>"),
            ),
        ),
        F.when(
            did % 3 == 0,
            F.lit('<a href="https://f.com/a" rel="external nofollower">trick</a>'),
        ),
        F.when(did % 5 == 0, F.lit('<a name="top">no href</a>')),
        F.when(did % 7 == 0, F.lit('<a href="https://n.com/x"><b>nested</b></a>')),
        F.when(
            did % 11 == 0,
            F.lit('<a href="https://m.com/y" rel="me,nofollow">m</a>'),
        ),
        F.when(
            did % 13 == 0,
            # attribute-lookalike in anchor TEXT: the real (single-quoted)
            # href must win over the double-quoted decoy in the text
            F.lit(
                "<a href='https://real.com/r' rel='me'>see href=\"https://decoy.com/d\" rel=\"nofollow\" here</a>"
            ),
        ),
    )
    pages = d.select("doc_id", body.alias("body"))
    return pages.select(
        "doc_id", F.explode(a_candidates("body")).alias("c")
    ).select(
        "doc_id",
        F.col("c.a_idx").alias("a_idx"),
        F.col("c.href").alias("href"),
        F.col("c.text").alias("text"),
        F.col("c.nofollow").alias("nofollow"),
    )


# Discovery refill integration (the crawl-side chain a production epoch
# runs after landing: a_candidates harvest -> nofollow edge filter ->
# canonicalize_url(drop_tracking) -> anti-join url_seen -> per-host new
# candidates). The oracle enumerates the EXPECTED post-chain rows closed
# form per residue (the component stages carry their own oracles; this
# row checks the CHAIN — alias/key drift between harvest, canonicalizer,
# dedup and rollup that per-operator oracles can't see).
@_q(
    "discovery_refill",
    """
    WITH exp AS (
      SELECT doc_id, doc_id % 13 AS h,
             doc_id % 5 >= 2 AS unseen
      FROM documents)
    SELECT 'host' || CAST(h AS VARCHAR) || '.example.com' AS host,
           CAST(count(*) AS BIGINT) AS n_new
    FROM exp WHERE unseen
    GROUP BY host
    """,
)
def discovery_refill_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.functions.html import a_candidates
    from etherscan_contract_crawler_spark.functions.urls import (
        canonicalize_url,
        url_host,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    h = (did % 13).cast("string")
    ks = did.cast("string")
    r = did % 4
    body = (
        F.when(
            r == 0,
            F.concat(
                F.lit('<a href="HTTPS://Host'), h,
                F.lit(".Example.com/p/"), ks, F.lit('#x">t</a>'),
            ),
        )
        .when(
            r == 1,
            F.concat(
                F.lit('<a href="https://host'), h,
                F.lit(".example.com/p/"), ks, F.lit('">t</a>'),
                F.lit('<a href="https://spam.com/'), ks,
                F.lit('" rel="nofollow">s</a>'),
            ),
        )
        .when(
            r == 2,
            F.concat(
                F.lit('<a href="https://host'), h,
                F.lit(".example.com/q/"), ks,
                F.lit('?utm_source=a&b=1">t</a>'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<a href='https://host"), h,
                F.lit(".example.com/r/"), ks, F.lit("'>t</a>"),
            )
        )
    )
    pages = d.select("doc_id", body.alias("body"))
    harvested = (
        pages.select(F.explode(a_candidates("body")).alias("c"))
        .filter(~F.col("c.nofollow"))
        .select(
            canonicalize_url(F.col("c.href"), drop_tracking=True).alias(
                "url_canon"
            )
        )
        .distinct()
    )
    # url_seen bootstrap: docs with doc_id % 5 < 2 were already landed —
    # the same closed-form canonical the chain must reproduce
    seen_path = (
        F.when(r == 2, F.concat(F.lit("/q/"), ks, F.lit("?b=1")))
        .when(r == 3, F.concat(F.lit("/r/"), ks))
        .otherwise(F.concat(F.lit("/p/"), ks))
    )
    seen = d.filter("doc_id % 5 < 2").select(
        F.concat(
            F.lit("https://host"), h, F.lit(".example.com"), seen_path
        ).alias("url_canon")
    )
    new = harvested.join(seen, on="url_canon", how="left_anti")
    return new.groupBy(url_host("url_canon").alias("host")).agg(
        F.count("*").cast("long").alias("n_new")
    )


# Fetch-status pivot matrix: the epoch ops dashboard — domains × status
# counts via Spark's pivot (grouped expand, map-side combinable; the
# status vocabulary is a FIXED literal list, so no extra distinct job
# runs to discover columns). DuckDB oracle = conditional aggregation.
@_q(
    "fetch_status_matrix",
    """
    SELECT 'd' || CAST(o_custkey % 30 AS VARCHAR) AS domain,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_failed,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pending
    FROM orders GROUP BY domain
    """,
)
def fetch_status_matrix_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    log = o.select(
        F.concat(F.lit("d"), (F.col("o_custkey") % 30).cast("string")).alias(
            "domain"
        ),
        F.col("o_orderstatus").alias("status"),
    )
    p = (
        log.groupBy("domain")
        .pivot("status", ["F", "O", "P"])  # fixed vocabulary: no discovery job
        .count()
        .na.fill(0)
    )
    return p.select(
        "domain",
        F.col("F").cast("long").alias("n_failed"),
        F.col("O").cast("long").alias("n_ok"),
        F.col("P").cast("long").alias("n_pending"),
    )


# HyperLogLog cardinality gate: approx_count_distinct vs exact, per
# language — the sketch every 100-TB profiler leans on (exact distinct is
# a full shuffle; HLL is mergeable per-partition state). Emitted as a
# recall-gate row (ann_lsh_recall pattern): the oracle re-derives the
# EXACT side and pins the within-5% flag TRUE — a sketch drifting past
# its rsd bound fails the row.
@_q(
    "hll_count_gate",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_WORDS}) AS w FROM documents),
    ex AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
           FROM toks WHERE w <> '' GROUP BY lang)
    SELECT lang, exact_distinct, TRUE AS within_5pct FROM ex
    """,
)
def hll_count_gate_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(normalized_words("text")).alias("w")
    ).filter("w <> ''")
    agg = toks.groupBy("lang").agg(
        F.count_distinct("w").alias("exact_distinct"),
        F.approx_count_distinct("w", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "lang",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("_approx") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )


# Approx-quantile sketch gate: percentile_approx (GK/KLL-family sketch)
# vs the exact integer quantile — same gate pattern. The exact side
# (DuckDB re-derivation) uses the nearest-rank definition on BIGINTs so
# there is no interpolation ambiguity; the sketch must land within 5% of
# it. Sketches are THE scale path for per-group latency/size profiles —
# mergeable, single pass, no per-group sort.
@_q(
    "quantile_sketch_gate",
    """
    WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents),
    r AS (SELECT lang, x,
                 row_number() OVER (PARTITION BY lang ORDER BY x) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM v),
    ex AS (SELECT lang,
                  CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                                THEN x END) AS BIGINT) AS exact_p50,
                  CAST(max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                                THEN x END) AS BIGINT) AS exact_p95
           FROM r GROUP BY lang)
    SELECT lang, exact_p50, exact_p95, TRUE AS p50_ok, TRUE AS p95_ok
    FROM ex
    """,
)
def quantile_sketch_gate_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    v = d.select("lang", F.col("n_chars").cast("long").alias("x"))
    w = Window.partitionBy("lang").orderBy("x")
    wn = Window.partitionBy("lang")
    ranked = v.select(
        "lang",
        "x",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    exact = ranked.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn") == F.expr("CAST(ceil(n * 0.5) AS BIGINT)"),
                F.col("x"),
            )
        ).cast("long").alias("exact_p50"),
        F.max(
            F.when(
                F.col("rn") == F.expr("CAST(ceil(n * 0.95) AS BIGINT)"),
                F.col("x"),
            )
        ).cast("long").alias("exact_p95"),
    )
    sk = v.groupBy("lang").agg(
        F.percentile_approx("x", 0.5, 10_000).alias("_s50"),
        F.percentile_approx("x", 0.95, 10_000).alias("_s95"),
    )
    j = exact.join(sk, on="lang")
    return j.select(
        "lang",
        "exact_p50",
        "exact_p95",
        (
            F.abs(F.col("_s50") - F.col("exact_p50"))
            <= 0.05 * F.col("exact_p50")
        ).alias("p50_ok"),
        (
            F.abs(F.col("_s95") - F.col("exact_p95"))
            <= 0.05 * F.col("exact_p95")
        ).alias("p95_ok"),
    )


# Z-order layout key (analytics/packing.py:zorder_key): Morton interleave
# of (domain bucket, time bucket) — one sort order that lets parquet
# min/max stats prune on BOTH dimensions (the OPTIMIZE ZORDER primitive).
# Unrolled shift/mask expression tree, full codegen, no UDF; the oracle
# runs the same arithmetic, so the row pins the bit layout exactly.
@_q(
    "zorder_layout",
    """
    WITH src AS (
      SELECT o_orderkey AS k,
             CAST(o_custkey % 65536 AS BIGINT) AS da,
             CAST(o_orderkey % 65536 AS BIGINT) AS tb
      FROM orders)
    SELECT k, da, tb,
           CAST({terms} AS BIGINT) AS zkey
    FROM src
    """.format(
        terms=" + ".join(
            f"(((da >> {i}) & 1) << {2 * i}) + (((tb >> {i}) & 1) << {2 * i + 1})"
            for i in range(16)
        )
    ),
)
def zorder_layout_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.packing import zorder_key

    o = _t(spark, sf_dir, "orders")
    src = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") % 65536).cast("long").alias("da"),
        (F.col("o_orderkey") % 65536).cast("long").alias("tb"),
    )
    return zorder_key(src, "da", "tb", bits=16)


# Quality-score calibration (reliability diagram for the curation stack):
# decile-bin the [0,1] quality score and measure, per bin, how often an
# independent keep rule agrees — the check a curator runs before trusting
# a scorer's threshold. Bins integer (least(floor(q*10),9)); keep proxy =
# the C4 terminal-punctuation rule on the raw text. One explode-free
# projection + one decile-cardinality agg.
@_q(
    "quality_calibration",
    f"""
    WITH feats AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
             len(list_filter(list_distinct({_SQL_WORDS}),
                 x -> list_contains(['the','and','of','to','in','is','it',
                                     'that','was','for'], x))) AS en_hits
      FROM documents),
    scored AS (
      SELECT doc_id,
             round(0.4 * least(n_chars / 500.0, 1.0)
                   + 0.3 * least(en_hits / 5.0, 1.0)
                   + 0.3 * (1.0 - CASE WHEN n_chars > 0
                                       THEN n_punct / CAST(n_chars AS DOUBLE)
                                       ELSE 0.0 END), 6) AS quality,
             CASE WHEN regexp_matches(rtrim(text), '[.!?"]$')
                  THEN 1 ELSE 0 END AS keep
      FROM feats),
    binned AS (
      SELECT CAST(least(CAST(floor(quality * 10) AS BIGINT), 9) AS INT)
               AS decile,
             keep
      FROM scored)
    SELECT decile, CAST(count(*) AS BIGINT) AS n,
           round(SUM(keep) / CAST(count(*) AS DOUBLE), 6) AS keep_rate
    FROM binned GROUP BY decile
    """,
)
def quality_calibration_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import quality_score

    d = _t(spark, sf_dir, "documents")
    q = quality_score(d, keep_cols=("text",))
    keep = F.when(
        F.rtrim(F.col("text")).rlike(r'[.!?"]$'), F.lit(1)
    ).otherwise(F.lit(0))
    binned = q.select(
        F.least(F.floor(F.col("quality") * 10).cast("long"), F.lit(9))
        .cast("int")
        .alias("decile"),
        keep.alias("keep"),
    )
    return binned.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("keep") / F.count("*"), 6).alias("keep_rate"),
    )


# Dataset card rollup: the summary table a curated-corpus release ships
# (datasheet/dataset-card numbers): per-language doc/token counts, exact-
# duplicate doc counts, mean length — one pass over the corpus (one hash
# agg per signal family, all integer-exact). Composes the fingerprint
# dedup rule (F4+F3 chain) with the corpus stats the sampler reads.
@_q(
    "dataset_card",
    """
    WITH fp AS (
      SELECT lang,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM documents),
    dup AS (
      SELECT lang, f, CAST(count(*) AS BIGINT) AS c
      FROM fp GROUP BY lang, f)
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique_docs,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_docs_in_dup_groups
    FROM dup GROUP BY lang
    """,
)
def dataset_card_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    fp = fingerprint(d, keep_cols=("lang",))
    dup = fp.groupBy("lang", "fingerprint").agg(F.count("*").alias("c"))
    return dup.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_unique_docs"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_docs_in_dup_groups"),
    )


# Corpus release diff: version-over-version accounting between two corpus
# snapshots — added / removed / changed / unchanged doc counts by id and
# normalized-content fingerprint (the release-notes numbers next to
# dataset_card, and the input to incremental recrawl/retrain decisions).
# FULL OUTER join on doc_id, one hash agg; fingerprints reuse the F4+F3
# chain so "changed" means the content changed, not its whitespace.
@_q(
    "corpus_release_diff",
    """
    WITH v1 AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM documents WHERE doc_id % 7 <> 0),
    v2 AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(
               CASE WHEN doc_id % 5 = 0 THEN text || ' appended-edit'
                    ELSE text END), '\\s+', ' ', 'g'))) AS f
      FROM documents WHERE doc_id % 11 <> 0),
    j AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             v1.f AS f1, v2.f AS f2
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
    SELECT
      CAST(sum(CASE WHEN f1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
      CAST(sum(CASE WHEN f2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
      CAST(sum(CASE WHEN f1 IS NOT NULL AND f2 IS NOT NULL AND f1 <> f2
                    THEN 1 ELSE 0 END) AS BIGINT) AS changed,
      CAST(sum(CASE WHEN f1 = f2 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
    FROM j
    """,
)
def corpus_release_diff_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    v1 = fingerprint(d.filter("doc_id % 7 <> 0")).select(
        "doc_id", F.col("fingerprint").alias("f1")
    )
    v2_docs = d.filter("doc_id % 11 <> 0").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" appended-edit"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v2 = fingerprint(v2_docs).select("doc_id", F.col("fingerprint").alias("f2"))
    j = v1.join(v2, on="doc_id", how="full_outer")
    return j.agg(
        F.sum(F.col("f1").isNull().cast("long")).alias("added"),
        F.sum(F.col("f2").isNull().cast("long")).alias("removed"),
        F.sum(
            (F.col("f1").isNotNull() & F.col("f2").isNotNull()
             & (F.col("f1") != F.col("f2"))).cast("long")
        ).alias("changed"),
        F.sum((F.col("f1") == F.col("f2")).cast("long")).alias("unchanged"),
    )


# Cross-modal retrieval recall (axes A+B eval): for each caption, rank
# ALL images by cosine and report the TRUE pair's rank + recall@5 — the
# retrieval-eval loop a CLIP-style curation pipeline runs to validate
# its alignment scores. Cosines rounded to 6 dp BEFORE ranking in both
# engines (rank robustness), tie-broken by image id; per-side norms are
# computed once before the cross join (the similarity-hoist rule).
@_q(
    "crossmodal_recall",
    """
    WITH img AS (
      SELECT vec_id // 2 AS ipid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 0 AND vec_id // 2 < 100),
    cap AS (
      SELECT (vec_id - 1) // 2 AS cpid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 1 AND (vec_id - 1) // 2 < 100),
    imn AS (SELECT ipid, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
            FROM img),
    cpn AS (SELECT cpid, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
            FROM cap),
    s AS (
      SELECT c.cpid, i.ipid,
             round(list_sum(list_transform(range(1, len(i.v) + 1),
                                           k -> i.v[k] * c.v[k]))
                   / (i.n * c.n), 6) AS cos
      FROM cpn c CROSS JOIN imn i),
    r AS (
      SELECT cpid, ipid,
             row_number() OVER (PARTITION BY cpid
                                ORDER BY cos DESC, ipid ASC) AS rnk
      FROM s)
    SELECT cpid AS pair_id, CAST(rnk AS BIGINT) AS true_rank,
           rnk <= 5 AS in_top5
    FROM r WHERE cpid = ipid
    """,
)
def crossmodal_recall_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import _dot, _norm

    e = _t(spark, sf_dir, "embeddings")
    img = (
        e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") / 2 < 100))
        .select(
            (F.col("vec_id") / 2).cast("long").alias("ipid"),
            F.col("embedding").alias("iv"),
        )
        .withColumn("inorm", _norm(F.col("iv")))
    )
    cap = (
        e.filter((F.col("vec_id") % 2 == 1) & ((F.col("vec_id") - 1) / 2 < 100))
        .select(
            ((F.col("vec_id") - 1) / 2).cast("long").alias("cpid"),
            F.col("embedding").alias("cv"),
        )
        .withColumn("cnorm", _norm(F.col("cv")))
    )
    cos = F.round(
        _dot(F.col("iv"), F.col("cv")) / (F.col("inorm") * F.col("cnorm")), 6
    )
    scored = cap.crossJoin(F.broadcast(img)).select(
        "cpid", "ipid", cos.alias("cos")
    )
    w = Window.partitionBy("cpid").orderBy(F.desc("cos"), F.asc("ipid"))
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return ranked.filter(F.col("cpid") == F.col("ipid")).select(
        F.col("cpid").alias("pair_id"),
        F.col("rnk").cast("long").alias("true_rank"),
        (F.col("rnk") <= 5).alias("in_top5"),
    )


# ------------------------------------------------- round 5 additions
# Adversarial-distribution gates (r4 VERDICT #4) + beyond-batch LSH legs
# for the two bounded-anchor eval queries (r4 VERDICT #5).


def _h01(tag: str, *cols) -> Column:
    """Deterministic uniform [0,1) from md5 over '|'-joined inputs —
    byte-identical in Spark (conv/substring/md5) and DuckDB
    (CAST('0x'||substr(md5(..),1,15) AS BIGINT)), so skewed fixtures built
    from it can be mirrored exactly in oracle SQL (parity spot-checked in
    tests)."""
    parts = [F.lit(tag)] + [
        c.cast("string") if isinstance(c, Column) else F.lit(str(c))
        for c in cols
    ]
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10)
    return (h.cast("long") % 1000000) / 1000000.0


def _sql_h01(tag: str, expr: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5(concat_ws('|', '{tag}', {expr})), 1, 15)) "
        "AS BIGINT) % 1000000) / 1000000.0"
    )


def _skew_vecs(e: DataFrame) -> DataFrame:
    """Adversarial ANN fixture (r4 VERDICT #4): clustered embeddings with
    Zipf-ish cluster sizes and correlated dimensions, derived
    DETERMINISTICALLY from the driver's embeddings table (its vec_id set
    and dimensionality; the uniform values are replaced). Uniform vectors
    are the EASY case for random-hyperplane LSH and IVF; real web
    embeddings are clustered with a hot head and low intrinsic dimension —
    this fixture pins the recall floors under that shape instead.

    Construction (pure Columns, no UDF, no randomness source):
    - u = md5-uniform(vec_id); cluster c = floor(16 * u^3): inverse-CDF of
      a cubic gives heavy-tailed sizes (cluster 0 holds ~40% of vectors —
      the hot-cluster case that floods one LSH bucket / IVF cell).
    - dim d value = centroid(c, d mod 8) + 0.5*pv + 0.3*noise(vec_id, d):
      the centroid repeats every 8 dims (low intrinsic dimensionality) and
      pv is a per-VECTOR scalar added to every dim (correlated dimensions —
      the component that defeats axis-ish hyperplanes).
    """
    vid = F.col("vec_id")
    dims = F.size(F.col("embedding"))
    c = F.floor(F.lit(16) * F.pow(_h01("zc", vid), F.lit(3.0))).cast("int")
    pv = _h01("pv", vid) - 0.5
    vec = F.transform(
        F.sequence(F.lit(0), dims - 1),
        lambda d: (
            (_h01("cent", c, d % 8) - 0.5)
            + 0.5 * pv
            + 0.3 * (_h01("noise", vid, d) - 0.5)
        ),
    )
    return e.select("vec_id", vec.alias("embedding"))


# Floors re-pinned from measurement on the skewed fixture (sf0.01/sf0.1:
# LSH 1.0/1.0, IVF 1.0/1.0, hard-neg 0.94/0.98, crossmodal 0.95/0.97 mean
# recall@5): clustering HELPS hyperplane-LSH recall (true neighbors share
# a cluster and collide) — the uniform fixture remains the hard-recall
# case (floors 0.5/0.7 there); what skew actually threatens is hot-bucket
# candidate blowup, which is bounded by construction (banded signatures,
# per-table dedup) and exercised by these same rows since cluster 0 holds
# ~40% of vectors. Floors here are 0.8 — failing means a real regression,
# not fixture noise.
@_q("ann_lsh_recall_skew", _SQL_RECALL_GATE.format(floor=0.8))
def ann_lsh_recall_skew_q(spark, sf_dir):
    e = _skew_vecs(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") % 50 == 0)
    return _recall_gate(
        lsh_bucket_topk(e, q, k=5, n_planes=6), cosine_topk(e, q, k=5), q,
        k=5, floor=0.8,
    )


@_q("ann_ivf_recall_skew", _SQL_RECALL_GATE.format(floor=0.8))
def ann_ivf_recall_skew_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import ivf_topk

    e = _skew_vecs(_t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") % 50 == 0)
    return _recall_gate(
        ivf_topk(e, q, k=5, n_centroids=16, n_probe=8), cosine_topk(e, q, k=5),
        q, k=5, floor=0.8,
    )


# HLL gate under heavy-tail group sizes: the uniform-lang grouping gave
# every group a similar distinct count; here groups come from a cubic-CDF
# Zipf assignment (group 0 holds half the corpus), so the sketch is
# checked both on the fat head (large distinct set) and the sparse tail.
# The group assignment is md5-derived and mirrored EXACTLY in the oracle;
# the exact distinct counts are checked value-for-value, the sketch flag
# Spark-side.
@_q(
    "hll_count_gate_skew",
    f"""
    WITH g AS (
      SELECT doc_id, text,
             CAST(floor(8 * pow({_sql_h01("zg", "CAST(doc_id AS VARCHAR)")}, 3))
                  AS INT) AS grp
      FROM documents),
    toks AS (SELECT grp, unnest({_SQL_WORDS}) AS w FROM g)
    SELECT grp, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct,
           TRUE AS within_5pct
    FROM toks WHERE w <> '' GROUP BY grp
    """,
)
def hll_count_gate_skew_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.dedup import (
        normalized_words,
    )

    d = _t(spark, sf_dir, "documents")
    grp = F.floor(
        F.lit(8) * F.pow(_h01("zg", F.col("doc_id")), F.lit(3.0))
    ).cast("int")
    toks = d.select(
        grp.alias("grp"), F.explode(normalized_words("text")).alias("w")
    ).filter("w <> ''")
    agg = toks.groupBy("grp").agg(
        F.count_distinct("w").alias("exact_distinct"),
        F.approx_count_distinct("w", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "grp",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("_approx") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )


# Quantile-sketch gate under a heavy-tail VALUE distribution (Pareto-ish
# inverse-CDF values, Zipf group sizes): percentile_approx must track the
# exact nearest-rank quantile where the tail is sparse and the groups are
# unbalanced — the shape that breaks under-provisioned sketches. Exact
# p50/p95 are checked value-for-value vs DuckDB; the sketch flags are
# Spark-side (10% band at p95 — the sparse-tail order-stat gap at the
# smallest group is the quantity under test, not float noise).
@_q(
    "quantile_sketch_gate_skew",
    f"""
    WITH v AS (
      SELECT CAST(floor(8 * pow({_sql_h01("zg", "CAST(doc_id AS VARCHAR)")}, 3))
                  AS INT) AS grp,
             CAST(floor(10 + 990 / (1.05 - {_sql_h01("qv", "CAST(doc_id AS VARCHAR)")}))
                  AS BIGINT) AS x
      FROM documents),
    r AS (SELECT grp, x,
                 row_number() OVER (PARTITION BY grp ORDER BY x) AS rn,
                 count(*) OVER (PARTITION BY grp) AS n
          FROM v),
    ex AS (SELECT grp,
                  CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                                THEN x END) AS BIGINT) AS exact_p50,
                  CAST(max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
                                THEN x END) AS BIGINT) AS exact_p95
           FROM r GROUP BY grp)
    SELECT grp, exact_p50, exact_p95, TRUE AS p50_ok, TRUE AS p95_ok
    FROM ex
    """,
)
def quantile_sketch_gate_skew_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    grp = F.floor(
        F.lit(8) * F.pow(_h01("zg", F.col("doc_id")), F.lit(3.0))
    ).cast("int")
    x = F.floor(
        F.lit(10) + F.lit(990) / (F.lit(1.05) - _h01("qv", F.col("doc_id")))
    ).cast("long")
    v = d.select(grp.alias("grp"), x.alias("x"))
    w = Window.partitionBy("grp").orderBy("x")
    r = v.select(
        "grp", "x",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    exact = r.groupBy("grp").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("x"))
        ).cast("long").alias("exact_p50"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.95), F.col("x"))
        ).cast("long").alias("exact_p95"),
    )
    approx = v.groupBy("grp").agg(
        F.percentile_approx("x", 0.5, 10000).alias("_a50"),
        F.percentile_approx("x", 0.95, 10000).alias("_a95"),
    )
    return exact.join(approx, "grp").select(
        "grp", "exact_p50", "exact_p95",
        (
            F.abs(F.col("_a50") - F.col("exact_p50"))
            <= 0.05 * F.col("exact_p50")
        ).alias("p50_ok"),
        (
            F.abs(F.col("_a95") - F.col("exact_p95"))
            <= 0.10 * F.col("exact_p95")
        ).alias("p95_ok"),
    )


def _pair_vecs(e: DataFrame):
    """(image, caption) embedding frames keyed by pair_id — the shared
    fixture of the contrastive-eval queries (even vec_ids are images, odd
    are captions of the same pair)."""
    img = e.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("vec_id"), "embedding"
    )
    cap = e.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("vec_id"), "embedding"
    )
    return img, cap


# Beyond-batch leg of hard_negative_mine (r4 VERDICT #5): the exact
# variant broadcasts batch-bounded anchors; this one rides lsh_bucket_topk
# so the anchor side scales past ~10^4 — candidates come from banded
# signature collisions (shuffle ~ n_tables * rows), never a cross join.
# Approximate by construction -> rows-only; the companion recall row below
# is the driver-visible quality gate.
@_q("hard_negative_mine_lsh")
def hard_negative_mine_lsh_q(spark, sf_dir):
    img, cap = _pair_vecs(_t(spark, sf_dir, "embeddings"))
    return lsh_bucket_topk(cap, img, k=5, n_planes=4, n_tables=24).select(
        F.col("query_id").alias("anchor_pair_id"),
        F.col("neighbor_id").alias("neg_pair_id"),
        "rank", "score",
    )


@_q(
    "hard_negative_recall",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries, 5 AS k,
           0.8 AS floor, true AS recall_ge_floor
    FROM embeddings WHERE vec_id % 2 = 0
    """,
)
def hard_negative_recall_q(spark, sf_dir):
    img, cap = _pair_vecs(_t(spark, sf_dir, "embeddings"))
    return _recall_gate(
        lsh_bucket_topk(cap, img, k=5, n_planes=4, n_tables=24),
        cosine_topk(cap, img, k=5),
        img, k=5, floor=0.8,
    )


# Beyond-batch leg of crossmodal_recall (r4 VERDICT #5): caption->image
# retrieval via the LSH index instead of the anchor-bounded cross join.
# Gated as recall@5 of the LSH retrieval AGAINST the exact retrieval
# (identity ground truth is meaningless on the synthetic uncorrelated
# pair embeddings — agreement with exact is the quantity an index owes).
# Caption query ids are offset out of the image-id range so the
# self-match guard in both operators excludes nothing, consistently.
@_q(
    "crossmodal_recall_lsh",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries, 5 AS k,
           0.8 AS floor, true AS recall_ge_floor
    FROM embeddings WHERE vec_id % 2 = 1
    """,
)
def crossmodal_recall_lsh_q(spark, sf_dir):
    img, cap = _pair_vecs(_t(spark, sf_dir, "embeddings"))
    off = 1 << 40
    cap_q = cap.select((F.col("vec_id") + off).alias("vec_id"), "embedding")
    return _recall_gate(
        lsh_bucket_topk(img, cap_q, k=5, n_planes=4, n_tables=24),
        cosine_topk(img, cap_q, k=5),
        cap_q, k=5, floor=0.8,
    )


# Small-file compaction planning (storage/maintenance.py
# rewrite_data_files_plan): the Iceberg rewrite_data_files analog — files
# under the small threshold pack greedily into ~target-sized bins per
# table partition (one window exchange; the per-bin rollup rides the same
# partitioning); singleton bins don't rewrite; big files pass through
# with a NULL bin. The fixture mixes both branches and bin-boundary runs.
@_q(
    "compaction_plan",
    """
    WITH files AS (
      SELECT CAST(p_partkey % 16 AS INT) AS part_id, p_partkey AS file_id,
             CAST(CASE WHEN p_partkey % 7 = 0 THEN 50000
                       ELSE 1000 + (p_partkey * 7919) % 30000 END AS BIGINT)
               AS n_bytes
      FROM part),
    cand AS (SELECT * FROM files WHERE n_bytes < 32000),
    c AS (SELECT *, COALESCE(SUM(n_bytes) OVER (
              PARTITION BY part_id ORDER BY file_id, n_bytes
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM cand),
    b AS (SELECT part_id, file_id, n_bytes,
                 CAST(cum // 64000 AS BIGINT) AS bin FROM c),
    p AS (SELECT *, count(*) OVER (PARTITION BY part_id, bin) >= 2
                      AS do_rewrite FROM b)
    SELECT part_id, file_id, n_bytes, bin, do_rewrite FROM p
    UNION ALL
    SELECT part_id, file_id, n_bytes, CAST(NULL AS BIGINT) AS bin,
           FALSE AS do_rewrite
    FROM files WHERE n_bytes >= 32000
    """,
)
def compaction_plan_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.storage.maintenance import (
        rewrite_data_files_plan,
    )

    p = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    files = p.select(
        (pk % 16).cast("int").alias("part_id"),
        pk.alias("file_id"),
        F.when(pk % 7 == 0, F.lit(50000))
        .otherwise(F.lit(1000) + (pk * 7919) % 30000)
        .cast("long")
        .alias("n_bytes"),
    )
    return rewrite_data_files_plan(
        files, target_bytes=64000, small_threshold=32000, min_input_files=2
    )


# Snapshot retention planning (storage/maintenance.py
# snapshot_expiry_plan): the expire_snapshots analog — keep the newest
# retain_last, everything younger than the retention window relative to
# the newest snapshot (data-derived now: deterministic, replayable), and
# every ref head; reason reports the strongest rule. History-sized
# window, bounded by retention itself.
@_q(
    "snapshot_expiry",
    """
    WITH s AS (
      SELECT o_orderkey AS snapshot_id,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS committed_at_s,
             o_orderkey % 97 = 0 AS is_ref_head
      FROM orders WHERE o_orderkey % 67 = 0),
    r AS (SELECT snapshot_id, committed_at_s, is_ref_head,
                 row_number() OVER (ORDER BY committed_at_s DESC,
                                    snapshot_id DESC) AS age_rank,
                 committed_at_s >= max(committed_at_s) OVER () - 31536000
                   AS recent
          FROM s),
    f AS (SELECT snapshot_id, committed_at_s, CAST(age_rank AS INT) AS age_rank,
                 CASE WHEN is_ref_head THEN 'head'
                      WHEN age_rank <= 5 THEN 'retain_last'
                      WHEN recent THEN 'recent'
                      ELSE 'expire' END AS reason
          FROM r)
    SELECT snapshot_id, committed_at_s, age_rank,
           reason <> 'expire' AS keep, reason
    FROM f
    """,
)
def snapshot_expiry_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.storage.maintenance import (
        snapshot_expiry_plan,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 67 == 0)
    snaps = o.select(
        F.col("o_orderkey").alias("snapshot_id"),
        F.unix_timestamp("o_orderdate").cast("long").alias("committed_at_s"),
        (F.col("o_orderkey") % 97 == 0).alias("is_ref_head"),
    )
    return snapshot_expiry_plan(snaps, retain_last=5, retain_s=365 * 24 * 3600)


# CCNet-style LM perplexity filter (analytics/text.py
# lm_perplexity_filter): bigram add-one model counted over the
# deterministic reference slice (doc_id % 10 == 0), every document scored
# by mean -ln p(w2|w1), high-perplexity docs flagged. Count tables are
# vocabulary-sized (Heaps), the scoring join is the standard n-gram
# inverted-index shuffle. Per-bigram values rounded before the mean so
# the float result is partition-order-independent (matches the oracle).
@_q(
    "lm_perplexity",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    wf AS (SELECT * FROM w WHERE len(ws) >= 2),
    b AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                 i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS g
        FROM wf)),
    ref AS (SELECT * FROM b WHERE doc_id % 10 = 0),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM ref GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM ref GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS v FROM (
        SELECT w1 AS w FROM ref UNION ALL SELECT w2 FROM ref)),
    s AS (SELECT b.doc_id,
                 round(-ln((COALESCE(c2.c2, 0) + 1.0)
                           / (COALESCE(c1.c1, 0) + v.v)), 6) AS nlp
          FROM b LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
          CROSS JOIN v),
    a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 round(avg(nlp), 4) AS neg_logp
          FROM s GROUP BY doc_id)
    SELECT doc_id, n_bigrams, neg_logp, neg_logp <= 3.5 AS keep FROM a
    """,
)
def lm_perplexity_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import (
        lm_perplexity_filter,
    )

    return lm_perplexity_filter(
        _t(spark, sf_dir, "documents"), ref_mod=10, max_neg_logp=3.5
    )


# Curriculum training order (analytics/sampling.py curriculum_order):
# easy-to-hard value-equidistant difficulty buckets with a deterministic
# md5 within-bucket shuffle and gap-free global positions from a
# buckets-sized base rollup — NO corpus-sized global window in the plan.
@_q(
    "curriculum_order",
    """
    WITH src AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS difficulty
                 FROM documents),
    rng AS (SELECT min(difficulty) AS mn, max(difficulty) AS mx FROM src),
    bkt AS (SELECT doc_id, difficulty,
                   CAST(floor(8 * (difficulty - mn) / (mx - mn + 1)) AS INT)
                     AS bucket
            FROM src CROSS JOIN rng),
    pos AS (SELECT *, row_number() OVER (
                PARTITION BY bucket
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS p
            FROM bkt),
    sizes AS (SELECT bucket, count(*) AS n FROM pos GROUP BY bucket),
    bases AS (SELECT bucket, COALESCE(SUM(n) OVER (
                  ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS base
              FROM sizes)
    SELECT pos.doc_id, pos.difficulty, pos.bucket,
           CAST(bases.base + pos.p AS BIGINT) AS position
    FROM pos JOIN bases USING (bucket)
    """,
)
def curriculum_order_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.sampling import (
        curriculum_order,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("difficulty")
    )
    return curriculum_order(d, n_buckets=8)


# Tokenizer fertility audit (analytics/text.py tokenizer_fertility):
# tokens-per-word + bytes-per-token per language — the per-language
# tokenizer-coverage metrics (high fertility = the vocabulary
# under-serves that language and its effective context shrinks). Exact
# integer totals + 6-dp ratios; one hash agg on lang, scan-speed below.
@_q(
    "tokenizer_fertility",
    """
    WITH per AS (
      SELECT lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> w <> '')) AS w,
             len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS t,
             strlen(text) AS b
      FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(t) AS BIGINT) AS n_tokens,
           CAST(sum(b) AS BIGINT) AS n_bytes,
           round(sum(t) / CAST(sum(w) AS DOUBLE), 6) AS fertility,
           round(sum(b) / CAST(sum(t) AS DOUBLE), 6) AS bytes_per_token
    FROM per GROUP BY lang
    """,
)
def tokenizer_fertility_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.text import (
        tokenizer_fertility,
    )

    return tokenizer_fertility(_t(spark, sf_dir, "documents"))


# PQ reconstruction-error gate (analytics/similarity.py pq_encode): the
# compression-quality pin the code assignment alone can't give — mean
# relative reconstruction error  sum(dist^2)/||v||^2  over the CLUSTERED
# fixture must stay under 0.7 (measured 0.51-0.52 at every sf; on
# uniform vectors PQ can't compress — measured 1.05 — which is why the
# gate runs on the skewed fixture where structure exists). Same
# driver-visible gate pattern as the ANN recall / sketch rows.
@_q(
    "pq_recon_gate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors, 4 AS m, 16 AS n_codes,
           0.7 AS bound, TRUE AS recon_rel_le_bound
    FROM embeddings
    """,
)
def pq_recon_gate_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.analytics.similarity import (
        _norm,
        pq_encode,
    )

    e = _skew_vecs(_t(spark, sf_dir, "embeddings"))
    codes = pq_encode(e, m=4, n_codes=16)
    errs = codes.groupBy("vec_id").agg(
        F.sum(F.col("dist") * F.col("dist")).alias("_qe")
    )
    norms = e.select(
        "vec_id", (_norm(F.col("embedding")) ** 2).alias("_n2")
    )
    agg = errs.join(norms, "vec_id").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.avg(F.col("_qe") / F.col("_n2")).alias("_rel"),
    )
    return agg.select(
        "n_vectors",
        F.lit(4).alias("m"),
        F.lit(16).alias("n_codes"),
        F.lit(0.7).alias("bound"),
        (F.col("_rel") <= 0.7).alias("recon_rel_le_bound"),
    )


# Crawl-ops report (integration flagship for the OPS side, the
# counterpart of corpus_curation's data side): per-domain epoch health in
# ONE chained plan — outcome counts (error rate), trailing-window peak +
# budget compliance (rate_compliance_audit's RANGE frame), and session
# burstiness (crawl_sessions collapsed to count/longest). The oracle
# chains the same three CTE fragments, so alias/key drift BETWEEN the
# composed operators is driver-visible, not just each operator alone.
@_q(
    "crawl_ops_report",
    """
    WITH log AS (
      SELECT 'd' || CAST(user_id % 40 AS VARCHAR) AS domain,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             event_type = 'error' AS is_err
      FROM events),
    outc AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_fetches,
                    CAST(sum(CASE WHEN is_err THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_errors
             FROM log GROUP BY domain),
    win AS (SELECT domain,
                   count(*) OVER (PARTITION BY domain ORDER BY ts_s
                                  RANGE BETWEEN 9 PRECEDING AND CURRENT ROW)
                     AS in_win
            FROM log),
    pk AS (SELECT domain, CAST(max(in_win) AS BIGINT) AS peak_in_window
           FROM win GROUP BY domain),
    l AS (SELECT domain, ts_s,
                 lag(ts_s) OVER (PARTITION BY domain ORDER BY ts_s) AS prev
          FROM log),
    f AS (SELECT domain, ts_s,
                 CASE WHEN prev IS NULL OR ts_s - prev > 600
                      THEN 1 ELSE 0 END AS new_s
          FROM l),
    g AS (SELECT domain, ts_s,
                 SUM(new_s) OVER (PARTITION BY domain ORDER BY ts_s
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM f),
    sess AS (SELECT domain, sid, count(*) AS n FROM g GROUP BY domain, sid),
    sa AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_sessions,
                  CAST(max(n) AS BIGINT) AS longest_session
           FROM sess GROUP BY domain)
    SELECT outc.domain, n_fetches, n_errors, peak_in_window,
           peak_in_window <= 8 AS compliant,
           n_sessions, longest_session,
           5 * n_errors <= n_fetches AS healthy
    FROM outc JOIN pk USING (domain) JOIN sa USING (domain)
    """,
)
def crawl_ops_report_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        rate_compliance_audit,
    )
    from etherscan_contract_crawler_spark.streaming.lateness import (
        crawl_sessions,
    )

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("d"), (F.col("user_id") % 40).cast("string")).alias(
            "domain"
        ),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    outc = log.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum(F.col("is_err").cast("long")).alias("n_errors"),
    )
    # uniform budget 8/10s: reuse the audited RANGE-frame operator, then
    # keep its peak column (its n_fetches would collide with outc's)
    budgets = outc.select(
        "domain", F.lit(8).cast("long").alias("max_per_window")
    )
    comp = rate_compliance_audit(log, budgets, window_s=10).select(
        "domain", "peak_in_window", "compliant"
    )
    sess = (
        crawl_sessions(
            log.select(
                "domain",
                F.to_timestamp(F.from_unixtime(F.col("ts_s"))).alias("ts"),
            ),
            gap_s=600,
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.max("n_fetches").cast("long").alias("longest_session"),
        )
    )
    return (
        outc.join(comp, "domain")
        .join(sess, "domain")
        .select(
            "domain", "n_fetches", "n_errors", "peak_in_window", "compliant",
            "n_sessions", "longest_session",
            (5 * F.col("n_errors") <= F.col("n_fetches")).alias("healthy"),
        )
    )


# Exact proportional budget allocation (operators/politeness.py
# hamilton_allocate): split a global epoch capacity across domains
# proportionally to backlog with the largest-remainder rule —
# sum(alloc) == capacity EXACTLY under shortage, never exceeding any
# domain's own demand. Per-row arithmetic vs a broadcast total; the one
# global rank window is domain-dimension-sized, never URL-sized.
@_q(
    "budget_allocation",
    """
    WITH d AS (SELECT 'd' || CAST(c_custkey % 300 AS VARCHAR) AS domain,
                      CAST(count(*) AS BIGINT) AS n_pending
               FROM customer GROUP BY 1),
    t AS (SELECT SUM(n_pending) AS total FROM d),
    q AS (SELECT domain, n_pending, total,
                 500 * n_pending / CAST(total AS DOUBLE) AS quota
          FROM d CROSS JOIN t),
    b AS (SELECT *, CAST(floor(quota) AS BIGINT) AS base,
                 quota - floor(quota) AS rem FROM q),
    l AS (SELECT 500 - SUM(base) AS leftn FROM b),
    r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk
          FROM b CROSS JOIN l)
    SELECT domain, n_pending,
           CAST(CASE WHEN total <= 500 THEN n_pending
                     ELSE base + CASE WHEN rk <= leftn THEN 1 ELSE 0 END
                END AS BIGINT) AS alloc
    FROM r
    """,
)
def budget_allocation_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        hamilton_allocate,
    )

    c = _t(spark, sf_dir, "customer")
    demand = c.groupBy(
        F.concat(F.lit("d"), (F.col("c_custkey") % 300).cast("string")).alias(
            "domain"
        )
    ).agg(F.count("*").cast("long").alias("n_pending"))
    return hamilton_allocate(demand, capacity=500)


# Bloom URL-seen accuracy gate (operators/bloom.py SegmentStore): the
# segmented bloom store's two guarantees, driver-visible like the ANN
# recall rows — NO false negatives on the inserted set (the dedup
# correctness contract: a false negative would re-fetch a seen URL) and
# measured FPR on a disjoint fresh set under the configured
# bits_per_key=12 bound (theoretical ~0.3%; gate at 2%). Builds a real
# segment store in a temp dir (eager Spark build job, same applyInPandas
# path the engine runs per epoch) and probes both sets through the bloom
# pre-filter the exact probe runs. The result is collected before the temp
# dir is removed. Counts are oracle-checked; the two flags are the gate.
@_q(
    "bloom_fpr_gate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_seen,
           CAST(count(*) AS BIGINT) AS n_fresh,
           TRUE AS no_false_negatives, TRUE AS fpr_le_2pct
    FROM orders
    """,
)
def bloom_fpr_gate_q(spark, sf_dir):
    import shutil
    import tempfile

    from etherscan_contract_crawler_spark.operators.bloom import SegmentStore

    o = _t(spark, sf_dir, "orders")

    def keyed(prefix):
        sha = F.sha1(
            F.concat(F.lit(prefix), F.col("o_orderkey").cast("string"))
        )
        return o.select(
            sha.alias("url_sha1"),
            F.pmod(
                F.conv(F.substring(sha, 1, 4), 16, 10).cast("long"), F.lit(8)
            )
            .cast("int")
            .alias("domain_hash"),
        )

    seen, fresh = keyed("s"), keyed("f")
    root = tempfile.mkdtemp(prefix="bloom_gate_")
    try:
        store = SegmentStore(root, n_buckets=8, bits_per_key=12)
        store.build(seen, version=1)
        ps = store.probe(seen, 1).agg(
            F.count("*").cast("long").alias("n_seen"),
            F.sum((~F.col("bloom_maybe")).cast("long")).alias("_fn"),
        )
        pf = store.probe(fresh, 1).agg(
            F.count("*").cast("long").alias("n_fresh"),
            F.sum(F.col("bloom_maybe").cast("long")).alias("_fp"),
        )
        out = ps.crossJoin(F.broadcast(pf)).select(
            "n_seen",
            "n_fresh",
            (F.col("_fn") == 0).alias("no_false_negatives"),
            (F.col("_fp") * 50 <= F.col("n_fresh")).alias("fpr_le_2pct"),
        )
        rows = out.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


# Per-domain crawl sessions (streaming/lateness.py crawl_sessions):
# Spark's session_window primitive in batch mode — bursts separated by
# more than the gap collapse to one (start, last-event, count) row; the
# politeness-retuning read on a landing log. Oracle = gaps-and-islands
# (lag + boundary flag + running sum), pinning the boundary rule: an
# event exactly gap seconds after the previous one still EXTENDS the
# session (only strictly-greater gaps split).
@_q(
    "crawl_sessions",
    """
    WITH ev AS (
      SELECT 'd' || CAST(user_id % 40 AS VARCHAR) AS domain,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events),
    l AS (SELECT domain, ts_s,
                 lag(ts_s) OVER (PARTITION BY domain ORDER BY ts_s) AS prev
          FROM ev),
    f AS (SELECT domain, ts_s,
                 CASE WHEN prev IS NULL OR ts_s - prev > 600
                      THEN 1 ELSE 0 END AS new_s
          FROM l),
    g AS (SELECT domain, ts_s,
                 SUM(new_s) OVER (PARTITION BY domain ORDER BY ts_s
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM f)
    SELECT domain, CAST(min(ts_s) AS BIGINT) AS session_start_s,
           CAST(max(ts_s) AS BIGINT) AS session_end_s,
           CAST(count(*) AS BIGINT) AS n_fetches
    FROM g GROUP BY domain, sid
    """,
)
def crawl_sessions_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.streaming.lateness import (
        crawl_sessions,
    )

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("d"), (F.col("user_id") % 40).cast("string")).alias(
            "domain"
        ),
        F.to_timestamp(
            F.from_unixtime(F.unix_timestamp("ts"))
        ).alias("ts"),
    )
    return crawl_sessions(log, gap_s=600)


# Rendezvous (HRW) slot assignment (operators/politeness.py
# rendezvous_assign): the executor-affinity layer — a domain's fetch
# state (connection pool, robots cache, politeness window) lives on one
# slot, and rescaling 16 -> 20 slots must move only ~(20-16)/20 of the
# domains, not ~100% like hash-mod. md5-derived weights mirrored exactly
# in the oracle; zero shuffles past the distinct.
@_q(
    "rendezvous_assign",
    """
    WITH d AS (SELECT DISTINCT 'd' || CAST(o_custkey % 2000 AS VARCHAR)
                 AS domain FROM orders),
    h AS (SELECT domain,
            list_transform(range(0, 20), s ->
              CAST(('0x' || substr(md5(concat_ws('|', domain,
                     CAST(s AS VARCHAR), '11')), 1, 15)) AS BIGINT)) AS h20,
            list_transform(range(0, 16), s ->
              CAST(('0x' || substr(md5(concat_ws('|', domain,
                     CAST(s AS VARCHAR), '11')), 1, 15)) AS BIGINT)) AS h16
          FROM d)
    SELECT domain,
           CAST(list_indexof(h20, list_aggregate(h20, 'max')) - 1 AS INT)
             AS slot,
           CAST(list_indexof(h16, list_aggregate(h16, 'max')) - 1 AS INT)
             AS prev_slot,
           list_indexof(h20, list_aggregate(h20, 'max'))
             <> list_indexof(h16, list_aggregate(h16, 'max')) AS moved
    FROM h
    """,
)
def rendezvous_assign_q(spark, sf_dir):
    from etherscan_contract_crawler_spark.operators.politeness import (
        rendezvous_assign,
    )

    o = _t(spark, sf_dir, "orders")
    domains = o.select(
        F.concat(F.lit("d"), (F.col("o_custkey") % 2000).cast("string")).alias(
            "domain"
        )
    ).distinct()
    return rendezvous_assign(domains, n_slots=20, prev_slots=16, seed=11)


#: Driver-visible ordering (r4 VERDICT #1): the driver's correctness window
#: is ~50 rows/round while the registry holds 167+, so plain newest-first
#: starves older queries of driver rows forever.  DRIVER_SEEN.json (committed,
#: the union of names across all prior CORRECTNESS_r0*.json files) marks
#: which queries already have a driver row; queries() sorts the NEVER-seen
#: ones ahead of the veterans, newest-first within each class, so every
#: driver window spends its budget on queries that still lack driver
#: evidence.  tools/check_entry.py still runs every entry regardless of
#: order (CORRECTNESS_LOCAL artifact).
_DRIVER_SEEN_FILE = Path(__file__).resolve().parent / "DRIVER_SEEN.json"


def _driver_seen() -> set:
    try:
        return set(json.loads(_DRIVER_SEEN_FILE.read_text())["names"])
    except Exception:
        return set()


_NEWEST_FIRST = [
    # round 5
    "tokenizer_fertility", "pq_recon_gate", "crawl_ops_report", "budget_allocation", "bloom_fpr_gate", "crawl_sessions", "rendezvous_assign",
    "compaction_plan", "snapshot_expiry", "lm_perplexity",
    "curriculum_order",
    "ann_lsh_recall_skew", "ann_ivf_recall_skew",
    "hll_count_gate_skew", "quantile_sketch_gate_skew",
    "hard_negative_mine_lsh", "hard_negative_recall",
    "crossmodal_recall_lsh",
    # round 4
    "crossmodal_recall",
    "corpus_release_diff",
    "dataset_card",
    "quality_calibration",
    "zorder_layout",
    "fetch_status_matrix", "hll_count_gate", "quantile_sketch_gate",
    "discovery_refill", "a_href_extract",
    "shard_skew", "adaptive_politeness",
    "bpe_merge_mine", "outlink_spam_ratio",
    "rate_compliance", "tracking_param_mine",
    "seed_hop_distance", "late_data_audit", "image_watermark_gate",
    "depth_budget", "mixture_plan", "pmi_collocations", "recrawl_interval",
    "warc_pack", "ip_politeness", "frontier_gc", "trustrank_scores",
    "token_dist_shift",
    "image_blur_gate", "hashed_quality_score", "mime_sniff",
    "robots_wildcard_filter", "img_alt_srcset", "image_curation",
    "caption_filter",
    "gopher_rules", "image_channel_stats", "blocklist_filter", "c4_filters",
    "hreflang_extract", "error_spike_alert",
    "exif_gps_scrub", "kcenter_sample", "tfidf_cosine_pairs",
    "semdedup_prune", "pq_codes", "containment_pairs", "host_lang_majority",
    "span_dedup", "zipf_slope", "host_fanin_prior", "url_alias_groups",
    "corpus_token_budget", "cdx_revisit_dedup", "weighted_sample",
    "phash_components", "minhash_est_quality", "sitemap_refresh_set",
    "rel_canonical", "doc_dup_fraction",
    "surt_key", "meta_robots_gate",
    "charset_detect", "html_text_extract", "bigram_familiarity",
    "exif_metadata",
    "crawl_delay_budget",
    "caption_canonical",
    "boilerplate_strip",
    "sitemap_diff",
    "hard_negative_mine",
    "url_canonicalize", "robots_sitemaps", "rss_ingest",
    "cache_policy_revisit",
    "sitemap_ingest", "frontier_refill", "source_overlap",
    "anchor_text_agg", "ngram_novelty", "shard_assign", "aspect_bucket",
    "oov_rate",
    "pii_detect", "pii_redact", "multimodal_gate", "image_dedup_keep",
    "redirect_resolution", "phash_incremental", "source_mix_sample",
    "sequence_pack", "url_template_mine", "inverted_index",
    "corpus_curation", "ann_lsh_recall", "ann_ivf_recall",
    "simhash_neardup", "tfidf_top_terms",
    "passage_dedup", "dedup_incremental", "source_quality_rollup",
    "hits_scores", "crawl_trap_filter", "recrawl_lanes",
    "caption_alignment", "domain_budget",
    # round 3 (never appeared in a driver CORRECTNESS file)
    "pagerank_priority", "asof_join_clicks", "range_join_events",
    "stratified_sample", "top_tokens_lang", "phash_neardup",
    "corpus_length_quantiles", "dedup_canonical", "decontam_ngram_overlap",
    "embedding_centroids", "doc_repetition",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    pref = [n for n in _NEWEST_FIRST if n in QUERIES]
    ordered = pref + [n for n in QUERIES if n not in set(pref)]
    seen = _driver_seen()
    ordered = [n for n in ordered if n not in seen] + [
        n for n in ordered if n in seen
    ]
    return {n: QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in queries() if n in ORACLES}
