"""W1/W2 — priority ordering + per-domain politeness windows, skew-guarded.

Reference semantics re-expressed:
  * crawl ordering — the reference iterates pages 1..20 then rows
    (contract_crawler.py:316-325) and, on the CSV path, a hash-ordered Python
    set (:468-471, nondeterministic — SURVEY.md §8 B4). The engine pins the
    canonical order (priority DESC, next_fetch_time ASC, url_sha1 ASC).
  * politeness — the intended-but-dead rate limiter ``@limits(calls=5,
    period=1)`` (contract_crawler.py:372-375, §8 B1) becomes a *data* plan:
    per-domain row_number -> fetch_slot -> scheduled offset. No wall-clock
    sleeps in the plan; the fetcher honors the offsets.

Skew: a hot domain makes ``Window.partitionBy(domain)`` a single giant
partition. The admission filter carries a LITERAL rank bound
(``rn <= max_capacity``) alongside the per-row ``rn <= capacity``, which
Catalyst rewrites into a map-side partial ``WindowGroupLimit`` BEFORE the
exchange — every map task forwards at most max_capacity rows per domain, so
the reduce-side partition for a hot domain is bounded by
``max_capacity * n_map_partitions`` regardless of input skew, with one
shuffle of the pending set. (Verified in tests: the physical plan must
contain a Partial WindowGroupLimit below the Exchange.)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: reference's intended budget: 5 calls / 1 s (contract_crawler.py:373)
DEFAULT_MAX_CALLS = 5
DEFAULT_PERIOD_S = 1

def canonical_order() -> list:
    """The engine's pinned crawl order (SURVEY.md §8 B4)."""
    return [
        F.col("priority").desc(),
        F.col("next_fetch_time").asc(),
        F.col("url_sha1").asc(),
    ]


def with_budget(pending: DataFrame, budgets: DataFrame | None) -> DataFrame:
    """Broadcast-join the per-domain budget dim (FIXTURES.md §5); defaults to
    the reference's intended 5 calls / 1 s."""
    if budgets is None:
        return pending.withColumn("max_calls", F.lit(DEFAULT_MAX_CALLS)).withColumn(
            "period_s", F.lit(DEFAULT_PERIOD_S)
        )
    return pending.join(F.broadcast(budgets), on="domain", how="left").fillna(
        {"max_calls": DEFAULT_MAX_CALLS, "period_s": DEFAULT_PERIOD_S}
    )


def robots_filter(pending: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop URLs disallowed by the robots cache dim.

    ``robots`` schema: domain string, disallow array<string> (verbatim RFC
    9309 rules — plain prefixes, ``*`` wildcards, terminal ``$`` anchors).
    Broadcast hash join + higher-order ``aggregate`` — no UDF. Literal
    rules take the fast ``startswith`` path; wildcard rules compile to an
    anchored Java regex inside the same lambda (escape metachars, ``*`` →
    ``.*``, terminal ``$`` → end anchor), all JVM-side.
    """
    if robots is None:
        return pending
    path = F.parse_url(F.col("url_canon"), F.lit("PATH"))

    def rule_rank(p):
        """Octet length of rule ``p`` when it matches the path, else -1.
        RFC 9309 §2.2.2 specificity = most octets of the RAW rule."""
        literal = (~p.contains("*")) & (~p.contains("$"))
        had_dollar = p.endswith("$")
        body = F.when(
            had_dollar, p.substr(F.lit(1), F.length(p) - 1)
        ).otherwise(p)
        esc = F.regexp_replace(body, r"([.\[\]{}()+\-^$|?\\])", r"\\$1")
        reg = F.concat(
            F.lit("^"),
            F.replace(esc, F.lit("*"), F.lit(".*")),
            F.when(had_dollar, F.lit("$")).otherwise(F.lit("")),
        )
        matched = F.when(literal, path.startswith(p)).otherwise(
            F.regexp_like(path, reg)
        )
        return F.when(matched, F.length(p)).otherwise(F.lit(-1))

    def best_match(rules_col):
        """Rank of the most specific rule matching the path; -1 when none
        match — one F.aggregate pass over the (small) rule array."""
        return F.aggregate(
            rules_col,
            F.lit(-1),
            lambda acc, p: F.greatest(acc, rule_rank(p)),
        )

    # RFC 9309 §2.2.2: the most specific (longest) matching rule wins;
    # on a tie the least restrictive (Allow) wins. No Allow column on the
    # dim (older producers) degrades to Disallow-prefix-any.
    has_allow = "allow" in robots.columns
    cols = ["domain", "disallow"] + (["allow"] if has_allow else [])
    # select the columns this filter consumes — the robots dim also carries
    # crawl_delay (budgets_with_crawl_delay's input), which must not leak
    # into the pending schema
    joined = pending.join(
        F.broadcast(robots.select(*cols)), on="domain", how="left"
    )
    best_dis = best_match(F.coalesce(F.col("disallow"), F.array()))
    if has_allow:
        best_alw = best_match(F.coalesce(F.col("allow"), F.array()))
        blocked = best_dis > best_alw
    else:
        blocked = best_dis >= 0
    return joined.filter(~blocked).drop(*[c for c in cols if c != "domain"])


def budgets_with_crawl_delay(
    budgets: DataFrame | None,
    robots: DataFrame,
    default_max_calls: int = DEFAULT_MAX_CALLS,
    default_period_s: float = DEFAULT_PERIOD_S,
) -> DataFrame:
    """Fold declared ``Crawl-delay`` into the per-domain budget dim.

    RFC 9309's (de-facto) Crawl-delay of D seconds means at most ONE fetch
    per D seconds, so a declaring domain gets ``max_calls = 1`` and
    ``period_s = greatest(configured period, D)`` — the declared delay is a
    FLOOR under the operator's own politeness, never a license to go
    faster. Domains without a delay keep their configured (or default)
    budget; delay-declaring domains absent from the configured dim enter it
    (full-outer join on the two dim tables — both broadcast-small by
    contract, so this is a dim-build step, never a frontier-sized job).

    Output schema == with_budget's input: (domain, max_calls, period_s).
    """
    delays = robots.where(F.col("crawl_delay").isNotNull()).select(
        "domain", "crawl_delay"
    )
    if budgets is None:
        return delays.select(
            "domain",
            F.lit(1).alias("max_calls"),
            F.greatest(
                F.lit(float(default_period_s)), F.col("crawl_delay")
            ).alias("period_s"),
        )
    joined = budgets.join(delays, on="domain", how="full_outer")
    base_period = F.coalesce(F.col("period_s"), F.lit(float(default_period_s)))
    return joined.select(
        "domain",
        F.when(F.col("crawl_delay").isNotNull(), F.lit(1))
        .otherwise(F.coalesce(F.col("max_calls"), F.lit(default_max_calls)))
        .alias("max_calls"),
        F.when(
            F.col("crawl_delay").isNotNull(),
            F.greatest(base_period, F.col("crawl_delay")),
        ).otherwise(base_period).alias("period_s"),
    )


def max_epoch_capacity(
    budgets: DataFrame | None, epoch_duration_s: int
) -> int:
    """Driver-side max per-domain capacity for one epoch — the literal rank
    bound that turns the admission window into a WindowGroupLimit plan. The
    budgets dim is broadcast-small by contract, so the agg is a tiny job;
    the engine computes this ONCE per run, not per epoch."""
    default_cap = DEFAULT_MAX_CALLS * (epoch_duration_s // DEFAULT_PERIOD_S)
    if budgets is None:
        return default_cap
    row = budgets.agg(
        F.max(
            (F.col("max_calls") * F.floor(F.lit(epoch_duration_s) / F.col("period_s"))).cast(
                "int"
            )
        ).alias("m")
    ).collect()[0]
    return max(default_cap, int(row["m"] or 0))


def schedule_epoch(
    pending: DataFrame,
    budgets: DataFrame | None = None,
    robots: DataFrame | None = None,
    epoch_duration_s: int = 60,
    batch_size: int | None = None,
    max_capacity: int | None = None,
    topk_state: dict | None = None,
    defer_cap: bool = False,
) -> DataFrame:
    """Produce the ordered, admitted fetch batch for one epoch.

    Output adds: rn (per-domain rank), fetch_slot, scheduled_offset_s.
    Admission: rn <= max_calls * floor(epoch_duration_s / period_s).
    Global cap: top-``batch_size`` in canonical order via ``global_topk``.

    One window, skew-guarded by the map-side partial WindowGroupLimit the
    literal ``rn <= max_capacity`` conjunct unlocks (module doc).
    ``topk_state``: optional mutable dict reused across epochs so the global
    cap can skip its boundary-sampling job (see ``global_topk``).
    """
    pending = robots_filter(pending, robots)
    pending = with_budget(pending, budgets)
    capacity = (F.col("max_calls") * F.floor(F.lit(epoch_duration_s) / F.col("period_s"))).cast(
        "int"
    )
    pending = pending.withColumn("capacity", capacity)
    if max_capacity is None:
        max_capacity = max_epoch_capacity(budgets, epoch_duration_s)
    # literal conjunct FIRST: Catalyst's InferWindowGroupLimit extracts the
    # literal bound and plants a Partial WindowGroupLimit below the
    # exchange; the per-row capacity conjunct stays exact
    rank_filter = (F.col("rn") <= F.lit(int(max_capacity))) & (
        F.col("rn") <= F.col("capacity")
    )

    w = Window.partitionBy("domain").orderBy(*canonical_order())
    admitted = (
        pending.withColumn("rn", F.row_number().over(w))
        .filter(rank_filter)
        .withColumn("fetch_slot", ((F.col("rn") - 1) / F.col("max_calls")).cast("int"))
        .withColumn(
            "scheduled_offset_s", (F.col("fetch_slot") * F.col("period_s")).cast("double")
        )
        .drop("capacity")
    )
    if batch_size is not None:
        admitted = global_topk(admitted, batch_size, state=topk_state, defer=defer_cap)
    return admitted


#: canonical order as ONE ascending-comparable struct. Priority is negated;
#: ``c`` puts NaN priorities first and NULL ones last, as ``priority DESC``
#: does (a negated NaN would sort last). A struct comparison orders doubles
#: as Spark's sort does (-0.0 = 0.0) and NULL fields first, as the ASC
#: columns do.
_ORDER_KEY_SQL = (
    "named_struct('c', CASE WHEN isnan(priority) THEN 0 WHEN priority IS NULL THEN 2 ELSE 1 END, "
    "'p', -priority, 't', next_fetch_time, 'u', url_sha1)"
)


def _double_sql(x: float) -> str:
    """Exact double literal: ``repr`` round-trips; NaN and the infinities
    have no literal syntax, so they are string casts."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _key_literal_sql(boundary: tuple) -> str:
    """``_ORDER_KEY_SQL`` of a sampled (priority, next_fetch_time micros,
    url_sha1) row as a literal. The time stays epoch micros (a datetime
    would re-enter the local time-zone conversion); strings are escaped."""
    p, t, u = boundary
    c = 2 if p is None else 0 if math.isnan(p) else 1
    p_sql = "CAST(NULL AS DOUBLE)" if p is None else _double_sql(-float(p))
    t_sql = "CAST(NULL AS TIMESTAMP)" if t is None else f"timestamp_micros({int(t)})"
    u_sql = (
        "CAST(NULL AS STRING)"
        if u is None
        else "'" + u.replace("\\", "\\\\").replace("'", "\\'") + "'"
    )
    return f"named_struct('c', {c}, 'p', {p_sql}, 't', {t_sql}, 'u', {u_sql})"


def _bucket_sql(boundaries: list) -> str:
    """Bucket of a row = number of boundaries at or before it, as a binary
    search over the (canonically sorted) boundaries: a CASE WHEN tree of
    depth ceil(log2(len + 1)) in which each boundary is compared once."""

    def node(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi + 1) // 2
        return (
            f"CASE WHEN {_ORDER_KEY_SQL} >= {_key_literal_sql(boundaries[mid - 1])} "
            f"THEN {node(mid, hi)} ELSE {node(lo, mid - 1)} END"
        )

    return node(0, len(boundaries))


def _swap_release(state: dict, df: DataFrame) -> None:
    """Record ``df`` as the deferred cache to release, unpersisting any
    predecessor first — an epoch that aborted between scheduling and
    landing never reached the engine's release point, and overwriting the
    key silently would leak that cached pending set for the session."""
    prev = state.pop("_release", None)
    # identity guard: persist() returns the SAME DataFrame object, so if a
    # caller re-schedules the identical input the predecessor IS the new
    # cache — unpersisting it would evict what we are about to defer
    if prev is not None and prev is not df:
        prev.unpersist()
    state["_release"] = df


def global_topk(
    df: DataFrame,
    k: int,
    n_buckets: int = 64,
    sample_n: int = 4000,
    state: dict | None = None,
    defer: bool = False,
) -> DataFrame:
    """Exact global top-k in canonical order, fully distributed.

    ``orderBy().limit(k)`` plans TakeOrderedAndProject: every partition's
    top-k funnels into ONE merge task — fine for tiny k, a serial wall for
    batch caps in the 10^5-10^7 range. Instead:

    1. obtain ~n_buckets boundary LITERALS baked into the plan — the bucket
       of a row is a pure function of its values, so it is deterministic
       across jobs (``spark_partition_id`` is NOT: AQE may coalesce the same
       shuffle differently per query — a correctness trap this function
       deliberately avoids). The bucket (how many boundaries sort at or
       before the row) is a binary-search CASE WHEN tree of struct
       comparisons between the row's order key and those literals: about
       log2(n_buckets) codegen'd comparisons per row;
    2. count rows per bucket (tiny driver collect);
    3. keep buckets wholly inside the cap; row_number-filter only the single
       boundary bucket.

    The tree is built as ONE ``F.expr`` SQL string because each Column API
    call is a py4j round trip: composing the same tree (or the former sum
    of one ``when`` per boundary) from Column objects costs thousands of
    round trips per call, seconds of driver time every epoch before any
    job runs. It is not ``size(filter(array(...)))`` either: a
    higher-order function runs interpreted, an order of magnitude slower
    per row than the codegen'd CASE tree.

    ``state`` (r2 VERDICT #1): a mutable dict owned by the caller. The
    boundaries only steer bucket BALANCE, never correctness (the counts job
    decides the cutoff exactly every time), so an epoch can reuse the
    previous epoch's boundaries and skip the sampling job entirely — one
    fewer wave over the pending set. When the counts show the reused
    boundaries have gone stale (one bucket hogging the rows), the entry is
    dropped and the next epoch resamples.

    ``defer`` (round 3b, requires ``state``): skip the eager
    materialization of the capped batch — the boundary-bucket window runs
    inside the FIRST CONSUMER's job (the engine's landing write, which
    caches the batch anyway) instead of as its own wave here. Correctness
    is unchanged: the cutoff (boundary bucket + quota) is already frozen
    as literals from the counts job, and that job fully materialized the
    persisted input, so the deferred window is a deterministic read of the
    cache. The input stays persisted until the caller releases
    ``state["_release"]`` (after its own cache materializes).
    """
    # the upstream scheduling DAG (probe + admission window over the full
    # pending set) is executed by multiple jobs here ([sample,] bucket
    # counts, consumer) — persist it for the duration so it runs ONCE, and
    # so all jobs see the identical row set (determinism no longer rests on
    # the DAG re-evaluating identically under AQE/retries — r1 ADVICE)
    df = df.persist()
    boundaries = state.get("boundaries") if state else None
    if boundaries is None:
        # Spark sorts the sample: the bucket tree is only monotone if the
        # boundaries are in the order the key comparisons use (NaN, -0.0,
        # NULLs), which a Python sort of the collected values does not
        # reproduce
        sample = [
            tuple(r)
            for r in df.select(
                "priority", F.unix_micros("next_fetch_time").alias("next_fetch_time"), "url_sha1"
            )
            .sample(0.05, seed=7)
            .limit(sample_n)
            .orderBy(*canonical_order())
            .collect()
        ]
        if len(sample) < 8:
            # tiny input — the single-merge TakeOrdered plan is optimal there
            out = df.orderBy(*canonical_order()).limit(k)
            if defer and state is not None:
                _swap_release(state, df)
                return out
            out = out.persist()
            out.count()
            df.unpersist()
            return out
        step = max(1, len(sample) // n_buckets)
        boundaries = sample[step::step][: n_buckets - 1]

    bucketed = df.withColumn("_bk", F.expr(_bucket_sql(boundaries)))
    counts = dict(
        (r["_bk"], r["n"])
        for r in bucketed.groupBy("_bk").agg(F.count("*").alias("n")).collect()
    )
    if state is not None:
        total = sum(counts.values())
        # reusable while balanced; stale boundaries cost (at worst) one big
        # boundary-bucket window next epoch — never a wrong answer
        if counts and total > 8 * n_buckets and max(counts.values()) > total // 4:
            state.pop("boundaries", None)
        else:
            state["boundaries"] = boundaries
    taken = 0
    boundary_bk, quota = None, 0
    for bk in sorted(counts):
        if taken + counts[bk] <= k:
            taken += counts[bk]
        else:
            boundary_bk, quota = bk, k - taken
            break
    if boundary_bk is None:  # fewer than k rows in total
        out = bucketed.drop("_bk")
    else:
        w = Window.partitionBy("_bk").orderBy(*canonical_order())
        # _bk <= boundary_bk as one key comparison (buckets are monotone in
        # the key): a filter on _bk would get the whole tree substituted in
        # with this epoch's cutoff folded into its leaves — a tree-sized
        # stage Spark then compiles afresh every epoch
        kept = bucketed
        if boundary_bk < len(boundaries):
            upper = _key_literal_sql(boundaries[boundary_bk])
            kept = bucketed.filter(F.expr(f"{_ORDER_KEY_SQL} < {upper}"))
        out = (
            kept.withColumn("_grn", F.row_number().over(w))
            .filter((F.col("_bk") < boundary_bk) | (F.col("_grn") <= quota))
            .drop("_bk", "_grn")
        )
    if defer and state is not None:
        # deferred: the first consumer materializes the batch; the caller
        # unpersists state["_release"] once its own cache is warm
        _swap_release(state, df)
        return out
    # materialize the capped batch from the cached input, then release it —
    # downstream consumers (fetch job, url_seen merge) read this cache, not
    # a re-run of the scheduling DAG
    out = out.persist()
    out.count()
    df.unpersist()
    return out


def ip_admission(
    pending: DataFrame,
    budget_per_ip: int = 4,
    prefix_len: int = 6,
    domain_col: str = "domain",
    key_col: str = "url_key",
    priority_col: str = "priority",
) -> DataFrame:
    """Per-IP politeness admission — the layer below per-domain budgets.

    Real politeness is owed to the SERVER, not the hostname: virtual
    hosting maps thousands of registrable domains to one address (and one
    origin rate limit), so a domain-keyed budget alone can hammer a shared
    host with domains × budget concurrent fetches. The reference has no
    politeness at all (its @limits decorator is dead code,
    contract_crawler.py:372-375); a web-scale crawler runs BOTH windows.

    Domains are bucketed by a deterministic resolver stub — the first
    ``prefix_len`` hex chars of md5(domain) stand in for the resolved
    /24. In production the bucket id is just a join key: swap the md5
    expression for a broadcast join against a DNS dim table (domain →
    ip24) refreshed per epoch; the admission window below is unchanged.

    Output: one row per candidate with its ``fetch_slot`` within the IP
    group — slot s fetches no earlier than ``epoch_start + s * period``,
    exactly like the per-domain scheduler (schedule_epoch), so the two
    windows compose by taking the max of the two slots.

    Scale notes: ONE exchange, on ip_group — same shape as the domain
    admission window, and the md5 bucketing is itself the skew guard
    (a hot registrable domain's subdomains scatter over buckets; a hot
    shared host is genuinely one server's queue, which is the semantics).
    row_number + the literal slot arithmetic stay whole-stage codegen.
    """
    ip = F.substring(F.md5(F.col(domain_col)), 1, prefix_len)
    w = Window.partitionBy("ip_group").orderBy(
        F.col(priority_col).desc(), F.col(key_col).asc()
    )
    return (
        pending.withColumn("ip_group", ip)
        .withColumn("rn", F.row_number().over(w))
        .select(
            key_col,
            domain_col,
            "ip_group",
            priority_col,
            F.expr(f"CAST((rn - 1) DIV {int(budget_per_ip)} AS INT)").alias(
                "fetch_slot"
            ),
        )
    )


def depth_budget(
    pending: DataFrame,
    base_budget: int = 16,
    domain_col: str = "domain",
    path_col: str = "path",
    key_col: str = "url_key",
    priority_col: str = "priority",
) -> DataFrame:
    """Depth-decayed per-domain admission — BFS-shaped frontier spending.

    Classic crawler policy (Najork & Wiener, WWW 2001: breadth-first order
    finds high-quality pages first): budget per (domain, depth) halves each
    path level — ``max(base_budget >> depth, 1)`` — so a domain's allotment
    goes to its shallow, high-value pages and deep calendar/pagination
    tails can't starve the rest. Depth = count of non-empty path segments,
    computed from the canonicalized path. Complements the time-slot window
    (schedule_epoch orders WHEN; this caps HOW MANY per depth).

    Returns every candidate with (depth, rn, admitted) — callers filter
    ``admitted`` for the scheduled set and keep the rest for audit.

    Scale notes: one exchange, on (domain, depth) — finer than the domain
    window, so hot domains additionally spread across depth partitions
    (mild free de-skew). Segment counting is a codegen filter+size over
    split; the shifted budget is a literal expression, no dim join.
    """
    segs = F.filter(
        F.split(F.col(path_col), "/"), lambda s: s != F.lit("")
    )
    depth = F.size(segs)
    w = Window.partitionBy(domain_col, "depth").orderBy(
        F.col(priority_col).desc(), F.col(key_col).asc()
    )
    # Spark's shiftright inherits Java's shift-count masking (count mod 32/64),
    # so shiftright(16, 32) == 16 — a 32-segment spider-trap URL would get the
    # FULL budget back. Cap the shift count below the mask boundary; DuckDB's
    # `>>` saturates to 0 naturally, and greatest(...,1) makes both floors 1.
    budget = F.greatest(
        F.expr(f"shiftright({int(base_budget)}, least(depth, 30))"), F.lit(1)
    )
    return (
        pending.withColumn("depth", depth.cast("int"))
        .withColumn("rn", F.row_number().over(w))
        .select(
            key_col,
            domain_col,
            "depth",
            priority_col,
            "rn",
            (F.col("rn") <= budget).alias("admitted"),
        )
    )


def rate_compliance_audit(
    fetch_log: DataFrame,
    budgets: DataFrame,
    window_s: int = 10,
    domain_col: str = "domain",
    ts_col: str = "ts_s",
    max_col: str = "max_per_window",
) -> DataFrame:
    """Audit a fetch log against per-domain politeness budgets.

    The closing half of the politeness contract: schedule_epoch PLANS
    fetches inside budget; this PROVES a recorded log stayed inside it —
    the compliance check a crawl operator runs per epoch (and the test a
    CI harness runs against the reference's intended-but-dead 5-calls/1-s
    limit, contract_crawler.py:372-375). For every fetch, the number of
    same-domain fetches in the trailing ``window_s`` seconds (RANGE frame
    over integer epoch seconds) is compared with the domain's budget;
    one row per domain reports the peak and the violation count. Domains
    fetched but MISSING from the budgets dim stay in the report, audited
    against DEFAULT_MAX_CALLS (with_budget's fallback) — never dropped.

    Returns (domain, n_fetches, peak_in_window, n_violations, compliant).

    Scale notes: ONE exchange on domain — the RANGE-frame count is a
    streaming frame within the sorted partition (same machinery as the
    error-spike alert), the rollup reuses the partitioning map-side, and
    the budget dim joins broadcast. The frame width is the literal audit
    granularity; per-domain budgets vary via the dim, so no per-row frame
    bound is needed (Spark requires foldable frame bounds).
    """
    w = (
        Window.partitionBy("domain")
        .orderBy("_ts")
        .rangeBetween(-(int(window_s) - 1), 0)
    )
    # LEFT join + default (with_budget's pattern): a fetched domain MISSING
    # from the budgets dim is precisely what a compliance audit must surface
    # — an inner join would silently drop it from the report
    base = (
        fetch_log.select(
            F.col(domain_col).alias("domain"),
            F.col(ts_col).cast("long").alias("_ts"),
        )
        .join(
            F.broadcast(
                budgets.select(
                    F.col(domain_col).alias("domain"),
                    F.col(max_col).cast("long").alias("_max"),
                )
            ),
            on="domain",
            how="left",
        )
        .fillna({"_max": DEFAULT_MAX_CALLS})
    )
    scored = base.withColumn("_in_win", F.count("*").over(w))
    return scored.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.max("_in_win").cast("long").alias("peak_in_window"),
        F.sum((F.col("_in_win") > F.col("_max")).cast("long")).alias(
            "n_violations"
        ),
        (F.sum((F.col("_in_win") > F.col("_max")).cast("long")) == 0).alias(
            "compliant"
        ),
    )


def adaptive_politeness(
    fetch_stats: DataFrame,
    base_budget: int = 8,
    domain_col: str = "domain",
    ok_col: str = "n_ok",
    total_col: str = "n_total",
) -> DataFrame:
    """Error-feedback politeness: shrink a domain's budget by its failure
    rate.

    A domain answering 429/5xx is telling the crawler to back off — the
    adaptive rule every production crawler runs on top of static budgets
    (and the reference approximates with sleep-on-error,
    blockchain-multichain-monitor.py:108-116, as a global pause instead
    of a per-domain rate). Next epoch's budget scales with the observed
    success rate, floored at one probe so a recovering domain is still
    sampled: ``budget' = max(1, (base · n_ok) DIV n_total)``. Integer
    division — deterministic, oracle-exact — and monotone: more failures
    never raise the budget.

    Returns (domain, n_ok, n_total, budget) — a drop-in budgets dim for
    with_budget/schedule_epoch next epoch.

    Scale notes: input is the landing stats rollup (domain cardinality,
    already aggregated by the epoch's stat pass — engine/crawl.py derives
    it from the landed files' footer scan); this is a pure codegen
    projection over it. No shuffle, no join.
    """
    ok = F.col(ok_col).cast("long")
    tot = F.col(total_col).cast("long")
    return fetch_stats.select(
        F.col(domain_col).alias("domain"),
        ok.alias("n_ok"),
        tot.alias("n_total"),
        F.greatest(
            F.expr(f"({int(base_budget)} * CAST({ok_col} AS BIGINT)) DIV "
                   f"greatest(CAST({total_col} AS BIGINT), 1)"),
            F.lit(1),
        )
        .cast("long")
        .alias("budget"),
    )


def rendezvous_assign(
    domains: DataFrame,
    n_slots: int,
    prev_slots: int | None = None,
    domain_col: str = "domain",
    seed: int = 11,
) -> DataFrame:
    """Highest-random-weight (rendezvous) assignment of domains to fetcher
    slots — the executor-affinity layer of a 1000-executor crawl.

    A domain's fetch state (connection pool, robots cache, politeness
    window) should live on ONE executor slot; plain ``hash(domain) % n``
    reassigns ~100% of domains when n changes, destroying every warm
    cache on rescale. Rendezvous hashing assigns ``argmax over s of
    h(domain, s)`` — when n grows to n', only the domains whose argmax
    lands in the NEW slots move (expected fraction (n'-n)/n'), everything
    else stays put. The reference has no distribution layer at all (one
    Python process, contract_crawler.py:471-490).

    Pure Column plan: the k candidate hashes per domain are a transform
    over a literal slot sequence (k = n_slots, a cluster-size constant,
    never data-sized), the argmax an ``array_position`` over ``array_max``
    — zero shuffles, zero UDFs. With ``prev_slots`` set, also emits the
    previous assignment and a ``moved`` flag so the rescale cost is a
    one-scan audit.

    Returns ``(domain, slot[, prev_slot, moved])``.
    """

    def slot_for(n: int) -> Column:
        # md5-derived 60-bit weights (not xxhash64) so the DuckDB oracle
        # re-derives the identical assignment; first-match argmax keeps
        # ties deterministic (lowest slot wins) on both engines
        hs = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda s: F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col(domain_col),
                            s.cast("string"),
                            F.lit(str(seed)),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
        return (F.array_position(hs, F.array_max(hs)) - 1).cast("int")

    if prev_slots is None:
        return domains.select(
            F.col(domain_col).alias("domain"), slot_for(n_slots).alias("slot")
        )
    return domains.select(
        F.col(domain_col).alias("domain"),
        slot_for(n_slots).alias("slot"),
        slot_for(prev_slots).alias("prev_slot"),
    ).withColumn("moved", F.col("slot") != F.col("prev_slot"))


def hamilton_allocate(
    demand: DataFrame,
    capacity: int,
    key_col: str = "domain",
    demand_col: str = "n_pending",
) -> DataFrame:
    """Exact proportional budget allocation (Hamilton / largest-remainder):
    split a global epoch fetch capacity across domains proportionally to
    backlog, in integers, with ``sum(alloc) == min(capacity,
    total_demand)`` EXACTLY — the follow-the-remainder rule electoral
    apportionment uses, applied to the scheduler's capacity knob
    (max_epoch_capacity hands this operator the number it derives).

    When capacity covers total demand every domain gets its full backlog.
    Otherwise ``alloc = floor(capacity * d_i / total) (+1 for the
    largest-remainder domains until the capacity is exact)``. Because
    ``quota_i < d_i`` strictly under shortage, ``floor(quota)+1 <=
    ceil(quota) <= d_i`` — an allocation can never exceed the domain's
    own demand. Ties break (remainder desc, domain asc) so the result is
    total-order deterministic on both engines.

    Scale: all arithmetic is per-row against a broadcast 1-row total; the
    single global remainder-rank window is DOMAIN-count-sized (the
    politeness dimension, millions of rows at worst — the same class as
    mixture_plan's source dimension), never URL-sized.
    """
    d = demand.select(
        F.col(key_col).alias("domain"),
        F.col(demand_col).cast("long").alias("n_pending"),
    )
    tot = d.agg(F.sum("n_pending").alias("_total"))
    q = d.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_pending",
        "_total",
        (F.lit(int(capacity)) * F.col("n_pending") / F.col("_total")).alias("_quota"),
    )
    base = q.select(
        "domain",
        "n_pending",
        "_total",
        F.floor("_quota").cast("long").alias("_base"),
        (F.col("_quota") - F.floor("_quota")).alias("_rem"),
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("domain"))
    short = base.crossJoin(
        F.broadcast(
            base.agg((F.lit(int(capacity)) - F.sum("_base")).alias("_left"))
        )
    ).withColumn("_rk", F.row_number().over(w))
    alloc = F.when(
        F.col("_total") <= capacity, F.col("n_pending")
    ).otherwise(
        F.col("_base") + (F.col("_rk") <= F.col("_left")).cast("long")
    )
    return short.select(
        "domain", "n_pending", alloc.cast("long").alias("alloc")
    )
