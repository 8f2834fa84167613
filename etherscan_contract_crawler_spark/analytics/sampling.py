"""Deterministic stratified sampling + per-group top-k tokens.

Training-data pipelines sample per source/language quota ("keep 10% of
common-crawl, 100% of wikipedia") and audit vocabularies per stratum. Both
must be DETERMINISTIC at 100 TB — a re-run, a replay after a crash, or a
different executor count must select the identical rows, which rules out
``df.sample`` (seeded per-partition, so partition layout changes the
selection). The selector here is a pure function of the ROW: keep a row iff
the first 4 hex chars of md5(key) fall below the stratum's threshold — an
independently re-derivable rule (the DuckDB oracle re-implements it from
the same spec), embarrassingly parallel, no shuffle at all.

Granularity: thresholds quantize rates to 1/65536 — sampling error ≤0.01%
of the stratum, documented rather than hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def rate_threshold_hex(rate: float) -> str:
    """The md5-prefix threshold encoding a keep-rate (shared with oracles)."""
    q = max(0, min(65536, int(rate * 65536)))
    return format(q, "04x")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    A row survives iff ``substring(md5(key), 1, 4) < threshold(stratum)``
    — stable under repartitioning, resumable, and exactly reproducible by
    any engine that can compute md5. Pure projection+filter: no shuffle,
    full codegen, scales linearly.
    """
    sel = F.substring(F.md5(F.col(key_col).cast("string")), 1, 4)
    thr = F.lit(rate_threshold_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(rate_threshold_hex(rate))
        ).otherwise(thr)
    return df.filter(sel < thr)


def top_tokens(
    docs: DataFrame,
    k: int = 5,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` most frequent whitespace tokens per group (vocabulary
    audit), deterministic ties (count desc, token asc).

    Plan: explode → partial+final hash agg on (group, token) → ONE window
    whose literal ``rk <= k`` filter Catalyst turns into a map-side partial
    WindowGroupLimit (same trick as the politeness admission window) — the
    post-agg exchange carries at most k·n_map_partitions rows per group,
    so a skewed vocabulary (stopword-heavy language) cannot flood the
    window task. The explode factor is corpus token count — inherent to
    the statistic; the aggregation is where the volume collapses.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    tok = docs.select(F.col(group_col).alias("grp"), F.explode(F.split(norm, " ")).alias("token"))
    counts = tok.groupBy("grp", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.lit(int(k)))
        .withColumnRenamed("grp", group_col)
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 100,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row draws u = hash-uniform(key) in
    (0, 1] and the k rows with the LARGEST u^(1/w) — equivalently the
    smallest -ln(u)/w, the form computed here (one ln, one divide) — are
    the sample. Inclusion probability is proportional to weight, and the
    draw is a pure function of the ROW (same reasoning as
    stratified_sample: df.sample's per-partition seeding would change the
    selection under repartitioning; this never does).

    Output: (key, weight, es_key) for the k winners, es_key rounded to 9
    decimals for display (selection uses the unrounded value).

    Plan shape: projection + global top-k, which Spark executes as
    TakeOrderedAndProject — per-partition heaps of size k, then a k-sized
    merge on the driver; no sort, no exchange of the full table. At any
    corpus size the moving data is partitions × k rows.
    """
    # 60-bit md5 prefix -> uniform in (0, 1]; +1 keeps ln() finite at 0
    u = (
        (F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
         .cast("double") + 1.0)
        / F.lit(float(1 << 60))
    )
    es = -F.log(u) / F.col(weight_col).cast("double")
    ranked = df.select(
        F.col(key_col).alias("key"),
        F.col(weight_col).cast("double").alias("weight"),
        es.alias("_es"),
    )
    return (
        ranked.orderBy(F.col("_es").asc(), F.col("key").asc())
        .limit(k)
        .select("key", "weight", F.round("_es", 9).alias("es_key"))
    )


def kcenter_sample(
    embeddings: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Greedy k-center (farthest-point) diversity sampling — the coreset /
    curriculum primitive: pick the lowest-id vector, then repeatedly the
    point FARTHEST from the chosen set (2-approximation of the k-center
    optimum, Gonzalez 1985). Deterministic: L2 distances rounded before the
    argmax, ties broken by lowest id.

    Distributed shape: the chosen set is tiny (k vectors, broadcast as
    literals); each round is one full scan updating a running min-distance
    column plus a distributed top-1 (TakeOrdered reduce — no single-task
    sort). k scans total, so k is the cost knob; the corpus never shuffles.
    The k-1 driver-side single-row collects are the documented exception to
    the no-collect rule (each is one row, the next pick).

    Returns the k picks: (vec_id, pick, dist) — ``dist`` = distance to the
    previously-chosen set at selection time (0.0 for the seed pick).
    """
    from pyspark.sql import functions as F

    def l2(vec_lit):
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    vec_lit,
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
        )

    e = embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    seed = e.orderBy("vid").limit(1).collect()[0]
    picks = [(seed.vid, 0, 0.0)]
    seed_lit = F.array(*[F.lit(float(x)) for x in seed.v])
    cur = e.filter(F.col("vid") != seed.vid).withColumn(
        "md", F.round(l2(seed_lit), round_digits)
    )
    for t in range(1, k):
        far = cur.orderBy(F.desc("md"), F.asc("vid")).limit(1).collect()[0]
        picks.append((far.vid, t, float(far.md)))
        if t == k - 1:
            break
        far_lit = F.array(*[F.lit(float(x)) for x in far.v])
        cur = cur.filter(F.col("vid") != far.vid).withColumn(
            "md", F.least(F.col("md"), F.round(l2(far_lit), round_digits))
        )
        # truncate lineage each round: without this the round-t plan
        # re-evaluates every earlier round's distance column (O(k^2) work
        # and an O(k)-deep plan at large k)
        cur = cur.localCheckpoint()
    spark = embeddings.sparkSession
    return spark.createDataFrame(picks, f"{id_col} long, pick int, dist double")


def mixture_plan(
    source_tokens: DataFrame,
    targets: DataFrame,
    token_budget: int,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    weight_col: str = "target_share",
) -> DataFrame:
    """Turn target mixture weights into per-source sampling rates/repeats.

    The bookkeeping between "we want 30% web / 20% code / ..." and an
    actual sampler (the DoReMi/Pile-style mixture table): each source owes
    ``want = floor(target_share * token_budget)`` tokens. A source with
    more than that samples DOWN (``sample_rate < 1``, repeat 1); a source
    with less repeats — ``repeat_factor = ceil(want / have)`` epochs with
    the last epoch partial. Emits both knobs plus the realized token count
    so the caller can audit |realized - want| before committing a run.

    Integer-exact except sample_rate (rounded to 6 dp, shared with the
    oracle). Returns (source, n_tokens, target_share, want_tokens,
    sample_rate, repeat_factor).

    Scale notes: per-source cardinality input (comes out of token_budget's
    or quality_score's aggregates) joined to a hand-sized targets dim —
    broadcast join, zero shuffles, pure codegen arithmetic. The heavy
    lifting (counting tokens) already happened upstream.
    """
    # RIGHT join from the targets dim: a target share whose source has no
    # token row (typo, empty source, upstream filter) must SURFACE in the
    # plan as n_tokens=0 / rate 0 / repeat 0 — an inner join would silently
    # commit a mixture that sums to less than the budget
    j = source_tokens.join(
        F.broadcast(targets), on=source_col, how="right"
    ).select(
        source_col,
        F.coalesce(F.col(tokens_col).cast("long"), F.lit(0)).alias("n_tokens"),
        F.col(weight_col).cast("double").alias("target_share"),
        F.floor(F.col(weight_col) * F.lit(int(token_budget)))
        .cast("long")
        .alias("want_tokens"),
    )
    missing = F.col("n_tokens") == 0
    rate = F.when(missing, F.lit(0.0)).otherwise(
        F.round(
            F.least(
                F.lit(1.0),
                F.col("want_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)),
            ),
            6,
        )
    )
    # integer ceil — (a + b - 1) DIV b — no float boundary for the oracle;
    # repeat 0 for a missing source: there is nothing to repeat, and the
    # zero makes the gap visible in the caller's |realized - want| audit
    repeat = (
        F.when(missing, F.lit(0))
        .when(F.col("want_tokens") <= F.col("n_tokens"), F.lit(1))
        .otherwise(
            F.expr(
                "(want_tokens + greatest(n_tokens, 1) - 1) DIV greatest(n_tokens, 1)"
            )
        )
    )
    return j.select(
        source_col,
        "n_tokens",
        "target_share",
        "want_tokens",
        rate.alias("sample_rate"),
        repeat.cast("long").alias("repeat_factor"),
    )


def curriculum_order(
    docs: DataFrame,
    n_buckets: int = 8,
    doc_col: str = "doc_id",
    difficulty_col: str = "difficulty",
) -> DataFrame:
    """Curriculum training order: easy-to-hard bucket progression with a
    deterministic within-bucket shuffle — the ordering a curriculum /
    length-warmup training run feeds its data loader.

    Buckets are VALUE-equidistant over the observed difficulty range
    (min/max from a broadcast 1-row agg): ``bucket = floor(n_buckets *
    (d - min) / (max - min + 1))`` — rank-balanced binning would need the
    global sort this operator exists to avoid. Within a bucket, order is
    ``(md5(doc_id), doc_id)`` — a deterministic shuffle, identical under
    any partitioning. The global position is ``bucket_base +
    pos_in_bucket`` where the bases come from a buckets-sized cumulative
    rollup — so NO corpus-sized global window exists in the plan: the
    only corpus exchange is the hash partition on ``bucket``
    (n_buckets-way; callers wanting more write-parallelism pick a larger
    n_buckets, which is also the curriculum granularity knob).

    Returns ``(doc_id, difficulty, bucket, position)`` with ``position``
    a gap-free 1-based total order.

    ``difficulty_col`` must be an integral type (tinyint..bigint); any
    other type raises ``TypeError`` rather than being truncated to a
    long. The check reads the schema only and runs no job.
    """
    dtype = docs.schema[difficulty_col].dataType
    if not isinstance(dtype, IntegralType):
        raise TypeError(
            f"curriculum_order: {difficulty_col!r} is {dtype.simpleString()}, "
            "not an integral type; round or bin fractional scores first"
        )
    d = F.col(difficulty_col).cast("long")
    src = docs.select(F.col(doc_col).alias("doc_id"), d.alias("difficulty"))
    rng = src.agg(
        F.min("difficulty").alias("_mn"), F.max("difficulty").alias("_mx")
    )
    bucketed = src.crossJoin(F.broadcast(rng)).select(
        "doc_id",
        "difficulty",
        F.floor(
            F.lit(n_buckets)
            * (F.col("difficulty") - F.col("_mn"))
            / (F.col("_mx") - F.col("_mn") + 1)
        ).cast("int").alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    pos = bucketed.withColumn("_p", F.row_number().over(w))
    sizes = pos.groupBy("bucket").agg(F.count("*").alias("_n"))
    bases = sizes.select(
        "bucket",
        (
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("_base"),
    )
    return pos.join(F.broadcast(bases), "bucket").select(
        "doc_id",
        "difficulty",
        "bucket",
        (F.col("_base") + F.col("_p")).cast("long").alias("position"),
    )
